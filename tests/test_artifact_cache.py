"""Artifact-fingerprint cache shared by the driver-local point-read tiers
(``operators/_artifact.py``): rebuilds after an idle gap, thread churn,
a failed refresh thread, and many readers racing one lapsed entry.

Spark-free: the posting and packed-graph artifacts are written with pyarrow
in the layouts ``text_serve_local`` and ``vamana_serve_local`` read, so the
file runs in seconds. Cache entries are aged by advancing the monotonic
clock the cache reads (``time.monotonic``), never by sleeping.
"""

from __future__ import annotations

import gc
import multiprocessing
import os
import shutil
import threading
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from semadb_spark.functions.analyzer import tokenize_py
from semadb_spark.functions.hashing import md5_hash64_py
from semadb_spark.operators.text_search import TERM_BUCKETS, text_serve_local
from semadb_spark.operators.vamana import vamana_serve_local

DEFAULT_TTL = 1.0  # text_serve_local / vamana_serve_local default fp_ttl_sec

DOCS_V1 = {
    "d0": "gandalf the grey wizard walks the shire",
    "d1": "a red shoe and a blue shoe",
    "d2": "the wizard gandalf lights his pipe",
    "d3": "hobbits eat second breakfast in the shire",
    "d4": "blue wizards travel east beyond the sea",
    "d5": "spark shuffles data between executors",
}
DOCS_V2 = {
    **DOCS_V1,
    "d0": "saruman the white wizard guards the tower",
    "d2": "gandalf returns as the white rider",
    "d6": "gandalf gandalf wizard of the shire",
}


def _write_postings(path: str, docs: dict[str, str]) -> int:
    """Write a term-bucket partitioned posting artifact (``term_bucket=b``
    directories, rows sorted by term so row groups carry term min/max
    statistics) with the columns ``build_text_index`` persists. Returns
    num_docs."""
    postings = []
    df = Counter()
    for doc_id, text in docs.items():
        toks = tokenize_py(text)
        tf = Counter(toks)
        df.update(tf.keys())
        postings += [(doc_id, t, n, len(toks)) for t, n in tf.items()]
    by_bucket: dict[int, list] = {}
    for doc_id, t, n, dl in postings:
        by_bucket.setdefault(md5_hash64_py(t) % TERM_BUCKETS, []).append(
            (t, doc_id, n, dl, df[t])
        )
    for b, rows in by_bucket.items():
        rows.sort()
        part = os.path.join(path, f"term_bucket={b}")
        os.makedirs(part)
        pq.write_table(
            pa.table({
                "id": [r[1] for r in rows],
                "term": [r[0] for r in rows],
                "tf": pa.array([r[2] for r in rows], pa.int64()),
                "doc_len": pa.array([r[3] for r in rows], pa.int64()),
                "df": pa.array([r[4] for r in rows], pa.int64()),
            }),
            os.path.join(part, "part-0.parquet"),
        )
    open(os.path.join(path, "_SUCCESS"), "w").close()
    return len(docs)


def _rewrite(path: str, write) -> None:
    """Replace the artifact at ``path`` the way an overwrite rebuild does:
    the old files are deleted and new ones written under the same names.
    The ``_SUCCESS`` mtime is pushed a second ahead so the listing digest
    changes even within one mtime tick."""
    shutil.rmtree(path)
    write(path)
    ok = os.path.join(path, "_SUCCESS")
    if not os.path.exists(ok):
        open(ok, "w").close()
    ns = os.stat(ok).st_mtime_ns + 1_000_000_000
    os.utime(ok, ns=(ns, ns))


@pytest.fixture
def advance_clock(monkeypatch):
    """Advance ``time.monotonic`` by a number of seconds; ages every cached
    fingerprint entry without sleeping."""
    real = time.monotonic
    offset = [0.0]
    monkeypatch.setattr(time, "monotonic", lambda: real() + offset[0])

    def advance(sec: float) -> None:
        offset[0] += sec

    return advance


def _text_hits(path: str, query: str, num_docs: int,
               ttl: float | None = None) -> list[dict]:
    return text_serve_local(
        path, query, "containsAny", limit=10, num_docs=num_docs,
        fp_ttl_sec=ttl,
    ).to_dict("records")


def test_text_rebuild_after_idle_gap_is_served(tmp_path, advance_clock):
    """A posting artifact rebuilt while its cache entry ages past the hard
    cap (10 × ttl): the next serve walks the listing synchronously and
    returns the new postings, not the old ones."""
    path, fresh = str(tmp_path / "postings"), str(tmp_path / "fresh")
    n1 = _write_postings(path, DOCS_V1)
    old = _text_hits(path, "gandalf wizard", n1)
    n2 = _write_postings(fresh, DOCS_V2)
    want = _text_hits(fresh, "gandalf wizard", n2)
    assert want != old
    _rewrite(path, lambda p: _write_postings(p, DOCS_V2))
    advance_clock(11 * DEFAULT_TTL)
    assert _text_hits(path, "gandalf wizard", n2) == want


def _graph_hits(path: str, q: np.ndarray) -> list[tuple[str, float]]:
    return vamana_serve_local(
        path, q, 5, search_size=20, centroids=np.zeros((1, len(q)))
    )


def test_graph_rebuild_after_idle_gap_is_served(
    tmp_path, advance_clock, write_fake_packed
):
    """The packed-graph twin: a rebuild while the entry ages past the cap
    re-decodes the artifact on the next serve instead of beaming over the
    old decoded shards."""
    path, fresh = str(tmp_path / "packed"), str(tmp_path / "fresh")
    q = np.random.RandomState(3).normal(size=8)
    write_fake_packed(path, n=200, d=8, seed=7)
    old = _graph_hits(path, q)
    write_fake_packed(fresh, n=200, d=8, seed=8)
    want = _graph_hits(fresh, q)
    assert want != old
    _rewrite(path, lambda p: write_fake_packed(p, n=200, d=8, seed=8))
    advance_clock(11 * DEFAULT_TTL)
    assert _graph_hits(path, q) == want


def _open_fds() -> int:
    return len(os.listdir("/proc/self/fd"))


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"),
                    reason="needs /proc/self/fd to count open files")
def test_text_handles_close_with_their_threads(tmp_path):
    """Per-thread ParquetFile handles die with their thread: 100 short-lived
    serving threads (alive together, so each is a distinct thread) leave
    the open-fd count where it was, and each got the sequential answer."""
    path = str(tmp_path / "postings")
    n = _write_postings(path, DOCS_V1)
    n_files = sum(len(fs) for _, _, fs in os.walk(path)) - 1  # minus _SUCCESS
    assert n_files >= 10
    want = _text_hits(path, "gandalf shoe", n)
    gc.collect()
    before = _open_fds()

    start = threading.Barrier(100)
    got: list = []

    def serve() -> None:
        start.wait(timeout=30)
        got.append(_text_hits(path, "gandalf shoe", n))

    threads = [threading.Thread(target=serve) for _ in range(100)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert got == [want] * 100
    gc.collect()
    assert _open_fds() - before <= 4


def test_failed_refresh_thread_does_not_wedge_the_path(
    tmp_path, advance_clock, monkeypatch
):
    """If the background refresh thread cannot start during a TTL lapse,
    the error reaches the caller and a later lapse still refreshes — the
    path is not left marked in flight forever. A 60 s ttl keeps the entry
    far below the hard age cap while the test polls, so only the
    background refresh can pick up the rebuild."""
    ttl = 60.0
    path, fresh = str(tmp_path / "postings"), str(tmp_path / "fresh")
    n1 = _write_postings(path, DOCS_V1)
    _text_hits(path, "gandalf wizard", n1, ttl)
    n2 = _write_postings(fresh, DOCS_V2)
    want = _text_hits(fresh, "gandalf wizard", n2, ttl)
    _rewrite(path, lambda p: _write_postings(p, DOCS_V2))

    real_start = threading.Thread.start
    failures = [1]

    def start_once_fails(self):
        if failures:
            failures.pop()
            raise RuntimeError("can't start new thread")
        real_start(self)

    monkeypatch.setattr(threading.Thread, "start", start_once_fails)
    advance_clock(2 * ttl)  # lapsed, well under the 10 × ttl cap
    with pytest.raises(RuntimeError, match="can't start new thread"):
        _text_hits(path, "gandalf wizard", n2, ttl)
    deadline = time.perf_counter() + 10
    while _text_hits(path, "gandalf wizard", n2, ttl) != want:
        assert time.perf_counter() < deadline, "lapsed entry never refreshed"
        time.sleep(0.01)


def test_racing_readers_spawn_one_walk(tmp_path, advance_clock, monkeypatch):
    """Many readers hitting one lapsed entry at once start exactly one
    background walk and all get the cached fingerprint meanwhile."""
    import sys

    from semadb_spark.operators import _artifact

    path = str(tmp_path / "artifact")
    os.makedirs(path)
    open(os.path.join(path, "part-0"), "w").close()
    fp = _artifact.cached_fingerprint(path, DEFAULT_TTL)

    real_fingerprint = _artifact.fingerprint
    calls = []
    release = threading.Event()

    def counting_fingerprint(p):
        calls.append(p)
        release.wait(timeout=30)  # hold the walk open while readers race
        return real_fingerprint(p)

    monkeypatch.setattr(_artifact, "fingerprint", counting_fingerprint)
    advance_clock(2 * DEFAULT_TTL)
    n = 32
    start = threading.Barrier(n)
    seen: list[int] = []

    def read() -> None:
        start.wait(timeout=30)
        for _ in range(50):
            seen.append(_artifact.cached_fingerprint(path, DEFAULT_TTL))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=read) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
        release.set()
    assert seen == [fp] * (n * 50)
    deadline = time.perf_counter() + 10
    while path in _artifact._REFRESHING:
        assert time.perf_counter() < deadline, "refresh never finished"
        time.sleep(0.01)
    assert calls == [path]


def _fork_child_probe(path, q):
    from semadb_spark.operators import _artifact

    q.put((path in _artifact._REFRESHING, _artifact._LOCK.acquire(timeout=5)))


def test_fork_child_starts_with_no_refresh_in_flight(tmp_path):
    """A process forked while a parent thread holds the cache lock, with a
    refresh in flight, gets a free lock and no path marked in flight (the
    refresh thread did not survive the fork)."""
    from semadb_spark.operators import _artifact

    path = str(tmp_path / "artifact")
    ctx = multiprocessing.get_context("fork")
    q = ctx.Queue()
    with _artifact._LOCK:
        _artifact._REFRESHING.add(path)
        p = ctx.Process(target=_fork_child_probe, args=(path, q))
        p.start()
    try:
        assert q.get(timeout=30) == (False, True)
    finally:
        p.join(timeout=30)
        with _artifact._LOCK:
            _artifact._REFRESHING.discard(path)
    assert not p.is_alive()
