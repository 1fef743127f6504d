"""Timed phases shared by the serve and ingest_rw workloads.

Each phase times calls into the public ``Collection`` / pool API only,
counts every call and every output check as an op, and leaves its raw
samples on the returned object for the workload to summarise.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen

now = time.perf_counter


class Reads:
    """Latency samples (ms) of one read phase, and the vector-only requests'
    results for the recall check."""

    def __init__(self):
        self.lat: list[float] = []
        self.vector_hits: list[tuple[list[float], list[str]]] = []


def _ids(frame) -> list[str]:
    return [str(x) for x in frame["_id"]]


def read_loop(run, coll, requests, seconds: float, label: str,
              out: Reads | None = None) -> Reads:
    """One client, closed loop: ``Collection.search(req, route="auto")``
    back to back for ``seconds``, stopping only at the end of a round of
    six shapes so the shapes keep equal shares. ``requests`` may be an
    iterator shared by several calls; samples add to ``out``."""
    out = Reads() if out is None else out
    deadline = now() + seconds
    for i, (shape, req) in enumerate(requests):
        if i and i % len(gen.SHAPES) == 0 and now() >= deadline:
            break
        run.tag(f"{label}-{len(out.lat)}", shape=shape)
        t = now()
        try:
            frame = coll.search(req, route="auto")
            ok, what = frame is not None and len(frame) <= req["limit"], "bad result"
        except Exception as e:  # noqa: BLE001 - every failure is a failed op
            frame, ok, what = None, False, repr(e)[:300]
        out.lat.append((now() - t) * 1e3)
        run.op(ok, f"{label} {shape}: {what}")
        if frame is not None and shape == "vector":
            vec = req["query"]["vectorVamana"]["vector"]
            out.vector_hits.append((vec, _ids(frame)))
    else:
        # requests that fail fast can use up the list before the deadline
        run.op(False, f"{label}: request list ran out before {seconds}s")
    run.tag(None)
    return out


def recall_at10(corpus, hits) -> list[float]:
    """Per-request recall@10 against the NumPy exact top 10."""
    out = []
    for vec, ids in hits:
        truth = gen.exact_top10(corpus.vectors, corpus.ids, vec)
        out.append(len(set(truth) & set(ids[:10])) / 10.0)
    return out


class PoolRun:
    """Samples of the pool phases: closed-loop round trips and time spent,
    open-loop latencies and how late the generator sent each request."""

    def __init__(self):
        self.rtt: list[float] = []
        self.sent: list[dict] = []
        self.closed_s = 0.0
        self.open_lat: list[float] = []
        self.send_lag: list[float] = []

    @property
    def qps(self) -> float:
        return len(self.rtt) / self.closed_s if self.closed_s else 0.0


def _pool_search(pool, req) -> tuple[bool, str]:
    """One ``pool.search``: whether its result is a frame of at most
    ``limit`` rows, and what went wrong if not."""
    try:
        frame = pool.search(req)
    except Exception as e:  # noqa: BLE001 - every failure is a failed op
        return False, repr(e)[:300]
    return frame is not None and len(frame) <= req["limit"], "bad result"


def pool_closed(run, pool, requests, seconds: float, clients: int,
                out: PoolRun | None = None) -> PoolRun:
    """``clients`` threads, each a closed loop of ``pool.search`` for
    ``seconds`` or until ``requests`` run out: the pool's saturation
    throughput."""
    out = PoolRun() if out is None else out
    it = iter(requests)
    lock = threading.Lock()
    deadline = now() + seconds
    results: list[tuple[bool, str, float, dict]] = []

    def client():
        while now() < deadline:
            with lock:
                try:
                    _, req = next(it)
                except StopIteration:
                    return
            t = now()
            ok, what = _pool_search(pool, req)
            ms = (now() - t) * 1e3
            with lock:
                results.append((ok, what, ms, req))

    t0 = now()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    out.closed_s += now() - t0
    for ok, what, ms, req in results:
        run.op(ok, f"pool closed loop: {what}")
        out.rtt.append(ms)
        out.sent.append(req)
    return out


# The arrival process is one fixed Poisson sample path, the same for every
# seed: the seed varies the data and the requests, and the open-loop tail
# does not also vary with where the seed happened to put bursts.
ARRIVALS = 20240601


def pool_open(run, pool, requests, seconds: float, rate: float,
              out: PoolRun) -> None:
    """Open loop: requests leave on a Poisson schedule at ``rate`` req/s,
    whatever the pool's progress; each latency is timed from the request's
    scheduled send time, so queueing behind a slow pool is counted."""
    rng = np.random.default_rng(ARRIVALS)
    gaps = rng.exponential(1.0 / rate, size=int(rate * seconds * 2) + 16)
    sched = np.cumsum(gaps)
    sched = sched[sched < seconds]
    lat: list[float] = []
    oks: list[tuple[bool, str]] = []
    lock = threading.Lock()

    def one(req, due):
        ok = _pool_search(pool, req)
        ms = (now() - due) * 1e3
        with lock:
            lat.append(ms)
            oks.append(ok)

    it = iter(requests)
    with ThreadPoolExecutor(max_workers=32) as ex:
        t0 = now()
        for off in sched:
            due = t0 + float(off)
            wait = due - now()
            if wait > 0:
                time.sleep(wait)
            try:
                _, req = next(it)
            except StopIteration:
                run.op(False, "pool open loop: request list ran out")
                break
            out.send_lag.append((now() - due) * 1e3)
            ex.submit(one, req, due)
    for ok, what in oks:
        run.op(ok, f"pool open loop: {what}")
    out.open_lat.extend(lat)


def serve_mix(run, coll, pool, reads, pool_reqs, seconds: float,
              clients: int, rate: float, rounds: int = 6):
    """The timed serving phases, interleaved: ``rounds`` times one client
    on ``route="auto"`` (40% of the round), the pool closed loop (30%) and
    the pool open loop (30%). Spreading each phase over the whole window,
    not one block of it, averages out the host's speed changing from one
    few-second stretch to the next (a fixed pure-Python loop on an idle
    4-vCPU guest read 20 and 33 ms four seconds apart)."""
    reads, pool_reqs = iter(reads), iter(pool_reqs)
    r, p = Reads(), PoolRun()
    step = seconds / rounds
    for _ in range(rounds):
        with run.phase("read"):
            read_loop(run, coll, reads, 0.4 * step, "read", r)
        with run.phase("pool"):
            pool_closed(run, pool, pool_reqs, 0.3 * step, clients, p)
            pool_open(run, pool, pool_reqs, 0.3 * step, rate, p)
    return r, p


class Cycle:
    """One maintenance cycle's inputs, generated from the seed."""

    def __init__(self, run, corpus, k: int, live: list[str]):
        rng = np.random.default_rng([corpus.seed, 3, k])
        picks = rng.choice(len(live), size=150, replace=False)
        self.k = k
        self.update_ids = sorted(live[i] for i in picks[:100])
        self.delete_ids = sorted(live[i] for i in picks[100:])
        self.marker = 1000 + k
        self.token = f"uq{corpus.seed}c{k}"
        self.insert_ids = [f"c{k:02d}n{i:03d}" for i in range(100)]
        self.updates_path = run.path(f"cycle{k}_updates.parquet")
        self.inserts_path = run.path(f"cycle{k}_inserts.parquet")
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({
            "_id": pa.array(self.update_ids, pa.string()),
            "n": pa.array([self.marker] * 100, pa.int64()),
        }), self.updates_path)
        bodies, vecs = [], []
        for i in range(100):
            terms = rng.choice(corpus.vocab, size=corpus.doc_len, p=corpus.term_p)
            bodies.append(" ".join([self.token] + [corpus.words[t] for t in terms]))
            c = corpus.centers[int(rng.integers(0, len(corpus.centers)))]
            vecs.append((c + rng.normal(0.0, 0.35, size=gen.DIM)).tolist())
        pq.write_table(pa.table({
            "_id": pa.array(self.insert_ids, pa.string()),
            "body": pa.array(bodies, pa.string()),
            "lang": pa.array([gen.LANGS[int(x)] for x in rng.integers(0, 8, 100)]),
            "n": pa.array(rng.integers(0, 1000, 100).astype(np.int64)),
            "v": pa.array(vecs, pa.list_(pa.float64())),
        }), self.inserts_path)

    def next_live(self, live: list[str]) -> list[str]:
        gone = set(self.delete_ids)
        return [i for i in live if i not in gone] + self.insert_ids


class CycleResult:
    def __init__(self):
        self.write_ms: dict[str, float] = {}
        self.stale_ms = 0.0
        self.fresh_ms = 0.0


def read_your_writes(run, coll, cyc: Cycle) -> None:
    """Updated values visible, deleted ids gone, inserted docs findable by
    the cycle's unique token — each through ``route="auto"``."""
    upd = coll.search({"query": {"property": "n", "integer": {
        "operator": "inRange", "value": cyc.marker, "endValue": cyc.marker}},
        "limit": 100}, route="auto")
    run.op(sorted(_ids(upd)) == cyc.update_ids,
           f"cycle {cyc.k}: updated rows not visible")
    gone = coll.search({"query": {"property": "_id", "stringArray": {
        "operator": "containsAny", "value": cyc.delete_ids}},
        "limit": 100}, route="auto")
    run.op(len(gone) == 0, f"cycle {cyc.k}: deleted ids still served")
    ins = coll.search({"query": {"property": "body", "text": {
        "operator": "containsAny", "value": cyc.token, "limit": 75}},
        "limit": 75}, route="auto")
    got = _ids(ins)
    run.op(len(got) == 75 and set(got) <= set(cyc.insert_ids),
           f"cycle {cyc.k}: inserted docs not findable")


def maintain(run, coll, cyc: Cycle, stale_request: dict) -> CycleResult:
    """update 100, insert 100, delete 50; one ``route="auto"`` read in the
    stale window; refresh both indexes; read-your-writes."""
    spark = coll.spark
    res = CycleResult()
    run.tag(f"cycle{cyc.k}")
    t0 = now()
    for name, call in (
        ("update", lambda: coll.update(spark.read.parquet(cyc.updates_path))),
        ("insert_small", lambda: coll.insert(spark.read.parquet(cyc.inserts_path))),
        ("delete", lambda: coll.delete(list(cyc.delete_ids))),
    ):
        with run.group(name) as g:
            got = call()
        res.write_ms[name] = g.dt * 1e3
        if name == "update":
            run.op(sorted(got) == cyc.update_ids, f"cycle {cyc.k}: update ids")
        elif name == "delete":
            run.op(sorted(got) == cyc.delete_ids, f"cycle {cyc.k}: delete ids")
        else:
            run.op(got == 100, f"cycle {cyc.k}: insert count")
    with run.group("stale_read") as g:
        frame = coll.search(stale_request, route="auto")
    res.stale_ms = g.dt * 1e3
    run.op(frame is not None and len(frame) <= stale_request["limit"],
           f"cycle {cyc.k}: stale read")
    with run.group("refresh_text"):
        coll.refresh_text_index("body")
    with run.group("refresh_vector"):
        coll.refresh_vector_index("v")
    read_your_writes(run, coll, cyc)
    res.fresh_ms = (now() - t0) * 1e3
    run.tag(None)
    return res


def parity_sample(run, coll, requests) -> None:
    """Compare ``route="auto"`` against ``route="spark"`` id for id."""
    run.tag("parity")
    for shape, req in requests:
        got = _ids(coll.search(req, route="auto"))
        with run.group("parity"):
            want = _ids(coll.search(req, route="spark").toPandas())
        run.op(want == got, f"parity {shape}: auto != spark")
    run.tag(None)
