"""Artifact fingerprints: the one owner of "has this on-disk artifact changed?".

Both driver-local point-read tiers (text postings, packed Vamana graphs) key
their decoded caches on ``(path, fingerprint)``, so a rebuilt artifact is
re-opened instead of served stale — the reference's single shared decode
cache with one invalidation rule (shard/cache/manager.go:39-303).

Staleness contract of :func:`cached_fingerprint`:

- Under traffic, a rebuild is seen within about ``ttl`` plus one listing
  walk. Once an entry is ``ttl`` old, the reader that notices returns the
  last fingerprint and one daemon thread re-walks the listing
  (stale-while-revalidate), so the walk stays out of request latency.
- After an idle gap longer than 10 × ``ttl`` (``_AGE_CAP_TTLS``), the
  first read walks synchronously: an entry that old is never served.
- The first read of a path in a process walks synchronously.
"""

from __future__ import annotations

import os
import threading
import time
import zlib

_DEFAULT_TTL_SEC = 1.0
_AGE_CAP_TTLS = 10  # an entry older than this many ttls is re-walked in line

_LOCK = threading.Lock()  # guards _AT and _REFRESHING together
_AT: dict[str, tuple[float, int]] = {}  # path -> (observed at, fingerprint)
_REFRESHING: set[str] = set()  # paths with a background walk in flight


def fingerprint(path: str) -> int:
    """Digest of the artifact's file listing (relative name, size, mtime_ns
    per file). ANY mutation — an in-place ``write.mode("overwrite")``
    rebuild, a file added or replaced inside one partition directory, or a
    rewrite landing within the filesystem's mtime granularity for
    ``_SUCCESS`` — changes the digest. Costs one ``os.walk`` of the artifact
    (~1 ms for a 66-file posting index, ~100 ms for a 3000-file graph)."""
    h = 0
    try:
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for fn in sorted(files):
                try:
                    st = os.stat(os.path.join(root, fn))
                except OSError:
                    continue
                rel = os.path.relpath(os.path.join(root, fn), path)
                h = zlib.crc32(f"{rel}:{st.st_size}:{st.st_mtime_ns}".encode(), h)
    except OSError:
        return 0
    return h


def _store(path: str, observed_at: float, fp: int) -> None:
    """Record a walk's result unless a newer observation already landed.
    Caller holds ``_LOCK``."""
    cur = _AT.get(path)
    if cur is None or cur[0] <= observed_at:
        _AT[path] = (observed_at, fp)


def _walk(path: str) -> int:
    t0 = time.monotonic()
    fp = fingerprint(path)
    with _LOCK:
        _store(path, t0, fp)
    return fp


def _refresh(path: str) -> None:
    try:
        _walk(path)
    finally:
        with _LOCK:
            _REFRESHING.discard(path)


def cached_fingerprint(path: str, ttl: float | None = None) -> int:
    """:func:`fingerprint` of ``path``, cached under the module's staleness
    contract (see the module docstring); ``ttl`` defaults to 1 s. At most
    one background walk per path is in flight; if its thread cannot start,
    the error propagates and the next lapsed read tries again."""
    if ttl is None:
        ttl = _DEFAULT_TTL_SEC
    now = time.monotonic()
    with _LOCK:
        hit = _AT.get(path)
        if hit is not None and now - hit[0] < _AGE_CAP_TTLS * ttl:
            if now - hit[0] >= ttl and path not in _REFRESHING:
                # the thread discards the path under _LOCK, which is held
                # until the add below: a start() that raises leaves nothing
                # in flight, and a finished walk cannot discard too early
                threading.Thread(
                    target=_refresh, args=(path,), daemon=True,
                    name=f"fp-refresh:{path}",
                ).start()
                _REFRESHING.add(path)
            return hit[1]
    return _walk(path)


def _reset_in_fork_child() -> None:
    # the child inherits _LOCK in whatever state a parent thread held it,
    # and none of the parent's refresh threads: a path left in flight would
    # never be refreshed again
    global _LOCK
    _LOCK = threading.Lock()
    _REFRESHING.clear()


os.register_at_fork(after_in_child=_reset_in_fork_child)


def seed_fingerprint(path: str, fp: int) -> None:
    """Record ``fp`` as the fingerprint of ``path`` observed now — for a
    process that receives it from one that already walked the artifact
    (a pool worker attaching a shared-memory export)."""
    with _LOCK:
        _store(path, time.monotonic(), fp)
