"""Set-up, build and summary steps the serve and ingest_rw workloads share."""

from __future__ import annotations

import numpy as np

import gen
import layers
import phases
from run import percentile
from spans import Tracer

now = phases.now


def start(run, rows: int):
    """Start Spark (with the tracer installed first in traced runs) and
    generate the corpus parquet."""
    if run.trace:
        run.tracer = Tracer()
        layers.install(run.tracer)
    with run.phase("setup"):
        spark = run.start_spark()
        corpus = gen.Corpus(run.seed, rows)
        corpus.write_parquet(run.path("corpus.parquet"))
    return spark, corpus


def build(run, spark, vamana: bool):
    """create + bulk insert + text index + IVF index (+ Vamana graph);
    reports ``build_s``."""
    from semadb_spark import Collection

    with run.phase("build"):
        run.tag("build")
        t = now()
        coll = Collection.create(spark, run.path("coll"), gen.index_schema())
        with run.group("build_insert"):
            coll.insert(spark.read.parquet(run.path("corpus.parquet")))
        with run.group("build_text"):
            coll.build_text_index("body")
        with run.group("build_vector"):
            coll.build_vector_index("v", nlist=64, seed=run.seed)
        if vamana:
            with run.group("build_vamana"):
                coll.build_vamana_index("v", seed=run.seed)
        run.metric("build_s", now() - t, "s")
        run.tag(None)
    return coll


def summarise_reads(run, reads: phases.Reads) -> None:
    """Tails are p95: with the 200-350 samples a phase takes in its share
    of --seconds 8, p99 would rest on the last 2-3 samples. The sample
    counts go to the provenance line."""
    run.metric("read_p50_ms", percentile(reads.lat, 50), "ms")
    run.metric("read_p95_ms", percentile(reads.lat, 95), "ms")
    run.extra["read_samples"] = len(reads.lat)


def summarise_pool(run, p: phases.PoolRun) -> None:
    """The open-loop latencies are per-layer metrics, not end-to-end ones:
    near the pool's capacity they swing with the host's speed (quartile
    spreads of 0.3-0.5 over ten runs while neighbours loaded the host)."""
    run.metric("pool_qps", p.qps, "req/s")
    run.layer("pool.rtt_ms_p50", percentile(p.rtt, 50), "ms")
    for q in (50, 95):
        value = percentile(p.open_lat, q)
        run.layer(f"pool.open_p{q}_ms", value, "ms")
        run.extra[f"pool_open_p{q}_ms"] = round(value, 3)
    run.extra["pool_closed_samples"] = len(p.rtt)
    run.extra["pool_open_samples"] = len(p.open_lat)
    run.extra["pool_open_send_lag_ms_max"] = round(max(p.send_lag, default=0.0), 3)


def summarise_cycles(run, results: list[phases.CycleResult]) -> None:
    """Write and freshness latency of the maintenance cycles. They go to
    the per-layer set and to the provenance line: every end-to-end metric
    must exist on every workload, and serve makes no writes."""
    writes = [ms for r in results for ms in r.write_ms.values()]
    stale = [r.stale_ms for r in results]
    got = {
        "write_p50_ms": percentile(writes, 50),
        "fresh_p50_ms": percentile([r.fresh_ms for r in results], 50),
        "stale_read_ms_p50": percentile(stale, 50),
    }
    for name, value in got.items():
        run.layer(f"ingest.{name}", value, "ms")
        run.extra[name] = round(value, 3)
    run.extra["cycles"] = len(results)


def trace_overhead(run, coll, requests, count: int = 120) -> None:
    """Tracing cost on the hot path: each of ``count`` fresh requests runs
    twice, once with the wrappers removed and once installed, the order
    alternating so cache warming favours neither side."""
    off, on = [], []
    for i, (shape, req) in enumerate(requests[:count]):
        for traced in ((False, True) if i % 2 == 0 else (True, False)):
            if not traced:
                run.tracer.uninstall()
            run.tag(f"overhead-{i}")
            t = now()
            coll.search(req, route="auto")
            (on if traced else off).append((now() - t) * 1e3)
            if not traced:
                layers.install(run.tracer)
    run.tag(None)
    a, b = percentile(off, 50), percentile(on, 50)
    run.layer("trace.read_p50_ms_off", a, "ms")
    run.layer("trace.read_p50_ms_on", b, "ms")
    diffs = [y - x for x, y in zip(off, on)]
    run.layer("trace.overhead_ms_p50", percentile(diffs, 50), "ms")


def pool_overhead(run, coll, p: phases.PoolRun, sample: int = 120) -> None:
    """Pool round trip minus the in-process search time of the same
    requests (dispatch, pickling and IPC), the in-process time taken with
    the wrappers removed and single-threaded BLAS, like a pool worker."""
    from semadb_spark.operators._pool import limit_blas_threads

    diffs = []
    run.tracer.uninstall()
    limit_blas_threads(1)  # as in the pool's workers
    for req, rtt in list(zip(p.sent, p.rtt))[:sample]:
        t = now()
        coll.search_local(req)
        diffs.append(rtt - (now() - t) * 1e3)
    limit_blas_threads(run.cores)
    layers.install(run.tracer)
    run.layer("pool.overhead_ms_p50", percentile(diffs, 50), "ms")


def local_only(run, coll):
    """Stop Spark and its JVM, and reopen the collection filesystem-only
    (``Collection.open_local``), the way a serving node runs. The timed
    serving phases then share the machine with no idle JVM, and a request
    that would fall back to Spark fails instead of hiding in the numbers."""
    from semadb_spark import Collection

    run.stop_spark()
    return Collection.open_local(coll.path)


def warm(run, coll, requests) -> None:
    """Lazy engine state (the snapshot's columns, vector matrix and posting
    row-group index) loads on the first requests; load it before timing."""
    for _, req in requests:
        run.op(coll.search(req, route="auto") is not None, "warm-up read")


def finish(run) -> None:
    """Peak memory, then (traced runs) turn spans and the event log into
    per-layer metrics."""
    peaks = run.sampler.phase_peak
    # the serving footprint: the benchmark process and the pool workers in
    # the read and pool phases. The JVM has stopped by then; its resident
    # size swings by a GB from run to run with off-heap use, so the
    # whole-run peak goes to the provenance line and the per-phase peaks
    # to the traced run.
    run.metric("peak_rss_mb", max(peaks["read"], peaks["pool"]) / 2**20, "MB")
    run.sampler.sample()
    run.extra["peak_rss_mb_run"] = round(run.sampler.peak / 2**20, 1)
    run.extra["peak_rss_mb_run_by_process"] = run.sampler.peak_breakdown()
    if not run.trace:
        return
    import eventlog

    run.stop_spark()
    run.tracer.uninstall()
    layers.span_metrics(run)
    layers.spark_metrics(run, eventlog.parse(run.path("events")))
    layers.process_metrics(run)
    if run.args.trace_out:
        run.tracer.dump(run.args.trace_out)


def vector_recall(run, corpus, hits, floor: float = 0.8) -> float:
    """Mean recall@10 over the run's vector-only requests. A mean below
    ``floor`` is one failed op: single IVF or graph requests may miss by
    design, but a mean that low means wrong vectors or a broken index (the
    runs measured while sizing the benchmark read 0.93-1.0)."""
    recalls = phases.recall_at10(corpus, hits)
    mean = float(np.mean(recalls)) if recalls else 0.0
    run.op(mean >= floor, f"mean vector recall@10 {mean:.3f} < {floor}")
    return mean
