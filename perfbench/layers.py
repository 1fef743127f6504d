"""Traced runs: which public functions get timing wrappers, and how the
recorded spans and the Spark event log turn into per-layer metrics."""

from __future__ import annotations

from gen import SHAPES
from run import percentile
from spans import Tracer, by_name, has_ancestor, self_times

# every per-layer Spark job group, in the order the workloads run them
GROUPS = ("build_insert", "build_text", "build_vector", "build_vamana",
          "update", "insert_small", "delete", "stale_read", "refresh_text",
          "refresh_vector", "parity")
PHASES = ("setup", "build", "read", "pool", "maintain", "check")
# maintenance-cycle latencies (workload.summarise_cycles); 0 on serve
CYCLE = ("write_p50_ms", "fresh_p50_ms", "stale_read_ms_p50")


def install(tracer: Tracer) -> None:
    """Wrap the public functions each layer is measured by. ``local_engine``
    imports its leg functions inside its methods, so wrapping the module
    attributes reaches those calls too."""
    try:  # Spark 4 runs the classic DataFrame's own toPandas
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    from semadb_spark import collection
    from semadb_spark.functions import distances
    from semadb_spark.operators import text_search
    from semadb_spark.plans import compiler, local_engine

    coll = collection.Collection
    for attr in ("insert", "update", "delete", "build_text_index",
                 "build_vector_index", "build_vamana_index",
                 "refresh_text_index", "refresh_vector_index"):
        tracer.wrap(coll, attr, f"collection.{attr}")
    tracer.wrap(coll, "search", "collection.search",
                attrs_of=lambda a, k: {"route": k.get("route", a[2] if len(a) > 2 else "spark")})
    tracer.wrap(compiler.SearchEngine, "search", "compiler.plan")
    tracer.wrap(DataFrame, "toPandas", "compiler.exec")
    lse = local_engine.LocalSearchEngine
    tracer.wrap(lse, "__init__", "local_engine.open")
    tracer.wrap(lse, "search", "local_engine.search")
    tracer.wrap(lse, "compile", "local_engine.compile", outermost=True)
    tracer.wrap(text_search, "text_serve_local", "text_search.serve_local")
    tracer.wrap(distances, "numpy_distance_matrix", "distances.matrix",
                attrs_of=lambda a, k: {"rows": int(len(a[1]))})


def _ms(spans) -> list[float]:
    return [s.dur * 1e3 for s in spans]


def span_metrics(run) -> None:
    spans = run.tracer.spans
    index = {s.sid: s for s in spans}
    L = run.layer

    def of(name, build=None):
        out = by_name(spans, f"collection.{name}")
        if build is True:
            out = [s for s in out if s.req == "build"]
        elif build is False:
            out = [s for s in out if s.req != "build"]
        return out

    L("collection.insert_s", sum(s.dur for s in of("insert", True)), "s")
    for attr in ("build_text_index", "build_vector_index", "build_vamana_index"):
        L(f"collection.{attr}_s", sum(s.dur for s in of(attr)), "s")
    L("collection.update_ms_p50", percentile(_ms(of("update", False)), 50), "ms")
    L("collection.insert_small_ms_p50", percentile(_ms(of("insert", False)), 50), "ms")
    L("collection.delete_ms_p50", percentile(_ms(of("delete", False)), 50), "ms")
    for attr in ("refresh_text_index", "refresh_vector_index"):
        L(f"collection.{attr}_s", percentile([s.dur for s in of(attr)], 50), "s")

    plans = by_name(spans, "compiler.plan")
    fallbacks = []
    for p in plans:
        outer = has_ancestor(p, index, "collection.search")
        if outer is not None and (outer.attrs or {}).get("route") == "auto":
            fallbacks.append((outer.end - p.start) * 1e3)
    L("collection.auto_fallbacks", len(fallbacks), "count")
    L("collection.fallback_ms_p50", percentile(fallbacks, 50), "ms")

    opens = by_name(spans, "local_engine.open")
    L("local_engine.opens", len(opens), "count")
    L("local_engine.open_ms_p50", percentile(_ms(opens), 50), "ms")
    searches = by_name(spans, "local_engine.search")
    selfs = self_times(spans)
    L("local_engine.search_ms_p50", percentile(_ms(searches), 50), "ms")
    L("local_engine.compile_ms_p50",
      percentile(_ms(by_name(spans, "local_engine.compile")), 50), "ms")
    L("local_engine.shape_ms_p50",
      percentile([selfs[s.sid] * 1e3 for s in searches], 50), "ms")
    for shape in SHAPES:
        mine = [s for s in searches if (s.attrs or {}).get("shape") == shape]
        L(f"local_engine.search_ms_p50.{shape}", percentile(_ms(mine), 50), "ms")

    texts = by_name(spans, "text_search.serve_local")
    L("text_search.serve_local_calls", len(texts), "count")
    L("text_search.serve_local_ms_p50", percentile(_ms(texts), 50), "ms")
    L("text_search.serve_local_ms_total", sum(_ms(texts)), "ms")
    dist = by_name(spans, "distances.matrix")
    L("distances.calls", len(dist), "count")
    L("distances.rows_scored", sum((s.attrs or {}).get("rows", 0) for s in dist), "count")
    L("distances.ms_total", sum(_ms(dist)), "ms")

    L("compiler.plan_ms_p50", percentile(_ms(plans), 50), "ms")
    # toPandas actions of the Spark route: a fallback's (inside an auto
    # search) and the parity sample's
    execs = [s for s in by_name(spans, "compiler.exec")
             if s.req == "parity"
             or has_ancestor(s, index, "collection.search") is not None]
    L("compiler.exec_ms_p50", percentile(_ms(execs), 50), "ms")
    for name in CYCLE:
        run.layers.setdefault(f"ingest.{name}", (0.0, "ms"))


def spark_metrics(run, groups: dict, names=GROUPS) -> None:
    """``groups``: ``eventlog.parse`` output. One metric set per group in
    ``names``; a group the workload did not run reads 0."""
    from eventlog import busy_ratio

    for name in names:
        g = groups.get(name)
        wall = run.group_wall.get(name, 0.0)
        if g is None:
            g = {"jobs": 0, "task_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_mb": 0.0}
        run.layer(f"spark.{name}.jobs", g["jobs"], "count")
        run.layer(f"spark.{name}.task_cpu_s", g["task_cpu_s"], "s")
        run.layer(f"spark.{name}.shuffle_mb", g["shuffle_mb"], "MB")
        run.layer(f"spark.{name}.busy_ratio", busy_ratio(g, wall, run.cores), "ratio")


def process_metrics(run, phases=PHASES) -> None:
    s = run.sampler
    for phase in phases:
        run.layer(f"process.cpu_s.{phase}", s.phase_cpu.get(phase, 0.0), "s")
        run.layer(f"process.rss_mb.{phase}", s.phase_peak.get(phase, 0) / 2**20, "MB")
