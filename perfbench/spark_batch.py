"""spark_batch: the 50 gates of ``__spark_entry__.queries()``.

Needs ``--sf DIR``: the sf tables the gates read (TESTDATA.md), which are
not part of the checkout. The seed only permutes the gate order.

Set-up starts Spark and runs one cold pass that collects every gate's
result and checks its row count, columns and order-insensitive digest
(``tools/oracle_check.frame_digest``) against the DuckDB-derived digests in
``expected_<sf>.json``. A mismatch or an error is a failed op; no gate is
skipped. Each timed pass then runs every gate with a ``noop`` write, which
evaluates every projected column and moves no rows to the Spark driver
(``.count()`` would let Catalyst prune projected columns). ``batch_warm_s``
is the sum over gates of each gate's median warm time.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

from run import HERE, percentile

FAMILIES = {
    "filters": ("filter_string_equals", "filter_string_not_equals",
                "filter_starts_with", "filter_int_range", "filter_bool_compose",
                "filter_str_array_contains", "filter_id_contains_any",
                "filter_nested_path", "filter_case_fold", "sort_missing_last",
                "shaping_sort_page"),
    "vector": ("knn_filtered", "knn_batch", "ann_ivf_topk", "ann_ivf_recall",
               "ann_lsh_topk", "ann_vamana_recall", "vamana_graph_route_recall",
               "bq_hamming_topk", "bq_rerank_recall", "pq_recall",
               "quantized_bq_serving", "quantized_autofit_serving",
               "knn_metrics", "knn_geo_bits"),
    "text_hybrid": ("hybrid_and", "hybrid_or", "text_tfidf"),
    "dedup": ("dedup_exact", "dedup_substring", "dedup_simhash",
              "dedup_components", "dedup_ngram_jaccard", "embed_neardup"),
    "textstats": ("lang_id_counts", "quality_scores", "token_count_by_source",
                  "fingerprint_docs", "repetition_signals", "pii_scrub",
                  "text_cleaning_suite"),
    "web": ("warc_ingest", "web_provenance"),
    "analytics": ("agg_events_rollup", "mixture_sample", "profiling_suite",
                  "temporal_suite"),
    "packing": ("pack_sequences",),
    "multimodal": ("multimodal_image_meta",),
    "dml": ("dml_update_merge",),
}
FAMILY_OF = {g: f for f, gates in FAMILIES.items() for g in gates}


def noop(df) -> None:
    """Evaluate every column of ``df`` and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def run(run) -> None:
    sf = run.args.sf
    if not sf or not os.path.isdir(sf):
        raise SystemExit("spark_batch needs --sf DIR with the sf tables")
    name = os.path.basename(os.path.normpath(sf))
    with open(os.path.join(HERE, f"expected_{name}.json")) as f:
        expected = json.load(f)["gates"]
    import __spark_entry__ as entry
    from tools.oracle_check import frame_digest

    with run.phase("setup"):
        spark = run.start_spark()
        gates = entry.queries()
        missing = sorted(set(gates) - set(FAMILY_OF))
        if missing:
            raise SystemExit(f"gates without a family: {missing}")
        order = list(gates)
        np.random.default_rng([run.seed, 5]).shuffle(order)
        for gate in order:
            try:
                with run.group(FAMILY_OF[gate]):
                    df = gates[gate](spark, sf)
                    cols = df.columns
                    rows = [tuple(r) for r in df.collect()]
                want = expected.get(gate)
                ok = want is not None and (
                    len(rows) == want["rows"]
                    and sorted(cols) == want["cols"]
                    and frame_digest(cols, rows) == want["digest"]
                )
                run.op(ok, f"{gate}: result differs from the DuckDB digest")
            except Exception as e:  # noqa: BLE001 - an erroring gate fails
                run.op(False, f"{gate}: {e!r}"[:300])
        run.extra["gates_failed"] = f"{run.failed}/{len(order)}"
    run.end_setup()

    with run.phase("read"):
        times: dict[str, list[float]] = {g: [] for g in order}
        deadline = time.perf_counter() + run.seconds
        passes = 0
        while passes == 0 or time.perf_counter() < deadline:
            for gate in order:
                try:
                    with run.group(FAMILY_OF[gate]) as g:
                        noop(gates[gate](spark, sf))
                    times[gate].append(g.dt)
                    run.op(True)
                except Exception as e:  # noqa: BLE001
                    run.op(False, f"{gate} warm: {e!r}"[:300])
            passes += 1
    warm = {g: percentile(t, 50) for g, t in times.items() if t}
    run.metric("batch_warm_s", sum(warm.values()), "s")
    run.metric("passes", passes, "count")
    run.sampler.sample()
    run.metric("peak_rss_mb", run.sampler.peak / 2**20, "MB")
    for fam, members in FAMILIES.items():
        run.layer(f"batch.{fam}.warm_s", sum(warm.get(g, 0.0) for g in members), "s")
    if run.trace:
        import eventlog
        import layers

        run.stop_spark()
        groups = eventlog.parse(run.path("events"))
        layers.spark_metrics(run, {k: v for k, v in groups.items() if k in FAMILIES},
                             names=list(FAMILIES))
        layers.process_metrics(run, phases=("setup", "read"))
