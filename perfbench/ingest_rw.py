"""ingest_rw: bulk ingest and index build, then writes beside reads.

Set-up starts Spark and generates the corpus and every cycle's DML inputs.
The build (create, bulk insert, text, IVF and Vamana indexes) is timed as
``build_s`` and checked by graph recall. Each maintenance cycle runs
update 100 / insert 100 / delete 50, one ``route="auto"`` read in the
stale window, both index refreshes and a read-your-writes check. After the
row count is checked, Spark stops and the collection is reopened
filesystem-only and the serving pool is rotated onto the final snapshot:
post-refresh reads and the pool's closed and open loops follow, interleaved
in rounds as in serve.
"""

from __future__ import annotations

import gen
import phases
import workload as W

ROWS = 1_000
CYCLES = 1
GRAPH_QUERIES = 10
# fixed open-loop rate, about a third of the pool's saturation throughput
# (210-290 req/s measured). At 120 req/s, 60% of it, a busier host pushed
# the pool to two thirds of its capacity, and queueing moved the open-loop
# p95 by 75% between two sets of runs.
OPEN_RATE = 80.0


def run(run) -> None:
    spark, corpus = W.start(run, ROWS)
    workers = max(1, run.cores - 1)
    with run.phase("setup"):
        cycles, live = [], list(corpus.ids)
        for k in range(CYCLES):
            cycles.append(phases.Cycle(run, corpus, k, live))
            live = cycles[-1].next_live(live)
        reads = gen.Requests(corpus, 0).mixed(6000)
        pool_reqs = gen.Requests(corpus, 1).mixed(8000)
        probe = gen.Requests(corpus, 2)
        graph_reqs = [probe.make("vector") for _ in range(GRAPH_QUERIES)]
        stale = [probe.make("text_vector") for _ in range(CYCLES)]
    run.end_setup()

    coll = W.build(run, spark, vamana=True)
    with run.phase("check"):
        hits = []
        run.tag("graph")
        for req in graph_reqs:
            frame = coll.search_local(req, vector_mode="graph")
            hits.append((req["query"]["vectorVamana"]["vector"],
                         [str(x) for x in frame["_id"]]))
        run.tag(None)
        recall = W.vector_recall(run, corpus, hits)

    results = []
    for cyc in cycles:
        with run.phase("maintain"):
            results.append(phases.maintain(run, coll, cyc, stale[cyc.k]))
    with run.phase("check"):
        run.op(coll.count() == ROWS + CYCLES * 50, "row count after the cycles")
        coll = W.local_only(run, coll)
    with run.phase("pool"):
        pool = coll.open_search_pool(workers=workers)
        run.closers.append(pool.close)
        phases.pool_closed(run, pool, gen.Requests(corpus, 9).mixed(4 * workers),
                           60.0, workers)
    with run.phase("read"):
        W.warm(run, coll, gen.Requests(corpus, 8).mixed(12))
    r, p = phases.serve_mix(run, coll, pool, reads, pool_reqs, run.seconds,
                            workers, OPEN_RATE)
    pool.close()
    if run.trace:
        W.trace_overhead(run, coll, gen.Requests(corpus, 6).mixed(120))
        W.pool_overhead(run, coll, p)
    W.summarise_reads(run, r)
    W.summarise_pool(run, p)
    W.summarise_cycles(run, results)
    run.metric("recall_at10", recall, "ratio")
    W.finish(run)
