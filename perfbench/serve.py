"""serve: read-only point reads over a built collection.

Set-up starts Spark, generates the corpus, builds the collection with its
text and IVF indexes, and compares a sample of requests id for id between
``route="auto"`` and ``route="spark"``. It then stops Spark, reopens the
collection filesystem-only and spawns the serving pool. The timed phases,
interleaved in rounds, are one client on ``Collection.search(route="auto")``,
the pool at saturation (closed loop) and the pool under a Poisson open
loop. Vector-only results are checked against NumPy exact top-10s.
"""

from __future__ import annotations

import gen
import phases
import workload as W

ROWS = 10_000
# fixed open-loop rate, about a third of the pool's saturation throughput
# (210-290 req/s measured). At 120 req/s, 60% of it, a busier host pushed
# the pool to two thirds of its capacity, and queueing moved the open-loop
# p95 by 75% between two sets of runs.
OPEN_RATE = 80.0
PARITY_SAMPLE = 2


def run(run) -> None:
    spark, corpus = W.start(run, ROWS)
    coll = W.build(run, spark, vamana=False)
    workers = max(1, run.cores - 1)
    with run.phase("setup"):
        # the shapes sampled are the first of a shuffled round: they vary
        # with the seed
        phases.parity_sample(run, coll,
                             gen.Requests(corpus, 7).mixed(6)[:PARITY_SAMPLE])
        coll = W.local_only(run, coll)
        reads = gen.Requests(corpus, 0).mixed(6000)
        pool_reqs = gen.Requests(corpus, 1).mixed(8000)
        pool = coll.open_search_pool(workers=workers)
        run.closers.append(pool.close)
        # each worker's first request opens its engine: part of set-up
        phases.pool_closed(run, pool, gen.Requests(corpus, 9).mixed(4 * workers),
                           60.0, workers)
        W.warm(run, coll, gen.Requests(corpus, 8).mixed(12))
    run.end_setup()

    r, p = phases.serve_mix(run, coll, pool, reads, pool_reqs, run.seconds,
                            workers, OPEN_RATE)
    pool.close()
    if run.trace:
        W.trace_overhead(run, coll, gen.Requests(corpus, 6).mixed(120))
        W.pool_overhead(run, coll, p)
    with run.phase("check"):
        recall = W.vector_recall(run, corpus, r.vector_hits)
    W.summarise_reads(run, r)
    W.summarise_pool(run, p)
    run.metric("recall_at10", recall, "ratio")
    W.finish(run)
