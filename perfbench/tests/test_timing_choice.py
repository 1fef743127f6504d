"""Why spark_batch times each gate with a ``noop`` write, not ``.count()``.

``.count()`` only needs the row count, so Catalyst prunes every projected
column the count does not depend on: an expensive per-row expression or a
Python UDF in the select list is never evaluated. A ``noop`` write
evaluates every column and moves no rows to the Spark driver. These tests pin
that on a real gate (``fingerprint_docs``) over a small generated
``documents`` table, and on the same gate with a projected Python UDF.
"""

import os
import statistics
import time

import pytest

pyspark = pytest.importorskip("pyspark")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from spark_batch import noop  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from semadb_spark import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    s = get_spark(app_name="perfbench-tests", cpus=2, driver_memory="1g",
                  extra_conf={"spark.local.dir": str(tmp),
                              "spark.driver.extraJavaOptions":
                                  f"-Djava.io.tmpdir={tmp}"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen

    d = tmp_path_factory.mktemp("sf")
    rng = np.random.default_rng(7)
    words = [gen.term(i) for i in range(2000)]
    texts = [" ".join(words[t] for t in rng.integers(0, 2000, 60))
             for _ in range(20_000)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(20_000, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    }), os.path.join(d, "documents.parquet"))
    return str(d)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _median_time(fn, reps=3) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def _gate(spark, sf_dir):
    import __spark_entry__ as entry

    return entry.queries()["fingerprint_docs"](spark, sf_dir)


def test_count_prunes_the_projected_column(spark, sf_dir):
    df = _gate(spark, sf_dir)
    assert "md5" in _plan(df)
    assert "md5" not in _plan(df.groupBy().count())


def test_projected_python_udf_costs_more_under_noop(spark, sf_dir):
    calls = spark.sparkContext.accumulator(0)

    def slow_len(s):
        calls.add(1)
        return sum(1 for _ in s.split()) if s is not None else None

    udf = F.udf(slow_len, T.IntegerType())
    df = _gate(spark, sf_dir).withColumn("n_tok", udf(F.col("fp")))
    plan_count = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    plan_noop = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" in plan_noop
    assert "BatchEvalPython" not in plan_count

    noop(df)  # warm both paths once
    df.count()
    before = calls.value
    df.count()
    assert calls.value == before  # the UDF never ran under count()
    noop(df)
    assert calls.value - before == 20_000  # ...and ran once a row under noop

    t_count = _median_time(df.count)
    t_noop = _median_time(lambda: noop(df))
    assert t_noop > t_count, (t_noop, t_count)
