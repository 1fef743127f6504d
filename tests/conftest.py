import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from semadb_spark import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="semadb-tests", cpus=8, driver_memory="8g")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _write_fake_packed(path: str, *, cents: int = 1, n: int = 500,
                       d: int = 16, degree: int = 4, with_codes: bool = False,
                       seed: int = 7) -> dict:
    """Write a packed artifact (hive `cent=` partitions, one shard row per
    cent) in the exact layout vamana_pack persists and
    `_local_decoded_cents` decodes: vecs/indptr/indices as raw buffers,
    ids as list<string>, shard name `{cent}_0`."""
    rng = np.random.RandomState(seed)
    truth = {}
    for c in range(cents):
        X = rng.normal(size=(n, d)).astype(np.float32)
        indptr = np.arange(n + 1, dtype=np.int32) * degree
        indices = rng.randint(0, n, size=n * degree).astype(np.int32)
        ids = [f"p{c}_{i:06d}" for i in range(n)]
        row = {
            "shard": f"{c}_0",
            "n": n,
            "ids": ids,
            "vecs": X.tobytes(),
            "indptr": indptr.tobytes(),
            "indices": indices.tobytes(),
            "start": 0,
        }
        fields = [
            pa.field("shard", pa.string()), pa.field("n", pa.int64()),
            pa.field("ids", pa.list_(pa.string())),
            pa.field("vecs", pa.binary()), pa.field("indptr", pa.binary()),
            pa.field("indices", pa.binary()), pa.field("start", pa.int64()),
        ]
        if with_codes:
            words = (d + 63) // 64
            codes = rng.randint(0, 256, size=(n, words * 8)).astype(np.uint8)
            row["codes"] = codes.tobytes()
            row["code_words"] = words
            fields += [pa.field("codes", pa.binary()),
                       pa.field("code_words", pa.int64())]
            truth.setdefault(c, {})["codes"] = codes
        tbl = pa.table(
            {k: [row[k]] for k in [f.name for f in fields]},
            schema=pa.schema(fields),
        )
        part = os.path.join(path, f"cent={c}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(tbl, os.path.join(part, "part-0.parquet"))
        truth.setdefault(c, {}).update(X=X, indptr=indptr, indices=indices,
                                       ids=ids)
    return truth


@pytest.fixture
def write_fake_packed():
    """Spark-free packed Vamana artifact writer, see :func:`_write_fake_packed`."""
    return _write_fake_packed
