"""Expected gate digests for the spark_batch workload, from DuckDB.

Runs every ``oracle_sql()`` statement of ``__spark_entry__`` on DuckDB over
the sf tables and writes each gate's row count, column names and
order-insensitive digest (``tools/oracle_check.frame_digest``)::

    python3 perfbench/expected.py --sf DIR --out perfbench/expected_sf0.1.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    import duckdb

    import __spark_entry__ as entry
    from tools.oracle_check import TABLES, frame_digest

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {}
    for name, sql in entry.oracle_sql().items():
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = rel.fetchall()
        out[name] = {"rows": len(rows), "cols": sorted(cols),
                     "digest": frame_digest(cols, rows)}
        print(f"{name}: {len(rows)} rows {out[name]['digest']}", flush=True)
    with open(args.out, "w") as f:
        json.dump({"sf": os.path.basename(os.path.normpath(args.sf)),
                   "gates": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
