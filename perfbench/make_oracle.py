"""Recompute ``oracle.json``: each benchmark query's ``oracle_sql()``
result on ``data/`` in DuckDB, stored as row count, column names and
order-insensitive value hash (see ``check.py``).

    python3 perfbench/make_oracle.py

Run it again only when ``data/`` or the query list in ``workloads.py``
changes; the benchmark reads the stored file and never runs DuckDB.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from check import summarize  # noqa: E402
from workloads import DATA_DIR, ORACLE_PATH, QUERIES  # noqa: E402

from etl_geonet_quakes_spark.queries import SPECS  # noqa: E402


def main() -> None:
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA_DIR)):
        if f.endswith(".parquet"):
            path = os.path.join(DATA_DIR, f)
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    oracle = {}
    for name in sorted(QUERIES):
        t0 = time.perf_counter()
        res = con.sql(SPECS[name].oracle)
        oracle[name] = summarize(list(res.columns), res.fetchall())
        print(f"{name}: {oracle[name]['rows']} rows, {time.perf_counter() - t0:.1f} s", flush=True)
    with open(ORACLE_PATH, "w", encoding="utf-8") as fh:
        json.dump(oracle, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
