"""Record the expected answers of the benchmark's queries.

Runs each query's DuckDB ``ORACLE_SQL`` over the bundled tables in
``perfbench/data/sf0.01`` and stores the result as
``perfbench/oracle/<name>.parquet``.  The benchmark compares every query's
Spark result with these files, so a later change to the oracle SQL cannot
move the answer the benchmark expects.  Re-run only when the bundled data
or the query list changes:

    python3 perfbench/record_oracle.py
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from checks import compare  # noqa: E402
from workloads import MEASURE_SF, ORACLE_DIR, QUERIES, TABLES  # noqa: E402


def main() -> int:
    from lvm_datapipe_spark.queries import ORACLE_SQL

    con = duckdb.connect()
    con.execute("SET threads = 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{MEASURE_SF}/{t}.parquet'")
    os.makedirs(ORACLE_DIR, exist_ok=True)
    bad = 0
    for name in sorted(QUERIES):
        want = con.execute(ORACLE_SQL[name]).df()
        path = os.path.join(ORACLE_DIR, f"{name}.parquet")
        want.to_parquet(path, index=False)
        problem = compare(pd.read_parquet(path), want)
        bad += problem is not None
        print(f"{'OK  ' if problem is None else 'FAIL'} {name}: {len(want)} rows"
              + (f" ({problem})" if problem else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
