"""Dump `.explain("formatted")` for named queries to plans/<round>/.

Usage: python tools/explain_queries.py <round_tag> <before|after> q1 [q2 ...]

Writes plans/<round_tag>/<query>_<suffix>.txt with the formatted physical
plan (the optimization rounds' evidence artifact: the judge checks plan
claims in OPTIMIZATION_r*.md against these files).

Queries that persist intermediates or run metadata actions during
construction execute those during the dump (unavoidable: the plan is a
property of the built DataFrame); sf defaults to the bench's sf0.1 so the
dumped plan is the one the bench measures (AQE initial plan).
"""

from __future__ import annotations

import os
import sys


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from lvm_datapipe_spark.queries import QUERIES
    from lvm_datapipe_spark.session import get_spark, query_scope

    round_tag, suffix, *names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        round_tag,
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("explain-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        with query_scope(spark):
            df = QUERIES[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange nodes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
