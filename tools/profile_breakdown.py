"""Per-query cost breakdown: build vs plan vs execute (guide §1).

For each named query, measures:

- build_s: `QUERIES[name](spark, sf)` — Python DataFrame construction,
  including any eager driver work the query performs (CC/kcore rounds,
  persisted intermediates, metadata counts, streaming sub-jobs);
- plan_s: `.explain("formatted")` string generation on the built frame
  (analysis + optimization + physical planning, no execution);
- exec_s: the noop-sink write of the built frame (bench.py's measured
  action).

Two passes, min per phase, each run inside session.query_scope so it
frees what it cached (bench methodology).  Usage:

    python tools/profile_breakdown.py [sf_dir] q1 [q2 ...]
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from lvm_datapipe_spark.queries import QUERIES
    from lvm_datapipe_spark.session import get_spark, query_scope

    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args

    extra = {}
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        extra["spark.local.dir"] = "/dev/shm/spark-profile-local"
    spark = get_spark("profile-breakdown", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    with query_scope(spark):
        QUERIES["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    print(f"{'query':40s} {'build_s':>8s} {'plan_s':>8s} {'exec_s':>8s} {'total':>8s}")
    for name in names:
        best = None
        for _ in range(2):
            with query_scope(spark):
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
                t1 = time.perf_counter()
                df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t3 = time.perf_counter()
            row = (t1 - t0, t2 - t1, t3 - t2, t3 - t0)
            best = row if best is None else tuple(min(a, b) for a, b in zip(best, row))
        print(
            f"{name:40s} {best[0]:8.2f} {best[1]:8.2f} {best[2]:8.2f} {best[3]:8.2f}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
