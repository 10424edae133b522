"""Time EVERY declared query once at a given sf dir (default sf0.1) — the
cost census that complements bench.py's frozen lists.

bench.py gates the frozen-19 + scale-12 against regressions, but a query
outside both lists can ship expensive and stay invisible: this round's
census found dedup_ppjoin_pairs at 33 s and graph_supplier_triangles at
40.8 s, neither ever timed before.  Run this once per round after the
surface settles; anything that jumps out of the distribution gets a
profile before it gets a pass.

Each query runs once into the JVM noop sink (same measured path as
bench.py) inside session.query_scope, which frees what the run cached or
checkpointed, so persisted intermediates cannot subsidize later plans.

Usage: python tools/time_all_queries.py [sf_dir] [--json PATH]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from lvm_datapipe_spark.queries import QUERIES
    from lvm_datapipe_spark.session import get_spark, query_scope

    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"

    extra = {}
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        extra["spark.local.dir"] = "/dev/shm/spark-census-local"
    spark = get_spark("query-cost-census", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")

    # one warm query so the first measured row doesn't pay JVM/codegen init
    with query_scope(spark):
        QUERIES["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    times: dict[str, object] = {}
    errs = 0
    for i, (name, fn) in enumerate(QUERIES.items()):
        try:
            with query_scope(spark):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times[name] = round(time.perf_counter() - t0, 2)
        except Exception as e:  # noqa: BLE001
            times[name] = f"ERR {type(e).__name__}: {e}"
            errs += 1
        if i % 25 == 24:
            print(f"{i + 1}/{len(QUERIES)}", flush=True)
        if json_path:
            with open(json_path, "w") as f:
                json.dump({"sf_dir": sf_dir, "times": times}, f, indent=2,
                          sort_keys=True)

    num = {k: v for k, v in times.items() if isinstance(v, float)}
    print(f"\n{len(num)} timed, {errs} errors, total {sum(num.values()):.1f}s")
    print("heaviest 15:")
    for k, v in sorted(num.items(), key=lambda x: -x[1])[:15]:
        print(f"  {v:8.2f}  {k}")
    if json_path:
        print(f"wrote {json_path}")
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
