"""One sweep over the registered queries that writes the per-query artifacts.

One session and one warm-up run; then each query, once per pass inside
``session.query_scope``, is built and planned (``executedPlan().toString()``),
both timed, and run by the actions its artifacts need.  Flags pick them:

- ``--correctness PATH``: ``CORRECTNESS_LOCAL_r{N}.json``, the driver's record
  per query (``toPandas()`` against the DuckDB oracle) and ``left``;
- ``--plan-audit PATH``: PLAN_AUDIT.md, the operator counts of each plan;
- ``--times PATH``: build plus noop sink per query (``times``, the shape
  ``tools/bench_compare.py`` gates) and ``phases`` (build, plan and exec
  seconds, and the Spark jobs of the build and of the noop sink, each run
  under its own job group);
- ``--explain DIR``: ``DIR/<query>.txt``, the formatted physical plan with
  its expression ids (``#12``), plan ids (``plan_id=3``) and RDD ids
  (``MapPartitionsRDD[93]``, a checkpointed scan) masked, so the files of
  two sweeps diff directly.

``--passes N`` keeps each phase's minimum of N runs; the rest, job counts
included, comes from the first.  Exit code 1 on any Spark, DuckDB or oracle failure, or when the
session holds cached relations or persistent RDDs at the end.

Usage: python tools/census.py SF_DIR [--only q1,q2] [--passes N]
           [--correctness PATH] [--plan-audit PATH] [--times PATH] [--explain DIR]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import sys
import time

import duckdb
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
PHASES = ("build_s", "plan_s", "exec_s")
#: the Spark jobs of the build and of the noop sink, next to PHASES
JOB_PHASES = ("build_jobs", "exec_jobs")
#: the session-dependent ids of explain text that ``--explain`` masks
IDS = re.compile(r"(#|plan_id=|RDD\[)\d+")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # unify list-likes to tuples so they sort/compare
        if df[c].map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if problems:
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    n_bad = 0
    first_bad = None
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            xnull, ynull = pd.isna(x) if not isinstance(x, tuple) else False, (
                pd.isna(y) if not isinstance(y, tuple) else False
            )
            if xnull and ynull:
                continue
            if xnull != ynull or not values_equal(x, y):
                n_bad += 1
                if first_bad is None:
                    first_bad = (c, i, x, y)
    if n_bad:
        c, i, x, y = first_bad
        problems.append(f"{n_bad} value mismatches; first at col={c} row={i}: spark={x!r} duck={y!r}")
    return problems


def audit_row(name: str, plan: str) -> dict:
    """Operator counts of one ``executedPlan().toString()``."""
    return {
        "name": name,
        "keyed_exchanges": plan.count("Exchange hashpartitioning"),
        "range_exchanges": plan.count("Exchange rangepartitioning"),
        "single_partition": plan.count("Exchange SinglePartition"),
        "broadcasts": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "window_group_limit": plan.count("WindowGroupLimit"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "pushed_filters": any(f"PushedFilters: [{c}" in plan for c in "IGLE"),
        # python-boundary operators: rows leave whole-stage codegen.
        # Arrow-batched forms (pandas UDF / mapInPandas) are the
        # sanctioned slow path; BatchEvalPython (row-at-a-time UDF)
        # must stay 0 everywhere.
        "arrow_python": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "row_python": plan.count("BatchEvalPython"),
    }


def render_audit(rows: list[dict]) -> str:
    out = [
        "# PLAN_AUDIT — physical-plan inventory of every declared query",
        "",
        "Generated by `tools/census.py --plan-audit` at sf0.001 (plan SHAPE is",
        "scale-independent; AQE may merge exchanges at runtime).  Columns:",
        "keyed/range exchanges = shuffles; 1-part = Exchange SinglePartition",
        "stages (acceptable only for final single-row aggregates and the two",
        "documented semantics oracles); bcast = broadcast joins; cart =",
        "CartesianProduct (must be 0 everywhere); WGL/TOP = window-group-limit",
        "and take-ordered optimizations; push = filters reached the scan;",
        "pyA = Arrow-batched python operators (pandas UDF / mapInPandas,",
        "the sanctioned slow path); pyR = row-at-a-time BatchEvalPython",
        "(must be 0 everywhere).",
        "",
        "Counting caveat: queries that read an eager checkpoint (the",
        "co-occurrence family's capped basket table, the shared shingle,",
        "pair and score tables, the LSH and k-core inputs) show neither the",
        "checkpointed subtree nor its scan: the checkpoint already ran during",
        "the build, so `push` can go blank and the counts cover only the",
        "plan above it.  Judge execution cost by QUERY_TIMES / BENCH, not by",
        "these textual counts for checkpointing queries.",
        "",
        "| query | keyed | range | 1-part | bcast | cart | SMJ | WGL | TOP | push | pyA | pyR |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for r in sorted(rows, key=lambda r: r["name"]):
        if "error" in r:
            out.append(f"| {r['name']} | ERROR: {r['error']} |||||||||||")
            continue
        out.append(
            "| {name} | {keyed_exchanges} | {range_exchanges} | "
            "{single_partition} | {broadcasts} | {cartesian} | "
            "{sort_merge_joins} | {window_group_limit} | {take_ordered} | "
            "{push} | {arrow_python} | {row_python} |".format(
                push="yes" if r["pushed_filters"] else "", **r
            )
        )
    totals = [r for r in rows if "error" not in r]
    out += [
        "",
        f"**{len(totals)} queries audited; "
        f"{sum(1 for r in totals if r['cartesian'])} with cartesian products; "
        f"{sum(1 for r in totals if r['single_partition'])} with single-partition "
        "stages (global aggregates + the documented NTILE semantics oracle); "
        f"{sum(1 for r in totals if r['arrow_python'])} touching an Arrow-batched "
        "python operator; "
        f"{sum(1 for r in totals if r['row_python'])} with row-at-a-time python "
        "UDFs.**",
        "",
    ]
    return "\n".join(out)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write(path: str, content: str | dict) -> None:
    with open(path, "w") as f:
        f.write(content if isinstance(content, str) else
                json.dumps(content, indent=2, sort_keys=True))
    print(f"wrote {path}")


def _check(name: str, rec: dict, sdf: pd.DataFrame, oracle_sql: str | None, con) -> str | None:
    """Fill one correctness record from the Spark result; the failure, if
    any."""
    rec["spark_rows"] = len(sdf)
    if oracle_sql is None:
        # the driver's weaker rows-only record: the query ran and produced
        # a frame, but no oracle comparison exists
        rec.update(rows_match=True, schema_match=None, hash_match=None)
        return None
    try:
        ddf = con.execute(oracle_sql).df()
    except Exception as e:  # noqa: BLE001
        rec["err"] = f"duckdb {type(e).__name__}: {e}"
        return rec["err"]
    problems = compare(name, sdf, ddf)
    rec.update(oracle_rows=len(ddf), rows_match=len(sdf) == len(ddf),
               schema_match=sorted(sdf.columns) == sorted(ddf.columns),
               hash_match=not problems)
    if problems:
        rec["err"] = "; ".join(problems)
    return rec["err"]


def sweep(spark, sf_dir: str, names: list[str] | None = None, *,
          correctness: str | None = None, audit: str | None = None,
          times: str | None = None, explain: str | None = None,
          passes: int = 1) -> int:
    """Run ``names`` (every registered query when None) and write the
    chosen artifacts; the exit code."""
    from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES
    from lvm_datapipe_spark.session import held_storage, jobs_of, query_scope

    con = None
    if correctness:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    if explain:
        os.makedirs(explain, exist_ok=True)
    with query_scope(spark):
        _noop(QUERIES["q1_pricing_summary"](spark, sf_dir))

    records, audits, totals, phases, failed = {}, [], {}, {}, []
    for name in names or list(QUERIES):
        rec = records[name] = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None}
        best = row = jobs = None
        try:
            for _ in range(passes):
                with query_scope(spark):
                    t0 = time.perf_counter()
                    df, build_jobs = jobs_of(spark, lambda: QUERIES[name](spark, sf_dir))
                    t1 = time.perf_counter()
                    qe = df._jdf.queryExecution()
                    plan = qe.executedPlan().toString()
                    t2 = time.perf_counter()
                    exec_jobs = jobs_of(spark, lambda: _noop(df))[1] if times else 0
                    t3 = time.perf_counter()
                    if row is None:
                        jobs = (build_jobs, exec_jobs)
                        row = audit_row(name, plan)
                        if explain:
                            with open(os.path.join(explain, f"{name}.txt"), "w") as f:
                                text = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
                                f.write(IDS.sub(r"\1N", text))
                        if correctness:
                            sdf = df.toPandas()
                run = (t1 - t0, t2 - t1, t3 - t2)
                best = run if best is None else tuple(map(min, best, run))
        except Exception as e:  # noqa: BLE001
            err = rec["err"] = f"spark {type(e).__name__}: {e}"
            totals[name] = f"ERR {type(e).__name__}: {e}"
        else:
            err = _check(name, rec, sdf, ORACLE_SQL.get(name), con) if correctness else None
            phases[name] = dict(zip(PHASES, (round(v, 3) for v in best)),
                                **dict(zip(JOB_PHASES, jobs)))
            totals[name] = round(best[0] + best[2], 2)
        audits.append(row or {"name": name, "error": rec["err"][:80]})
        if err:
            failed.append(name)
            print(f"FAIL {name}: {err}", flush=True)
        else:
            rows = f", {rec['spark_rows']} rows" if correctness else ""
            print(f"OK   {name}: {phases[name]}{rows}", flush=True)

    if con is not None:
        con.close()
    n_cached, rdds = held_storage(spark)
    left = {"cached_relations": n_cached, "persistent_rdds": len(rdds)}
    print(f"left in the session: {n_cached} cached relations, {len(rdds)} persistent RDDs")
    if correctness:
        _write(correctness, {"sf_dir": sf_dir, "queries": records, "left": left})
    if audit:
        _write(audit, render_audit(audits))
    if times:
        _write(times, {"sf_dir": sf_dir, "times": totals, "phases": phases})
    print(f"{len(records)} queries, {len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed or n_cached or rdds else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--only", help="comma-separated query names (default: all)")
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--correctness", metavar="PATH")
    ap.add_argument("--plan-audit", dest="audit", metavar="PATH")
    ap.add_argument("--times", metavar="PATH")
    ap.add_argument("--explain", metavar="DIR")
    args = ap.parse_args()

    from lvm_datapipe_spark.session import get_spark

    extra = {}
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        extra["spark.local.dir"] = "/dev/shm/spark-census-local"
    spark = get_spark("query-census", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return sweep(spark, args.sf_dir, args.only.split(",") if args.only else None,
                 correctness=args.correctness, audit=args.audit,
                 times=args.times, explain=args.explain, passes=args.passes)


if __name__ == "__main__":
    sys.exit(main())
