"""Pipeline CLI — the reference's script-per-stage entry points
(``scripts/scenecut.sh``, ``scripts/aestheticscore.sh``, …) as one
command-line tool over Parquet snapshots:

    python -m lvm_datapipe_spark.cli scenecut --video-dir DIR --out SNAP
    python -m lvm_datapipe_spark.cli score --snapshot SNAP --out SNAP2 \
        --scorer aesthetic [--policy fractions] [--stride 10]
    python -m lvm_datapipe_spark.cli analyze --snapshot SNAP2
    python -m lvm_datapipe_spark.cli export-flat --snapshot SNAP2 --out DIR
    python -m lvm_datapipe_spark.cli curate --docs DOCS.parquet --out DIR

Each stage is idempotent and resumable: `score` re-runs only rows whose
score column is null (plans.pipeline.run_stage), exactly the reference's
done-marker semantics without marker files.

The clip bytes are written once.  `scenecut` writes the clip table, with
each clip's `content`, bucketed by `clip_id`; each `score` writes every
column but `content`, bucketed the same way, and joins the bytes back
from the clip table only for the rows it scores (a co-located merge join,
no Exchange).  A `_clips.json` spec in each snapshot directory records the
bucket count and the clip table's path, so the clip table must stay where
scenecut wrote it while later snapshots are in use.

Each stage prints one JSON status line.  The stages launch only the jobs
their output needs: every parquet input is read with its schema taken from
the footer on the driver (catalog.read_parquet), so reading it launches no
schema-inference job; `scenecut`, `score`, `export-flat`, `query --out` and
`tx-diff` take the row counts they print (`clips`, `scored`/`total`,
`rows`) from an Observation on their own write
(plans.pipeline.observed_stage) instead of re-reading the output; and
`analyze` computes its stats and histogram in one aggregate.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import read_parquet
from lvm_datapipe_spark.operators import media, scenecut
from lvm_datapipe_spark.plans import pipeline
from lvm_datapipe_spark.session import get_spark, query_scope
from lvm_datapipe_spark.sources.video import scan_video_dir


def _cmd_scenecut(spark, args) -> None:
    videos = scan_video_dir(spark, args.video_dir)
    clips = scenecut.scene_cut(videos, threshold=args.threshold).select(
        "video_id",
        "clip_id",
        "clip_index",
        "start_frame",
        "end_frame",
        "start_s",
        "end_s",
        "clip_duration",
        F.col("clip_content").alias("content"),
        "height",
        "width",
        "n_frames",
    )
    staged, obs = pipeline.observed_stage(clips, "scenecut")
    pipeline.write_clip_snapshot(staged, args.out)
    print(json.dumps({"stage": "scenecut", "clips": obs.get["n_rows"], "out": args.out}))


def _scored(spark, args):
    """The score stage's output and the spec of its input: the input's
    columns but ``content``, in the input's order, plus the score column.
    Only the rows still to score get their clip bytes, joined back from the
    clip table (pipeline.with_clip_bytes); scored rows pass through
    untouched."""
    snap, spec = pipeline.read_clip_snapshot(spark, args.snapshot)
    score_col = media.SCORERS[args.scorer][0]

    def scorer(df):
        sampled = media.with_sampled_frames(
            pipeline.with_clip_bytes(df, spec["clips"]),
            policy=args.policy, stride=args.stride,
        )
        return media.apply_scorer(sampled, args.scorer).select(*df.columns, score_col)

    return pipeline.run_stage(snap, scorer, score_col).drop("content"), spec


def _cmd_score(spark, args) -> None:
    out, spec = _scored(spark, args)
    score_col = media.SCORERS[args.scorer][0]
    staged, obs = pipeline.observed_stage(
        out, "score", F.count(score_col).alias("scored")
    )
    pipeline.write_clip_snapshot(staged, args.out, spec["buckets"], spec["clips"])
    counts = obs.get
    print(
        json.dumps(
            {"stage": "score", "scorer": args.scorer, "column": score_col,
             "scored": counts["scored"], "total": counts["n_rows"], "out": args.out}
        )
    )


def _cmd_analyze(spark, args) -> None:
    from lvm_datapipe_spark.operators import analyze

    snap = pipeline.read_snapshot(spark, args.snapshot)
    stats = analyze.duration_summary(snap).first().asDict()
    counts = {label: stats.pop(label) for label in analyze.DURATION_LABELS}
    hist = {label: n for label, n in counts.items() if n}
    print(json.dumps({"stage": "analyze", "stats": stats, "histogram": hist}))


def _cmd_curate(spark, args) -> None:
    """Text-corpus curation: exact dedup → token-floor quality gate →
    deterministic split, written as a split-partitioned parquet table (the
    batch form of the oracle-checked ``pipeline_curate`` query)."""
    from pyspark.sql import Window

    from lvm_datapipe_spark.operators import text as X
    from lvm_datapipe_spark.operators.sampling import split_assign
    from lvm_datapipe_spark.sources.sinks import write_partitioned

    docs = read_parquet(spark, args.docs)
    n_in = docs.count()
    fp = docs.withColumn("_f", X.fingerprint(args.text_col))
    w = Window.partitionBy("_f")
    kept = (
        fp.withColumn("_keeper", F.min(args.id_col).over(w))
        .filter(F.col(args.id_col) == F.col("_keeper"))
        .drop("_keeper", "_f")
    )
    gated = kept.withColumn("n_tokens", X.token_count(args.text_col)).filter(
        F.col("n_tokens") >= args.min_tokens
    )
    out = split_assign(
        gated, args.id_col, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    write_partitioned(out, args.out)
    result = read_parquet(spark, args.out)
    per_split = {r.split: r.n for r in result.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    print(
        json.dumps(
            {"stage": "curate", "in": n_in, "kept": result.count(),
             "splits": per_split, "out": args.out}
        )
    )


def _cmd_zorder(spark, args) -> None:
    """Rewrite a parquet table clustered along the (a, b) space-filling
    curve (Morton default, Hilbert via --curve) so min-max pruning works
    on both filter dimensions (plans/zorder.py)."""
    from lvm_datapipe_spark.plans.zorder import (
        write_hilbert,
        write_zordered,
        zorder_bucket,
    )

    df = read_parquet(spark, args.table)
    a_sql, b_sql = args.by
    stats = df.selectExpr(
        "count(*) AS n",
        f"min({a_sql}) AS alo", f"max({a_sql}) AS ahi",
        f"min({b_sql}) AS blo", f"max({b_sql}) AS bhi",
    ).first()
    writer = write_hilbert if args.curve == "hilbert" else write_zordered
    writer(
        df,
        args.out,
        zorder_bucket(a_sql, float(stats.alo), float(stats.ahi), args.bits),
        zorder_bucket(b_sql, float(stats.blo), float(stats.bhi), args.bits),
        bits=args.bits,
        n_files=args.files,
    )
    print(json.dumps({"stage": "zorder", "curve": args.curve, "rows": stats.n,
                      "by": args.by, "out": args.out}))


def _cmd_retention(spark, args) -> None:
    """Drop partitions older than the cutoff (sources/sinks.retention_sweep)."""
    from lvm_datapipe_spark.sources.sinks import retention_sweep

    dropped = retention_sweep(
        args.table, args.partition_col, args.keep_from, dry_run=args.dry_run
    )
    print(
        json.dumps(
            {"stage": "retention", "dropped": dropped, "dry_run": args.dry_run,
             "table": args.table}
        )
    )


def _cmd_dq(spark, args) -> None:
    """Data-quality gate over a parquet table (operators/validate.py):
    not-null + uniqueness checks from the command line, nonzero exit on
    violations so pipelines can gate on it."""
    from lvm_datapipe_spark.operators import validate as V

    df = read_parquet(spark, args.table)
    reports = []
    nn = {f"not_null_{c}": F.col(c).isNull() for c in (args.not_null or [])}
    if nn:
        reports.append(V.row_checks(df, nn))
    if args.unique:
        reports.append(V.unique_check(df, args.unique, "unique_" + "_".join(args.unique)))
    if not reports:
        raise SystemExit("dq: pass --not-null and/or --unique")
    rep = V.dq_union(*reports)
    rows = rep.collect()
    result = {r["check"]: r["violations"] for r in rows}
    bad = sum(result.values())
    print(json.dumps({"stage": "dq", "checks": result, "violations": int(bad)}))
    if bad:
        raise SystemExit(2)


def _cmd_profile(spark, args) -> None:
    """One-scan numeric profile of a parquet table (operators/analyze.py)."""
    from lvm_datapipe_spark.operators.analyze import profile_columns

    df = read_parquet(spark, args.table)
    cols = args.columns or [
        f.name for f in df.schema.fields
        if f.dataType.simpleString() in ("int", "bigint", "double", "float")
    ]
    rows = profile_columns(df, cols).collect()
    print(
        json.dumps(
            {
                "stage": "profile",
                "table": args.table,
                "columns": {
                    r["column"]: {
                        "n_rows": r["n_rows"],
                        "n_nulls": r["n_nulls"],
                        "min": r["min_value"],
                        "max": r["max_value"],
                        "mean": r["mean_value"],
                    }
                    for r in rows
                },
            }
        )
    )


def _cmd_manifest(spark, args) -> None:
    """Write or verify the delivery manifest of a dataset directory."""
    from lvm_datapipe_spark.sources import manifest as M

    if args.verify:
        problems = M.verify_manifest(args.table)
        print(json.dumps({"stage": "manifest", "verified": not problems,
                          "problems": problems}))
        if problems:
            raise SystemExit(2)
    else:
        m = M.write_manifest(args.table)
        print(json.dumps({"stage": "manifest", "n_files": m["n_files"],
                          "total_rows": m["total_rows"], "digest": m["digest"]}))


def _cmd_export_flat(spark, args) -> None:
    from lvm_datapipe_spark.operators.export import flatten_clips, nest_clips

    # snapshots store the flat working columns; publish the MMTrail flat form
    snap = pipeline.read_snapshot(spark, args.snapshot)
    staged, obs = pipeline.observed_stage(flatten_clips(nest_clips(snap)), "export-flat")
    staged.write.mode("overwrite").json(args.out)
    print(json.dumps({"stage": "export-flat", "rows": obs.get["n_rows"], "out": args.out}))


def _cmd_bpe(spark, args) -> None:
    from lvm_datapipe_spark.operators.bpe import learn_bpe_merges

    df = read_parquet(spark, args.table)
    merges, words = learn_bpe_merges(
        df, text_col=args.text_col, n_merges=args.n_merges
    )
    n_types = words.count()
    with open(args.out, "w") as f:
        json.dump({"merges": [list(m) for m in merges]}, f)
    print(
        json.dumps(
            {
                "stage": "bpe",
                "n_merges": len(merges),
                "word_types": n_types,
                "out": args.out,
            }
        )
    )


def _cmd_wds_export(spark, args) -> None:
    """Export a parquet table as WebDataset tar shards through the
    DataSource writer (commit manifest + overwrite semantics)."""
    from lvm_datapipe_spark.sources.webdataset import MANIFEST, register_webdataset

    register_webdataset(spark)
    df = read_parquet(spark, args.table)
    (
        df.write.format("webdataset")
        .option("path", args.out)
        .option("key_col", args.key_col)
        .option("columns", args.columns)
        .option("shard_size", str(args.shard_size))
        .mode("overwrite" if args.overwrite else "append")
        .save()
    )
    with open(os.path.join(args.out, MANIFEST)) as f:
        manifest = json.load(f)
    print(
        json.dumps(
            {
                "stage": "wds-export",
                "rows": manifest["n_rows"],
                "shards": len(manifest["shards"]),
                "out": args.out,
            }
        )
    )


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="lvm_datapipe_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sc = sub.add_parser("scenecut", help="video dir -> clips snapshot (EP1)")
    sc.add_argument("--video-dir", required=True)
    sc.add_argument("--out", required=True)
    sc.add_argument("--threshold", type=float, default=scenecut.DEFAULT_THRESHOLD)

    s = sub.add_parser("score", help="run one scorer stage with resume (EP2/EP3)")
    s.add_argument("--snapshot", required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--scorer", required=True, choices=sorted(media.SCORERS))
    s.add_argument("--policy", default="fractions",
                   choices=["fractions", "first_mid_last", "stride"])
    s.add_argument("--stride", type=int, default=10)

    a = sub.add_parser("analyze", help="corpus stats + duration histogram")
    a.add_argument("--snapshot", required=True)

    e = sub.add_parser("export-flat", help="publish the flat MMTrail schema as JSON")
    e.add_argument("--snapshot", required=True)
    e.add_argument("--out", required=True)

    c = sub.add_parser("curate", help="text corpus: dedup -> quality gate -> split")
    c.add_argument("--docs", required=True, help="documents parquet path")
    c.add_argument("--out", required=True)
    c.add_argument("--id-col", default="doc_id")
    c.add_argument("--text-col", default="text")
    c.add_argument("--min-tokens", type=int, default=20)
    z = sub.add_parser("zorder", help="rewrite a table Morton-clustered on two columns")
    z.add_argument("--table", required=True, help="input parquet path")
    z.add_argument("--out", required=True)
    z.add_argument("--by", nargs=2, required=True, metavar=("COL_A", "COL_B"))
    z.add_argument("--bits", type=int, default=8)
    z.add_argument("--files", type=int, default=8)
    z.add_argument("--curve", choices=["morton", "hilbert"], default="morton")
    r = sub.add_parser("retention", help="drop partitions below a cutoff value")
    r.add_argument("--table", required=True, help="partitioned table root")
    r.add_argument("--partition-col", required=True)
    r.add_argument("--keep-from", required=True, help="smallest value to KEEP")
    r.add_argument("--dry-run", action="store_true")
    d = sub.add_parser("dq", help="data-quality gate: not-null/unique checks")
    d.add_argument("--table", required=True)
    d.add_argument("--not-null", nargs="*", default=None)
    d.add_argument("--unique", nargs="*", default=None)
    pr = sub.add_parser("profile", help="one-scan numeric column profile")
    pr.add_argument("--table", required=True)
    pr.add_argument("--columns", nargs="*", default=None)
    wd = sub.add_parser("wds-export", help="export a table as WebDataset tar shards")
    wd.add_argument("--table", required=True)
    wd.add_argument("--out", required=True)
    wd.add_argument("--key-col", default="key")
    wd.add_argument("--columns", required=True, help="col:ext,col2:ext2")
    wd.add_argument("--shard-size", type=int, default=1000)
    wd.add_argument("--overwrite", action="store_true")

    bp = sub.add_parser("bpe", help="fit BPE merges on a text corpus")
    bp.add_argument("--table", required=True)
    bp.add_argument("--out", required=True)
    bp.add_argument("--text-col", default="text")
    bp.add_argument("--n-merges", type=int, default=50)

    mf = sub.add_parser("manifest", help="write or verify a delivery manifest")
    mf.add_argument("--table", required=True)
    mf.add_argument("--verify", action="store_true")

    tc = sub.add_parser("tx-commit", help="publish a parquet table as the next txlog version")
    tc.add_argument("--table", required=True, help="input parquet path")
    tc.add_argument("--out", required=True, help="versioned table dir")
    tc.add_argument("--op", choices=["overwrite", "append"], default="overwrite")
    tm = sub.add_parser(
        "tx-merge", help="upsert a parquet table of updates into a txlog table"
    )
    tm.add_argument("--table", required=True, help="updates parquet path")
    tm.add_argument("--out", required=True, help="versioned table dir")
    tm.add_argument("--keys", nargs="+", required=True, help="merge key columns")
    th = sub.add_parser("tx-history", help="print a versioned table's commit log")
    th.add_argument("--table", required=True, help="versioned table dir")
    tv = sub.add_parser("tx-vacuum", help="drop old txlog versions + unreferenced data")
    tv.add_argument("--table", required=True, help="versioned table dir")
    tv.add_argument("--keep-last", type=int, default=2)
    tx = sub.add_parser(
        "tx-delete", help="delete rows by key from a txlog table (new version)"
    )
    tx.add_argument("--table", required=True, help="keys parquet path")
    tx.add_argument("--out", required=True, help="versioned table dir")
    tx.add_argument("--keys", nargs="+", required=True, help="key columns")
    td = sub.add_parser(
        "tx-diff", help="materialize the rows added between two txlog versions"
    )
    td.add_argument("--table", required=True, help="versioned table dir")
    td.add_argument("--from", dest="v_from", type=int, required=True)
    td.add_argument("--to", dest="v_to", type=int, required=True)
    td.add_argument("--out", required=True, help="output parquet path")
    tk = sub.add_parser(
        "tx-compact", help="bin-pack a txlog table's small files as a new version"
    )
    tk.add_argument("--table", required=True, help="versioned table dir")
    tk.add_argument("--small-file-mb", type=int, default=32)
    tk.add_argument("--target-file-mb", type=int, default=128)
    q = sub.add_parser(
        "query",
        help="run any declared analytics query by name (see QUERY_INDEX.md)",
    )
    q.add_argument("--name", help="query name from queries()")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.001",
                   help="directory of input parquet tables")
    q.add_argument("--out", help="write result parquet here (else print rows)")
    q.add_argument("--limit", type=int, default=20,
                   help="max rows to print when --out is not given")
    q.add_argument("--list", action="store_true",
                   help="list available query names and exit")
    return p


def _cmd_tx_commit(spark, args) -> None:
    """Publish a parquet table as the next version of a txlog table."""
    from lvm_datapipe_spark.sources import txlog

    df = read_parquet(spark, args.table)
    v = txlog.commit(spark, df, args.out, op=args.op)
    print(
        json.dumps(
            {"stage": "tx-commit", "version": v, "op": args.op, "out": args.out}
        )
    )


def _cmd_tx_merge(spark, args) -> None:
    """Upsert updates into a versioned table (file-granular copy-on-write)."""
    from lvm_datapipe_spark.sources import txlog

    df = read_parquet(spark, args.table)
    v = txlog.merge(spark, df, args.out, key_cols=list(args.keys))
    m = txlog._read_manifest(args.out, v)
    print(
        json.dumps(
            {
                "stage": "tx-merge",
                "version": v,
                "out": args.out,
                "rewritten_files": m["meta"].get("rewritten_files"),
                "kept_files": m["meta"].get("kept_files"),
            }
        )
    )


def _cmd_tx_history(spark, args) -> None:
    """Print the commit log of a versioned table."""
    from lvm_datapipe_spark.sources import txlog

    print(
        json.dumps(
            {
                "stage": "tx-history",
                "latest": txlog.latest_version(args.table),
                "history": txlog.history(args.table),
            }
        )
    )


def _cmd_tx_delete(spark, args) -> None:
    """Delete rows by key (file-granular); see txlog.delete's vacuum
    caveat for compliance erasure."""
    from lvm_datapipe_spark.sources import txlog

    keys = read_parquet(spark, args.table)
    v = txlog.delete(spark, keys, args.out, key_cols=list(args.keys))
    m = txlog._read_manifest(args.out, v)
    print(
        json.dumps(
            {
                "stage": "tx-delete",
                "version": v,
                "out": args.out,
                "deleted_rows": m["meta"].get("deleted_rows"),
                "rewritten_files": m["meta"].get("rewritten_files"),
            }
        )
    )


def _cmd_tx_diff(spark, args) -> None:
    """Write the file-incremental delta between two versions as parquet —
    the CLI form of the process-each-version-exactly-once contract."""
    from lvm_datapipe_spark.sources import txlog

    delta = txlog.diff_files(spark, args.table, args.v_from, args.v_to)
    staged, obs = pipeline.observed_stage(delta, "tx-diff")
    staged.write.mode("overwrite").parquet(args.out)
    n = obs.get["n_rows"]
    print(
        json.dumps(
            {
                "stage": "tx-diff",
                "from": args.v_from,
                "to": args.v_to,
                "rows": n,
                "out": args.out,
            }
        )
    )


def _cmd_tx_compact(spark, args) -> None:
    """Bin-pack the latest version's small files into a new version."""
    from lvm_datapipe_spark.sources import txlog

    before = txlog.latest_version(args.table)
    v = txlog.compact(
        spark,
        args.table,
        small_file_mb=args.small_file_mb,
        target_file_mb=args.target_file_mb,
    )
    status = {"stage": "tx-compact", "version": v, "compacted": v != before}
    if v != before:
        m = txlog._read_manifest(args.table, v)
        status["compacted_files"] = m["meta"]["compacted_files"]
        status["written_files"] = m["meta"]["written_files"]
    print(json.dumps(status))


def _cmd_tx_vacuum(spark, args) -> None:
    """Drop manifests older than --keep-last and unreferenced data dirs."""
    from lvm_datapipe_spark.sources import txlog

    result = txlog.vacuum(args.table, keep_last=args.keep_last)
    print(json.dumps({"stage": "tx-vacuum", **result}))


def _cmd_query(spark, args) -> None:
    """Run one declared query from the registry against any table dir —
    the command-line door to the whole queries() surface (every operator
    a driver-side user can reach programmatically, reachable from a
    shell; names in QUERY_INDEX.md)."""
    from lvm_datapipe_spark.queries import QUERIES

    if args.list:
        for name in sorted(QUERIES):
            print(name)
        return
    if not args.name:
        raise SystemExit("query: --name is required (or use --list)")
    if args.name not in QUERIES:
        import difflib

        hint = difflib.get_close_matches(args.name, QUERIES, n=3)
        raise SystemExit(
            f"unknown query {args.name!r}; close matches: {hint};"
            " see QUERY_INDEX.md or --list"
        )
    df = QUERIES[args.name](spark, args.sf_dir)
    if args.out:
        staged, obs = pipeline.observed_stage(df, "query")
        staged.write.mode("overwrite").parquet(args.out)
        n = obs.get["n_rows"]
        print(json.dumps({"stage": "query", "name": args.name,
                          "rows": n, "out": args.out}))
    else:
        rows = df.limit(args.limit).collect()
        print(json.dumps({"stage": "query", "name": args.name,
                          "rows_shown": len(rows),
                          "rows": [r.asDict() for r in rows]},
                         default=str))


def main(argv: list[str] | None = None, spark=None) -> int:
    """Run one command.  The command runs inside session.query_scope, so a
    caller-supplied session ends holding what it held before."""
    args = build_parser().parse_args(argv)
    owns_session = spark is None
    if spark is None:
        spark = get_spark("lvm-datapipe-cli")
        spark.sparkContext.setLogLevel("ERROR")
    try:
        with query_scope(spark):
            {
                "scenecut": _cmd_scenecut,
                "score": _cmd_score,
                "curate": _cmd_curate,
                "zorder": _cmd_zorder,
                "retention": _cmd_retention,
                "dq": _cmd_dq,
                "profile": _cmd_profile,
                "manifest": _cmd_manifest,
                "bpe": _cmd_bpe,
                "wds-export": _cmd_wds_export,
                "tx-commit": _cmd_tx_commit,
                "tx-merge": _cmd_tx_merge,
                "tx-delete": _cmd_tx_delete,
                "tx-compact": _cmd_tx_compact,
                "tx-diff": _cmd_tx_diff,
                "tx-history": _cmd_tx_history,
                "tx-vacuum": _cmd_tx_vacuum,
                "analyze": _cmd_analyze,
                "export-flat": _cmd_export_flat,
                "query": _cmd_query,
            }[args.cmd](spark, args)
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
