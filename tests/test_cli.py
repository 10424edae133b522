"""Pipeline CLI tests: the reference's script-per-stage workflow end to end
through the command-line surface (scenecut -> score -> score -> analyze ->
export), including resume on re-run."""

from __future__ import annotations

import json
import threading

import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark import fakevideo
from lvm_datapipe_spark.cli import _scored, build_parser, main
from lvm_datapipe_spark.plans.bucketing import count_exchanges
from lvm_datapipe_spark.session import jobs_of


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli")
    fakevideo.write_corpus(str(d / "videos"), [f"clipv_{i}" for i in range(5)])
    return d


def test_cli_full_pipeline(spark, work, capsys):
    videos = str(work / "videos")
    snap0, snap1, snap2 = str(work / "s0"), str(work / "s1"), str(work / "s2")

    assert main(["scenecut", "--video-dir", videos, "--out", snap0], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stage"] == "scenecut" and out["clips"] > 0

    assert main(
        ["score", "--snapshot", snap0, "--out", snap1, "--scorer", "imaging_quality"],
        spark=spark,
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["scored"] == out["total"]

    # the stage joins the clip bytes back co-located: a sort-merge join
    # with no Exchange of any kind, shuffle or broadcast
    argv = ["score", "--snapshot", snap1, "--out", snap2, "--scorer", "aesthetic"]
    scored = _scored(spark, build_parser().parse_args(argv))[0]
    assert "SortMergeJoin" in scored._jdf.queryExecution().executedPlan().toString()
    assert count_exchanges(scored) == 0
    assert main(argv, spark=spark) == 0
    capsys.readouterr()

    # resume semantics: scoring an already-scored snapshot changes nothing
    before = {
        r.clip_id: r.imaging_quality for r in spark.read.parquet(snap2).collect()
    }
    snap3 = str(work / "s3")
    assert main(
        ["score", "--snapshot", snap2, "--out", snap3, "--scorer", "imaging_quality"],
        spark=spark,
    ) == 0
    capsys.readouterr()
    after = {r.clip_id: r.imaging_quality for r in spark.read.parquet(snap3).collect()}
    assert before == after

    assert main(["analyze", "--snapshot", snap3], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["stats"]["n"] == sum(out["histogram"].values())

    flat_dir = str(work / "flat")
    assert main(["export-flat", "--snapshot", snap3, "--out", flat_dir], spark=spark) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] == len(after)
    flat = spark.read.json(flat_dir)
    assert "image_quality" in flat.columns  # published MMTrail name
    assert flat.filter(F.col("image_quality").isNotNull()).count() == len(after)


def _last_json(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _run(spark, argv: list[str]) -> str:
    """Run one CLI stage; the job group it ran under."""
    assert main(argv, spark=spark) == 0
    return spark.sparkContext.getLocalProperty("spark.jobGroup.id")


def _output_bytes(spark, group: str) -> int:
    """Bytes the job group's stages wrote to output files, from the status
    store."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        sids = store.job(jid).stageIds()
        for k in range(sids.size()):
            total += int(store.lastStageAttempt(sids.apply(k)).outputBytes())
    return total


def test_cli_stage_job_counts(spark, work, capsys):
    """Each video-pipeline stage launches only the jobs its output needs:
    the snapshot read takes its schema from the footer on the driver, so it
    launches none; scenecut, score and export-flat are one write each, with
    the printed counts taken from an Observation on the write; analyze is
    one aggregate.  Every printed count equals an independent read of the
    stage's output.  The clip bytes are written once, by scenecut: a score
    snapshot has no ``content`` and writes under 2% of scenecut's bytes.
    The frames here are 16x the default so that the clip bytes, not the
    parquet footer of each bucket file, dominate scenecut's output at any
    bucket count.  No stage leaves a catalog table behind."""
    from lvm_datapipe_spark.operators import analyze

    videos = work / "big_videos"
    videos.mkdir(exist_ok=True)
    for vid in (f"bigv_{i}" for i in range(5)):
        frames = fakevideo.generate(vid, height=96, width=128)
        (videos / f"{vid}.fvid").write_bytes(fakevideo.encode(frames))
    videos = str(videos)
    s0, s1, s2, s3 = (str(work / f"jobs_s{i}") for i in range(4))
    flat = str(work / "jobs_flat")
    stages = [
        ("scenecut", 1, ["scenecut", "--video-dir", videos, "--out", s0]),
        ("score_motion", 1, ["score", "--snapshot", s0, "--out", s1, "--scorer", "motion"]),
        ("score_ocr", 1, ["score", "--snapshot", s1, "--out", s2, "--scorer", "ocr"]),
        ("resume_motion", 1, ["score", "--snapshot", s2, "--out", s3, "--scorer", "motion"]),
        ("analyze", 2, ["analyze", "--snapshot", s3]),
        ("export_flat", 1, ["export-flat", "--snapshot", s3, "--out", flat]),
    ]
    tables = spark.catalog.listTables()
    jobs, outs, written = {}, {}, {}
    for name, _, argv in stages:
        group, jobs[name] = jobs_of(spark, lambda: _run(spark, argv))
        written[name] = _output_bytes(spark, group)
        outs[name] = _last_json(capsys)
        assert spark.catalog.listTables() == tables, name
    assert jobs == {name: n for name, n, _ in stages}

    n_clips = spark.read.parquet(s0).count()
    assert outs["scenecut"]["clips"] == n_clips > 0
    assert "content" in spark.read.parquet(s0).columns
    for name, snap in [("score_motion", s1), ("score_ocr", s2), ("resume_motion", s3)]:
        done = spark.read.parquet(snap)
        col = outs[name]["column"]
        assert outs[name]["total"] == done.count() == n_clips
        assert outs[name]["scored"] == done.filter(F.col(col).isNotNull()).count()
        assert "content" not in done.columns
        assert 0 < written[name] < 0.02 * written["scenecut"], (name, written)
    snap = spark.read.parquet(s3)
    assert outs["analyze"]["stats"] == analyze.duration_stats(snap).first().asDict()
    assert outs["analyze"]["histogram"] == {
        r.label: r.n for r in analyze.duration_histogram(snap).collect()
    }
    assert outs["export_flat"]["rows"] == spark.read.json(flat).count() == n_clips


def test_cli_score_counts_failed_rows(spark, work, capsys, monkeypatch):
    """A row whose scorer fails keeps a null score: the observed ``scored``
    count leaves it out, ``total`` keeps it.  A plain snapshot (no clip
    spec) is its own clip table, and what scoring it writes (here to a
    relative path) scores again."""
    good = str(work / "fail_s0")
    assert main(["scenecut", "--video-dir", str(work / "videos"), "--out", good],
                spark=spark) == 0
    capsys.readouterr()
    snap = spark.read.parquet(good)
    junk = snap.limit(1).withColumn("clip_id", F.lit("junk_0000000")).withColumn(
        "content", F.lit(b"JUNK")
    )
    mixed = str(work / "fail_s1")
    snap.unionByName(junk).write.mode("overwrite").parquet(mixed)
    out_path = str(work / "fail_s2")
    assert main(["score", "--snapshot", mixed, "--out", out_path, "--scorer", "motion"],
                spark=spark) == 0
    out = _last_json(capsys)
    done = spark.read.parquet(out_path)
    assert out["total"] == done.count() == snap.count() + 1
    assert out["scored"] == done.filter(F.col("of_score").isNotNull()).count()
    assert out["scored"] == out["total"] - 1
    again = str(work / "fail_s3")
    monkeypatch.chdir(work)
    assert main(["score", "--snapshot", "fail_s2", "--out", "fail_s3", "--scorer", "ocr"],
                spark=spark) == 0
    out = _last_json(capsys)
    done = spark.read.parquet(again)
    assert out["total"] == done.count() == snap.count() + 1
    assert out["scored"] == done.filter(F.col("ocr_score").isNotNull()).count()
    assert out["scored"] == out["total"] - 1
    assert done.filter(F.col("of_score").isNull()).select("clip_id").first()[0] == "junk_0000000"


def test_cli_analyze_matches_separate_aggregates(spark, tmp_path, capsys):
    """analyze's one aggregate prints exactly what duration_stats and
    duration_histogram give: the exact decimal total and mean, and rows
    whose bucket is null (null or negative duration) in the stats but in
    no histogram bucket."""
    from lvm_datapipe_spark.operators import analyze

    durations = [0.1] * 7 + [0.2, 4.99, 5.0, 9.99, 59.9, 61.0, 3600.5, -1.0, None]
    snap = str(tmp_path / "snap")
    spark.createDataFrame(
        [(f"c{i}", d) for i, d in enumerate(durations)], "clip_id string, clip_duration double"
    ).write.parquet(snap)
    assert main(["analyze", "--snapshot", snap], spark=spark) == 0
    out = _last_json(capsys)
    df = spark.read.parquet(snap)
    assert out["stats"] == analyze.duration_stats(df).first().asDict()
    assert out["histogram"] == {
        r.label: r.n for r in analyze.duration_histogram(df).collect()
    }
    assert out["stats"]["n"] == len(durations)
    assert sum(out["histogram"].values()) == len(durations) - 2


def test_cli_scenecut_no_decodable_video(spark, tmp_path, capsys):
    """A directory where no video decodes gives an empty snapshot and
    ``clips: 0``; reading the Observation of a write that saw no rows must
    not block."""
    videos = tmp_path / "junk"
    videos.mkdir()
    (videos / "a.fvid").write_bytes(b"JUNKJUNKJUNKJUNKJUNKJUNK")
    (videos / "b.fvid").write_bytes(fakevideo.encode(fakevideo.generate("b"))[:-100])
    out_dir = str(tmp_path / "s0")
    result = {}

    def run():
        try:
            result["rc"] = main(["scenecut", "--video-dir", str(videos), "--out", out_dir],
                                spark=spark)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            result["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "scenecut blocked reading its Observation"
    assert "error" not in result, result.get("error")
    assert result["rc"] == 0
    out = _last_json(capsys)
    assert out == {"stage": "scenecut", "clips": 0, "out": out_dir}
    assert spark.read.parquet(out_dir).count() == 0
    # the empty snapshot stays scorable, and so does what scoring it writes
    scored = str(tmp_path / "s1")
    for snap, dest in [(out_dir, scored), (scored, str(tmp_path / "s2"))]:
        assert main(["score", "--snapshot", snap, "--out", dest, "--scorer", "motion"],
                    spark=spark) == 0
        assert {k: v for k, v in _last_json(capsys).items() if k in ("scored", "total")} \
            == {"scored": 0, "total": 0}


def test_cli_curate_matches_query_semantics(spark, work, capsys):
    """curate = the oracle-checked pipeline_curate composition over an
    arbitrary documents parquet; output is split-partitioned and idempotent
    on re-run."""
    docs_path = str(work / "docs.parquet")
    from lvm_datapipe_spark.catalog import load_table

    load_table(spark, "/root/testdata/sf0.001", "documents").write.mode(
        "overwrite"
    ).parquet(docs_path)
    out_dir = str(work / "curated")
    assert main(["curate", "--docs", docs_path, "--out", out_dir], spark=spark) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["stage"] == "curate" and rep["kept"] > 0
    assert set(rep["splits"]) <= {"train", "val", "test"}
    assert rep["kept"] == sum(rep["splits"].values())

    first = {
        (r.doc_id, r.split) for r in spark.read.parquet(out_dir).collect()
    }
    # deterministic: re-running produces the identical assignment
    assert main(["curate", "--docs", docs_path, "--out", out_dir], spark=spark) == 0
    capsys.readouterr()
    second = {
        (r.doc_id, r.split) for r in spark.read.parquet(out_dir).collect()
    }
    assert first == second


def test_cli_zorder_and_retention(spark, tmp_path, capsys):
    """zorder takes the row count in the aggregate that reads the curve's
    bounds, with no count job of its own: five Spark jobs in all."""
    import glob

    from lvm_datapipe_spark import cli

    src = str(tmp_path / "ev")
    df = spark.createDataFrame(
        [(a, b, f"2024-0{1 + a % 3}-01") for a in range(32) for b in range(32)],
        "a int, b int, day string",
    )
    df.write.mode("overwrite").parquet(src)

    out = str(tmp_path / "evz")
    argv = ["zorder", "--table", src, "--out", out, "--by", "a", "b",
            "--bits", "5", "--files", "8"]
    assert jobs_of(spark, lambda: _run(spark, argv))[1] == 5
    assert _last_json(capsys)["rows"] == 1024
    assert spark.read.parquet(out).count() == 1024
    assert len(glob.glob(out + "/part-*.parquet")) >= 4

    store = str(tmp_path / "store")
    df.write.partitionBy("day").parquet(store)
    assert cli.main(
        ["retention", "--table", store, "--partition-col", "day",
         "--keep-from", "2024-02-01"],
        spark=spark,
    ) == 0
    days = {str(r.day) for r in spark.read.parquet(store).select("day").distinct().collect()}
    assert days == {"2024-02-01", "2024-03-01"}


def test_cli_dq_gate(spark, tmp_path):
    import pytest as _pytest

    from lvm_datapipe_spark import cli

    good = str(tmp_path / "good")
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    ).write.mode("overwrite").parquet(good)
    assert cli.main(
        ["dq", "--table", good, "--not-null", "id", "v", "--unique", "id"],
        spark=spark,
    ) == 0

    bad = str(tmp_path / "bad")
    spark.createDataFrame(
        [(1, "a"), (1, "b"), (None, "c")], "id long, v string"
    ).write.mode("overwrite").parquet(bad)
    with _pytest.raises(SystemExit) as e:
        cli.main(["dq", "--table", bad, "--not-null", "id", "--unique", "id"], spark=spark)
    assert e.value.code == 2


def test_cli_profile_and_manifest(spark, tmp_path, capsys):
    import json as _json

    import pytest as _pytest

    from lvm_datapipe_spark import cli

    t = str(tmp_path / "tbl")
    spark.createDataFrame(
        [(1, 2.0), (2, 4.0), (3, None)], "id long, x double"
    ).write.mode("overwrite").parquet(t)

    assert cli.main(["profile", "--table", t], spark=spark) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["columns"]["x"]["n_nulls"] == 1
    assert out["columns"]["id"]["max"] == 3.0

    assert cli.main(["manifest", "--table", t], spark=spark) == 0
    assert cli.main(["manifest", "--table", t, "--verify"], spark=spark) == 0
    # tamper -> verify exits nonzero
    import glob

    victim = sorted(glob.glob(t + "/part-*.parquet"))[0]
    with open(victim, "r+b") as f:
        f.seek(8)
        f.write(b"\xff")
    with _pytest.raises(SystemExit) as e:
        cli.main(["manifest", "--table", t, "--verify"], spark=spark)
    assert e.value.code == 2


def test_cli_bpe_fit(spark, tmp_path, capsys):
    from lvm_datapipe_spark.operators.bpe import learn_bpe_merges

    corpus = ["low low low lower", "newest newest newest lowest"] * 3
    df = spark.createDataFrame([(t,) for t in corpus], ["text"])
    table = str(tmp_path / "docs.parquet")
    df.write.parquet(table)
    out = str(tmp_path / "merges.json")
    rc = main(
        ["bpe", "--table", table, "--out", out, "--n-merges", "8"],
        spark=spark,
    )
    assert rc == 0
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["stage"] == "bpe" and status["n_merges"] > 0
    saved = json.load(open(out))["merges"]
    want, _ = learn_bpe_merges(df, n_merges=8)
    assert [tuple(m) for m in saved] == want


def test_cli_zorder_hilbert_curve(spark, tmp_path, capsys):
    src = str(tmp_path / "src.parquet")
    (
        spark.range(512)
        .withColumn("a", (F.col("id") * 7919) % 64)
        .withColumn("b", (F.col("id") * 104729) % 64)
        .write.parquet(src)
    )
    out = str(tmp_path / "hil")
    argv = ["zorder", "--table", src, "--out", out, "--by", "a", "b",
            "--bits", "6", "--files", "4", "--curve", "hilbert"]
    assert jobs_of(spark, lambda: _run(spark, argv))[1] == 5
    status = _last_json(capsys)
    assert status["curve"] == "hilbert" and status["rows"] == 512
    assert spark.read.parquet(out).count() == 512


def test_cli_wds_export(spark, tmp_path, capsys):
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(f"d{i}", f"text {i}") for i in range(12)], "key string, txt string"
    ).write.parquet(src)
    out = str(tmp_path / "wds")
    rc = main(
        ["wds-export", "--table", src, "--out", out,
         "--columns", "txt:txt", "--shard-size", "5", "--overwrite"],
        spark=spark,
    )
    assert rc == 0
    status = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert status["rows"] == 12 and status["shards"] >= 1
    from lvm_datapipe_spark.sources.webdataset import read_webdataset

    assert read_webdataset(spark, out).count() == 12


def test_cli_query_stage(spark, tmp_path, capsys):
    from lvm_datapipe_spark.cli import main

    # parquet output mode
    out = str(tmp_path / "q6")
    main(
        ["query", "--name", "q6_forecast_revenue",
         "--sf-dir", "/root/testdata/sf0.001", "--out", out],
        spark=spark,
    )
    import json as _json

    line = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["stage"] == "query" and line["rows"] == 1
    assert spark.read.parquet(out).columns == ["revenue", "n_items"]
    # print mode
    main(
        ["query", "--name", "a7_value_counts",
         "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"],
        spark=spark,
    )
    line = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["rows_shown"] == 3
    # unknown name fails loudly with suggestions
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["query", "--name", "q6_forecast_revenu"], spark=spark)


def test_cli_query_leaves_caller_session_unchanged(spark, sf_dir, capsys):
    """main runs its command inside session.query_scope: the eager
    checkpoints graph_kcore_parts makes are freed, and a caller-supplied
    session ends holding no cached relation or persistent RDD it did not
    hold before (one an earlier test left may be collected meanwhile)."""
    from lvm_datapipe_spark.session import held_storage

    n_before, rdds_before = held_storage(spark)
    main(["query", "--name", "graph_kcore_parts", "--sf-dir", sf_dir,
          "--limit", "3"], spark=spark)
    assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["rows_shown"] == 3
    n_after, rdds_after = held_storage(spark)
    assert n_after == n_before and rdds_after <= rdds_before


def test_cli_output_counts_come_from_the_write(spark, sf_dir, tmp_path, capsys):
    """``query --out`` and ``tx-diff`` print the row count observed on their
    own write instead of re-reading the output: query is its two-job
    aggregate write; tx-diff is its one write job (the delta read over an
    explicit file list takes its schema from the first file's footer).
    Each printed count equals an independent read of the output."""
    q_out = str(tmp_path / "q1")
    argv = ["query", "--name", "q1_pricing_summary", "--sf-dir", sf_dir, "--out", q_out]
    assert jobs_of(spark, lambda: _run(spark, argv))[1] == 2
    assert _last_json(capsys)["rows"] == spark.read.parquet(q_out).count() > 0

    base, more = str(tmp_path / "base"), str(tmp_path / "more")
    t, delta = str(tmp_path / "tbl"), str(tmp_path / "delta")
    schema = "id long, val string"
    spark.createDataFrame([(1, "a")], schema).write.parquet(base)
    spark.createDataFrame([(2, "b"), (3, "c")], schema).write.parquet(more)
    assert main(["tx-commit", "--table", base, "--out", t], spark=spark) == 0
    assert main(["tx-commit", "--table", more, "--out", t, "--op", "append"],
                spark=spark) == 0
    argv = ["tx-diff", "--table", t, "--from", "1", "--to", "2", "--out", delta]
    assert jobs_of(spark, lambda: _run(spark, argv))[1] == 1
    assert _last_json(capsys)["rows"] == spark.read.parquet(delta).count() == 2
