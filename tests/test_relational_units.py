"""Unit tests for operator semantics on tiny in-memory DataFrames, mirroring
the reference behaviors they re-implement (SURVEY.md §5 plan, item 2)."""

from __future__ import annotations

import pytest

from lvm_datapipe_spark.functions import strings as S
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators import asof
from lvm_datapipe_spark.operators import relational as R


def test_find_breakpoint(spark):
    # video v1: clips sum to duration (done); v2: 5s gap (not done)
    rows = [
        ("v1", 10.0, 4.0),
        ("v1", 10.0, 6.0),
        ("v2", 20.0, 15.0),
    ]
    df = spark.createDataFrame(rows, ["o_orderkey", "video_duration", "clip_duration"])
    done = A.find_breakpoint(df)
    assert [r.o_orderkey for r in done.collect()] == ["v1"]


def test_histogram_numpy_semantics(spark):
    # np.histogram semantics: left-closed right-open, final bin unbounded here
    df = spark.createDataFrame([(0.0,), (4.9,), (5.0,), (100.0,)], ["d"])
    out = {r.bucket: r.n for r in A.histogram(df, "d", [0.0, 5.0, 10.0]).collect()}
    assert out == {0: 2, 1: 1, 2: 1}


def test_clip_id_format(spark):
    df = spark.createDataFrame([("vid_00042", 7)], ["vid", "idx"])
    row = df.select(S.clip_id("vid", "idx").alias("cid")).first()
    assert row.cid == "vid_00042_0000007"  # scene_cut.py:82 format


def test_path_functions(spark):
    df = spark.createDataFrame([("group_3/vid_00042.MP4",)], ["p"])
    row = df.select(
        S.path_basename("p").alias("base"),
        S.path_dirname("p").alias("dir"),
        S.file_extension("p").alias("ext"),
        S.file_stem("p").alias("stem"),
    ).first()
    assert (row.base, row.dir, row.ext, row.stem) == (
        "vid_00042.MP4",
        "group_3",
        "mp4",
        "vid_00042",
    )


def test_clean_caption(spark):
    raw = "<start_of_text>a red car driving <end_of_text>junk"
    df = spark.createDataFrame([(raw,)], ["c"])
    assert df.select(S.clean_caption("c").alias("c")).first().c == "a red car driving"


def test_extract_answer_words(spark):
    rows = [
        ('blah Answer: ["car", "tree", "sky"] more',),
        ("no answer here",),
    ]
    df = spark.createDataFrame(rows, ["raw"])
    out = [r.w for r in df.select(S.extract_answer_words("raw").alias("w")).collect()]
    assert out[0] == ["car", "tree", "sky"]
    assert out[1] == []  # sum_caption_llama.py:50 returns [] on no match


def test_frame_sampling_indices(spark):
    df = spark.createDataFrame([(100,)], ["frame_count"])
    row = df.select(S.frame_indices_at_fractions().alias("fr")).first()
    assert row.fr == [20, 50, 80]  # coca_caption.py:44 policy


def test_best_per_group_tiebreak(spark):
    rows = [("v1", "c1", 5.0), ("v1", "c2", 5.0), ("v2", "c3", 1.0)]
    df = spark.createDataFrame(rows, ["o_custkey", "o_orderkey", "o_totalprice"])
    out = R.best_per_group(df)
    got = {(r.o_custkey, r.o_orderkey) for r in out.collect()}
    assert got == {("v1", "c1"), ("v2", "c3")}


def test_union_and_subtract(spark):
    a = spark.createDataFrame([(1,), (2,)], ["x"])
    b = spark.createDataFrame([(2,), (3,)], ["x"])
    assert sorted(r.x for r in R.union_shards(a, b).collect()) == [1, 2, 2, 3]
    assert [r.x for r in R.finished_set_difference(a, b).collect()] == [1]


def test_count_consistency(spark):
    records = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    files = spark.createDataFrame([(i,) for i in range(12)], ["x"])
    row = A.count_consistency(records, files).first()
    assert (row.record_count, row.file_count, row.delta, row.ok) == (10, 12, 2, True)


def test_asof_join_fills_right_row_atomically(spark):
    """A right row with a NULL in one value column must NOT have that column
    backfilled from an older right row (torn row) — the as-of match picks one
    right row and takes all its values, like the join-then-rank oracle."""
    from lvm_datapipe_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 100)], ["user_id", "ts"])
    right = spark.createDataFrame(
        [("u", 10, "old_a", "old_b"), ("u", 50, None, "new_b")],
        ["user_id", "ts", "va", "vb"],
    )
    out = asof_join(left, right, right_values=["va", "vb"], tie_col="vb").collect()
    assert len(out) == 1
    r = out[0]
    # newest right row (t=50) atomically: va stays NULL, vb is new_b
    assert r.va is None and r.vb == "new_b"


def test_asof_join_no_right_match_is_all_null(spark):
    from lvm_datapipe_spark.operators.asof import asof_join

    left = spark.createDataFrame([("u", 5)], ["user_id", "ts"])
    right = spark.createDataFrame([("u", 50, "a", "b")], ["user_id", "ts", "va", "vb"])
    out = asof_join(left, right, right_values=["va", "vb"], tie_col="vb").collect()
    assert len(out) == 1 and out[0].va is None and out[0].vb is None


def test_asof_join_forward_direction(spark):
    """Forward as-of: earliest right row with t >= left t; equal-ts rows
    match; ties at the same ts break least-wins; no future match → null."""
    from lvm_datapipe_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("u", 50), ("u", 100), ("u", 300)], ["user_id", "ts"]
    )
    right = spark.createDataFrame(
        [("u", 40, "past"), ("u", 100, "b_tie"), ("u", 100, "a_tie"), ("u", 200, "later")],
        ["user_id", "ts", "va"],
    )
    out = {
        r.ts: r.va
        for r in asof_join(left, right, right_values=["va"], direction="forward").collect()
    }
    assert out[50] == "a_tie"   # skips the past row, takes earliest future
    assert out[100] == "a_tie"  # equal ts matches; least tie wins
    assert out[300] is None     # nothing at-or-after


def test_snapshot_diff_statuses(spark):
    from lvm_datapipe_spark.operators.relational import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "fingerprint"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (4, "d")], ["doc_id", "fingerprint"]
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "modified", 4: "added"}


# ---------------------------------------------------------------------------
# binned_range_join (keyless point-in-interval as a hash join)
# ---------------------------------------------------------------------------


def _brj_fixtures(spark):
    pts = spark.createDataFrame(
        [(1, 5), (2, 17), (3, 42), (4, 99), (5, -3)], ["pid", "t"]
    )
    ivs = spark.createDataFrame(
        [(10, 0, 10), (11, 4, 45), (12, 40, 44), (13, 200, 300)],
        ["iv_id", "t0", "t1"],
    )
    return pts, ivs


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_binned_range_join_matches_naive(spark, monkeypatch):
    from lvm_datapipe_spark.operators.asof import binned_range_join

    pts, ivs = _brj_fixtures(spark)
    naive = {
        (r["pid"], r["iv_id"])
        for r in pts.crossJoin(ivs)
        .filter("t >= t0 and t <= t1")
        .collect()
    }
    for width in (1, 7, 10, 1000):  # exactness must not depend on the width
        monkeypatch.setattr(asof, "RANGE_BIN_WIDTH", width)
        got = {
            (r["pid"], r["iv_id"])
            for r in binned_range_join(pts, ivs).collect()
        }
        assert got == naive, f"width={width}"


def test_binned_range_join_is_hash_join(spark, monkeypatch):
    from lvm_datapipe_spark.operators.asof import binned_range_join

    monkeypatch.setattr(asof, "RANGE_BIN_WIDTH", 10)
    pts, ivs = _brj_fixtures(spark)
    plan = (
        binned_range_join(pts, ivs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# contiguous_ids (distributed zipWithIndex without a global window)
# ---------------------------------------------------------------------------


def test_contiguous_ids_match_global_row_number(spark):
    from lvm_datapipe_spark.operators.relational import contiguous_ids

    rows = [(k, f"g{k % 3}") for k in (7, 1, 9, 4, 2, 8, 0, 5, 3, 6)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = {
        r["doc_id"]: r["row_id"]
        for r in contiguous_ids(df).collect()
    }
    expected_order = sorted(rows, key=lambda r: (r[1], r[0]))
    assert got == {k: i for i, (k, _) in enumerate(expected_order)}


def test_contiguous_ids_stable_under_input_layout(spark):
    from lvm_datapipe_spark.operators.relational import contiguous_ids

    df = spark.createDataFrame([("en", i) for i in range(97)], ["lang", "doc_id"])
    a = {r["doc_id"]: r["row_id"] for r in contiguous_ids(df).collect()}
    b = {
        r["doc_id"]: r["row_id"]
        for r in contiguous_ids(df.repartition(13)).collect()
    }
    assert a == b == {i: i for i in range(97)}


def test_contiguous_ids_no_single_partition_exchange(spark):
    from lvm_datapipe_spark.operators.relational import contiguous_ids

    df = spark.createDataFrame([("en", i) for i in range(50)], ["lang", "doc_id"])
    plan = (
        contiguous_ids(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


def test_binned_range_join_exact_beyond_double_precision(spark, monkeypatch):
    from lvm_datapipe_spark.operators.asof import binned_range_join

    monkeypatch.setattr(asof, "RANGE_BIN_WIDTH", 3)
    # epoch-nanosecond scale: 2^53 + k are NOT representable as doubles —
    # float binning would misbin and silently drop true matches
    base = 2**53
    pts = spark.createDataFrame(
        [(1, base + 1), (2, base + 3), (3, base + 10)], "pid: long, t: long"
    )
    ivs = spark.createDataFrame(
        [(7, base, base + 4)], "iv: long, t0: long, t1: long"
    )
    got = sorted(
        (r["pid"], r["iv"])
        for r in binned_range_join(pts, ivs).collect()
    )
    assert got == [(1, 7), (2, 7)]


def test_binned_range_join_negative_values_floor_bins(spark, monkeypatch):
    from lvm_datapipe_spark.operators.asof import binned_range_join

    monkeypatch.setattr(asof, "RANGE_BIN_WIDTH", 2)
    # integer floor division must round toward -inf (DIV truncates): the
    # point -1 and interval [-2, 0] share bin -1 at width 2
    pts = spark.createDataFrame([(1, -1)], "pid: long, t: long")
    ivs = spark.createDataFrame([(9, -2, 0)], "iv: long, t0: long, t1: long")
    assert [(r["pid"], r["iv"])
            for r in binned_range_join(pts, ivs).collect()
            ] == [(1, 9)]
