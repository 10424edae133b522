"""SCD2 merge: every merge case on a hand-built example, plus the
structural invariants (exactly one open row per live key, history
immutable, single keyed shuffle)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.scd import scd2_merge


_SCD_SCHEMA = "doc_id long, fingerprint string, valid_from string, valid_to string"
_UPD_SCHEMA = "doc_id long, fingerprint string"


def _df(spark, rows, cols):
    schema = _SCD_SCHEMA if len(cols) == 4 else _UPD_SCHEMA
    return spark.createDataFrame(rows, schema)


def test_all_merge_cases(spark):
    current = _df(
        spark,
        [
            # changed key: open row must close + new version open
            (1, "fp1-old", "2024-01-01", None),
            # unchanged key: open row survives untouched
            (2, "fp2", "2024-01-01", None),
            # key absent from updates: open row survives (upsert semantics)
            (3, "fp3", "2024-01-01", None),
            # closed history row: passes through verbatim
            (1, "fp1-ancient", "2023-01-01", "2024-01-01"),
        ],
        ["doc_id", "fingerprint", "valid_from", "valid_to"],
    )
    updates = _df(
        spark,
        [(1, "fp1-new"), (2, "fp2"), (4, "fp4")],
        ["doc_id", "fingerprint"],
    )
    got = sorted(
        scd2_merge(current, updates).collect()
    )
    want = sorted(
        [
            (1, "fp1-ancient", "2023-01-01", "2024-01-01"),
            (1, "fp1-old", "2024-01-01", "2024-06-01"),
            (1, "fp1-new", "2024-06-01", None),
            (2, "fp2", "2024-01-01", None),
            (3, "fp3", "2024-01-01", None),
            (4, "fp4", "2024-06-01", None),
        ],
        key=lambda r: (r[0], r[2]),
    )
    assert [tuple(r) for r in got] == sorted(want)


def test_one_open_row_per_live_key(spark):
    current = _df(
        spark,
        [(i, f"fp{i}", "2024-01-01", None) for i in range(50)],
        ["doc_id", "fingerprint", "valid_from", "valid_to"],
    )
    updates = _df(
        spark,
        [(i, f"fp{i}-v2" if i % 3 == 0 else f"fp{i}") for i in range(25, 75)],
        ["doc_id", "fingerprint"],
    )
    merged = scd2_merge(current, updates)
    open_counts = (
        merged.filter(F.col("valid_to").isNull())
        .groupBy("doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert open_counts == 0
    assert merged.filter(F.col("valid_to").isNull()).count() == 75  # 0..74


def test_single_keyed_shuffle(spark):
    current = _df(
        spark,
        [(1, "a", "2024-01-01", None)],
        ["doc_id", "fingerprint", "valid_from", "valid_to"],
    )
    updates = _df(spark, [(1, "b")], ["doc_id", "fingerprint"])
    plan = (
        scd2_merge(current, updates)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


# ---------------------------------------------------------------------------
# temporal_join (SCD2 read side)
# ---------------------------------------------------------------------------


def _versions(spark):
    return spark.createDataFrame(
        [
            (1, "a-v0", 10, 20),
            (1, "a-v1", 20, None),
            (2, "b-v0", 15, None),
        ],
        ["doc_id", "attr", "valid_from", "valid_to"],
    )


def test_temporal_join_picks_version_at_fact_time(spark):
    from lvm_datapipe_spark.operators.scd import temporal_join

    facts = spark.createDataFrame(
        [(100, 1, 12), (101, 1, 20), (102, 1, 99), (103, 2, 16)],
        ["fid", "doc_id", "ts"],
    )
    out = {
        r["fid"]: r["attr"]
        for r in temporal_join(facts, _versions(spark)).collect()
    }
    # t=12 → v0; t=20 → boundary belongs to the NEW version (from <= t < to);
    # t=99 → open row
    assert out == {100: "a-v0", 101: "a-v1", 102: "a-v1", 103: "b-v0"}


def test_temporal_join_left_keeps_prehistoric_facts(spark):
    from lvm_datapipe_spark.operators.scd import temporal_join

    facts = spark.createDataFrame([(1, 1, 5), (2, 2, 14)], ["fid", "doc_id", "ts"])
    rows = temporal_join(facts, _versions(spark)).collect()
    assert {r["fid"]: r["attr"] for r in rows} == {1: None, 2: None}


def test_temporal_join_no_fanout_and_hash_join(spark):
    from lvm_datapipe_spark.operators.scd import temporal_join

    facts = spark.createDataFrame(
        [(i, 1, 10 + i % 30) for i in range(50)], ["fid", "doc_id", "ts"]
    )
    out = temporal_join(facts, _versions(spark))
    assert out.count() == 50  # well-formed SCD2 → exactly one row per fact
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

