"""Trajectory profiles (operators/timeseries.py): equi-count resampling
vs a hand-computed spec."""

from __future__ import annotations

from lvm_datapipe_spark.operators.timeseries import user_value_profiles


def test_profiles_equicount_buckets(spark):
    rows = [(1, t, float(t)) for t in range(16)] + [(2, t, 1.0) for t in range(8)]
    df = spark.createDataFrame(rows, "user_id long, ts long, value double")
    out = {
        (r["user_id"], r["bucket"]): r["profile_value"]
        for r in user_value_profiles(df).collect()
    }
    # 8 buckets; user 1: 16 events → buckets of 2: means (0.5, 2.5, ..., 14.5)
    assert out[(1, 0)] == 0.5 and out[(1, 7)] == 14.5
    # user 2: 8 events → 1 per bucket, all 1.0
    assert all(out[(2, b)] == 1.0 for b in range(8))
