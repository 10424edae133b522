"""Tests for the skew-mitigation operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.skew import salted_aggregate


def test_salted_aggregate_matches_plain(spark):
    df = spark.createDataFrame(
        [("hot" if i % 5 else f"k{i}", float(i)) for i in range(500)], ["event_type", "x"]
    )
    out = salted_aggregate(
        df,
        aggs=[
            (F.count(F.lit(1)), lambda c: F.sum(c), "n"),
            (F.sum("x"), lambda c: F.sum(c), "total"),
            (F.max("x"), lambda c: F.max(c), "mx"),
        ],
    )
    want = {
        r.event_type: (r.n, r.total, r.mx)
        for r in df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("total"), F.max("x").alias("mx"))
        .collect()
    }
    got = {r.event_type: (r.n, r.total, r.mx) for r in out.collect()}
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0] and got[k][2] == want[k][2]
        assert abs(got[k][1] - want[k][1]) < 1e-9
