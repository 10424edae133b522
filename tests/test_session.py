"""Session and stage plumbing: a stage's row count comes from its own write."""

from __future__ import annotations


def test_observed_stage_counts_without_extra_job(spark, tmp_path):
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.plans.pipeline import observed_stage, write_snapshot

    df = spark.range(100).withColumn("v", F.col("id") * 2.0)
    staged, obs = observed_stage(
        df.filter("id >= 20"), "post_filter",
        F.sum("v").alias("sum_v"),
    )
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    write_snapshot(staged, str(tmp_path / "snap"))
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    got = obs.get
    assert got["n_rows"] == 80
    assert got["sum_v"] == sum(i * 2.0 for i in range(20, 100))
    # the metrics came from the write's own action — obs.get launched no job
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(None) == after
    assert len(after) > len(before)  # exactly the write's job(s)
