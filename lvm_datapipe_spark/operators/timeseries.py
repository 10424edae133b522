"""Trajectory profiles over per-entity event sequences.

The events table holds (user_id, ts, value) — each user's ordered values
form a trajectory.  :func:`user_value_profiles` resamples each user's
sequence to L equi-count buckets (per-bucket decimal mean), the
fixed-length form the trajectory-similarity queries compare (top-k
trajectory similarity, e.g. REPOSE, ICDE 2021 — public).  Scan-shaped:
one window for the per-user position, one keyed aggregation — the
profile table is |users| × L, tiny next to the fact table, and profile
distance (cosine/Euclidean) is cheap, exact and oracle-able.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.aggregates import decimal_avg


def user_value_profiles(events: DataFrame) -> DataFrame:
    """(key, bucket, profile value) — each entity's trajectory resampled to
    L = 8 equi-count buckets in event-time order.

    Bucket b of a user with n events covers positions [b·n/L, (b+1)·n/L)
    (integer arithmetic — engine-portable), so every bucket is non-empty
    whenever n ≥ L and the mapping is exactly replayable in SQL.  One
    window shuffle on the entity key (position numbering) + one keyed
    aggregation (decimal per-bucket means).  Emitted LONG — per-entity
    row layout, no arrays — so the result joins/aggregates without any
    whole-vector shuffle (the embedding-centroid convention)."""
    length = 8
    w = Window.partitionBy("user_id").orderBy("ts", "value")
    pos = (F.row_number().over(w) - 1).cast("long")
    n = F.count(F.lit(1)).over(Window.partitionBy("user_id"))
    positioned = events.select(
        F.col("user_id"),
        F.col("value"),
        (pos * length).alias("_pl"),
        n.alias("_n"),
    )
    # TRUE integer division (DIV), matching the oracle's `//` exactly —
    # floor(double/double) coincides only while p·L stays within double
    # precision; DIV keeps the "integer arithmetic" portability claim
    # honest at any count
    return (
        positioned.withColumn("bucket", F.expr("_pl DIV _n"))
        .groupBy("user_id", "bucket")
        .agg(decimal_avg("value").alias("profile_value"))
    )
