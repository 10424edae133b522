"""Skew-mitigation operators (ARCHITECTURE §2; task brief: "skewed keys hurt
... salting for skew").

AQE's skew-join splitting (on by default in session.py) handles most cases at
runtime; explicit salting remains necessary when a single hot key exceeds
what post-shuffle splitting can fix (e.g. one video id with millions of
clips, or a stop-shingle) — especially for aggregations, which AQE does not
re-split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_aggregate(df: DataFrame, aggs: list) -> DataFrame:
    """Two-phase aggregation for a hot ``event_type``: aggregate on
    (event_type, salt) first (spreads the hot key across reducers), then
    merge per key.  Only
    works for algebraic aggregates expressed as (partial, merge) pairs; pass
    ``aggs`` as [(partial_col_expr, merge_fn, out_name), ...] where merge_fn
    maps the partial column name to a final aggregate expression.

    Note: Spark's hash aggregation already does map-side partial combine, so
    this is for the residual case where even post-combine one key dominates
    (billions of rows per key across thousands of map tasks).
    """
    salted = df.withColumn("_salt", (F.rand(seed=42) * 16).cast("int"))
    partial = salted.groupBy("event_type", "_salt").agg(
        *[expr.alias(f"_p_{name}") for expr, _merge, name in aggs]
    )
    return partial.groupBy("event_type").agg(
        *[merge(f"_p_{name}").alias(name) for _expr, merge, name in aggs]
    )
