"""Corpus analytics (``analyze/analyze_vids.py`` parity): duration stats,
bucket histograms with the reference's exact bin edges, category counts.

The reference loops over metadata dicts and matplotlib-pies the result
(analyze_vids.py:42-51); here each is one aggregation over the clips/videos
snapshot and returns a DataFrame (plot-ready, engine-agnostic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from lvm_datapipe_spark.operators.aggregates import (
    bucket_index,
    corpus_stats,
    corpus_stats_columns,
    histogram,
)

# analyze_vids.py:43 — np.histogram bins (last bin unbounded)
DURATION_BINS = [0.0, 5.0, 10.0, 60.0, 300.0, 600.0, 1800.0, 3600.0]
DURATION_LABELS = [
    "0-5s",
    "5-10s",
    "10-60s",
    "1-5min",
    "5-10min",
    "10-30min",
    "30-60min",
    ">1h",
]


def duration_stats(clips: DataFrame) -> DataFrame:
    """analyze_vids.py:42 — sum + mean (plus min/max/count for free)."""
    return corpus_stats(clips, "clip_duration")


def duration_histogram(clips: DataFrame) -> DataFrame:
    """analyze_vids.py:43-51 — the pie-chart bucket counts, labeled."""
    from pyspark.sql import functions as F

    out = histogram(clips, "clip_duration", DURATION_BINS)
    label = None
    for i, name in enumerate(DURATION_LABELS):
        label = (
            F.when(F.col("bucket") == i, name) if label is None else label.when(F.col("bucket") == i, name)
        )
    return out.withColumn("label", label)


def duration_summary(clips: DataFrame) -> DataFrame:
    """:func:`duration_stats` and the :func:`duration_histogram` counts in ONE
    global aggregate (one scan, one single-row result): the stats columns
    (total, mean, min, max, n) plus one count column per
    ``DURATION_LABELS`` bucket, 0 where the histogram has no row.  A row
    whose bucket is null (null or negative duration) counts in ``n`` but in
    no bucket, exactly as in the two separate aggregates."""
    from pyspark.sql import functions as F

    bucket = bucket_index("clip_duration", DURATION_BINS)
    return clips.agg(
        *corpus_stats_columns("clip_duration"),
        *[F.count(F.when(bucket == i, 1)).alias(name) for i, name in enumerate(DURATION_LABELS)],
    )


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-scan numeric column profiling: (column, n_rows, n_nulls, min,
    max, decimal-exact mean) per requested column — the table-health
    report a pipeline prints before processing a new drop.  ALL columns
    profile in a SINGLE aggregate (4 conditional aggregations per column,
    map-side partials) and a stack() unpivot turns the one wide row into
    |cols| rows — k columns never cost k scans (the validate.row_checks
    discipline)."""
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.operators.aggregates import decimal_avg

    aggs = []
    for i, c in enumerate(cols):
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"nn_{i}"),
            F.min(F.col(c).cast("double")).alias(f"mn_{i}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{i}"),
            decimal_avg(F.col(c).cast("double")).alias(f"av_{i}"),
        ]
    wide = df.agg(*aggs, F.count(F.lit(1)).cast("long").alias("n"))
    pairs = ", ".join(
        f"'{c}', nn_{i}, mn_{i}, mx_{i}, av_{i}" for i, c in enumerate(cols)
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {pairs}) AS (column, n_nulls, min_value, max_value, mean_value)",
        "n AS n_rows",
    ).select("column", "n_rows", "n_nulls", "min_value", "max_value", "mean_value")
