"""Structured Streaming transformations (SURVEY.md §2.9 extension layer).

The reference is batch-only; its resume-marker pattern (F2/F3) is a manual
substitute for incremental processing.  Here the same clip/event tables get
real incremental semantics:

- tumbling-window aggregation whose PLAN IS THE BATCH PLAN — the
  ``events_tumbling_window`` oracle query and :func:`windowed_counts` are the
  same transformation applied to a batch or streaming DataFrame,
- stream-static enrichment and a watermarked stream-stream interval join,
- a parquet sink (:func:`start_to_parquet`).

All transformations take a DataFrame and work identically on batch and
streaming inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lvm_datapipe_spark.operators.aggregates import decimal_sum


def ensure_event_time(events: DataFrame) -> DataFrame:
    """Normalize the event-time column to TIMESTAMP (with local-tz semantics).

    Spark >= 4 infers parquet timestamps written without UTC adjustment as
    TIMESTAMP_NTZ, but ``withWatermark`` only accepts TIMESTAMP — a stream
    built straight off such files fails analysis with
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.  The cast interprets the NTZ wall
    clock in the session timezone; pipelines pin
    ``spark.sql.session.timeZone=UTC`` (session.py) so the instant is exact
    and the round-trip back to NTZ is the identity."""
    if isinstance(events.schema["ts"].dataType, T.TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def windowed_counts(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour per-type counts + value sums, watermarked 2 hours
    behind event time.  On a batch input the watermark is a no-op, and the
    aggregate is the oracle-checked ``events_tumbling_window`` query."""
    src = ensure_event_time(events).withWatermark("ts", "2 hours")
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), decimal_sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join each micro-batch of the event stream
    against a static dimension table (customer attributes, video metadata).

    Stream-static joins need NO watermark and keep NO state — Spark re-plans
    the static side per micro-batch, and a broadcast-sized dim costs a
    map-side hash probe per event (the same plan the batch form gets, which
    is what makes the batch≡stream property testable).  Works identically on
    a batch DataFrame, so the batch form serves as the oracle."""
    d = F.broadcast(dim.withColumnRenamed("c_custkey", "user_id"))
    return events.join(d, "user_id", "left")


def interval_join_views_purchases(
    views: DataFrame,
    purchases: DataFrame,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream INNER join with an event-time interval: each purchase
    matches the same user's views in ``[purchase.ts - horizon, purchase.ts]``
    (attribution inside a bounded lookback).

    The time-range condition is what makes this run UNBOUNDED: with both
    sides watermarked and the join range closed, Spark evicts buffered rows
    once ``watermark + horizon`` passes — without the range the state grows
    forever.  On batch inputs ``withWatermark`` is a no-op and the identical
    expression is the oracle-checked ``stream_interval_join`` query, so
    batch ≡ stream is testable on the same data.

    ``how="left_outer"`` keeps purchases with NO view in the lookback
    (null view columns).  In streaming mode the null row for a purchase
    emits only once the watermark passes the point where no future view
    can match it — so outer results trail the watermark by design; the
    batch twin (``stream_interval_join_outer``) is the oracle form."""
    horizon = "1 hour"
    v = ensure_event_time(views).withWatermark("ts", "2 hours").alias("v")
    p = ensure_event_time(purchases).withWatermark("ts", "2 hours").alias("p")
    cond = (
        (F.col("v.user_id") == F.col("p.user_id"))
        & (F.col("v.ts") <= F.col("p.ts"))
        & (F.col("v.ts") >= F.col("p.ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return p.join(v, cond, how).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("v.event_id").alias("view_id"),
        F.col("v.ts").alias("view_ts"),
        F.col("v.value").alias("view_value"),
    )


def start_to_parquet(df: DataFrame, path: str, checkpoint: str):
    """Production sink: append parquet with checkpointed exactly-once."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def watermark_drop_audit(events: DataFrame) -> DataFrame:
    """Batch watermark-tuning audit (the core of the declared
    ``events_watermark_drop_audit`` query): replay each stream partition
    (``event_type``) in ARRIVAL order (``arr, event_id`` — a data-driven
    total order, e.g. an ingest sequence number), track the running
    event-time (``tsec``, epoch seconds) high-water mark, and for each
    candidate delay of 0, 60, 600 and 3600 s report how many events arrive
    later than ``high_water - delay`` — i.e. would be dropped by a stateful
    streaming operator watermarked at that delay.

    Arrival order comes from DATA, not from any synthetic expression, so
    the audit semantics are testable with shuffled-arrival fixtures
    independent of how a caller derives the order (the declared query
    passes a deterministic producer-jitter order; the pytest fixture
    passes an explicitly scrambled ingest sequence).

    Scale shape: one keyed running-max window (parallelism = partition
    count, O(1) state per key — the same sequential cost the streaming
    job itself pays), a literal delay-grid explode, one keyed aggregate.
    All integer arithmetic (epoch seconds, ppm via integer division)."""
    from pyspark.sql import Window

    key_col, tsec_col = "event_type", "tsec"
    delays = (0, 60, 600, 3600)
    w = (
        Window.partitionBy(key_col)
        .orderBy("arr", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    a = events.select(
        key_col,
        tsec_col,
        F.max(tsec_col).over(w).alias("high_water"),
    )
    lat = a.select(
        key_col, (F.col("high_water") - F.col(tsec_col)).alias("late_s")
    )
    d = lat.select(
        key_col,
        "late_s",
        F.explode(F.array(*[F.lit(int(x)) for x in delays])).alias("delay_s"),
    )
    return (
        d.groupBy(key_col, "delay_s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("late_s") > F.col("delay_s"), 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
            F.max("late_s").cast("long").alias("max_late_s"),
        )
        .select(
            key_col,
            F.col("delay_s").cast("long").alias("delay_s"),
            "n_events",
            "n_dropped",
            F.expr("n_dropped * 1000000 DIV n_events").alias("drop_ppm"),
            "max_late_s",
        )
    )
