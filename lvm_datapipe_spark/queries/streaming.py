"""Structured Streaming queries: windowed and session aggregations, stream
joins and watermarks, two of them run end to end into a checkpointed sink."""

from __future__ import annotations

import contextlib as _contextlib
import datetime as _dt
import os
import shutil
import tempfile as _tf

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.queries._shared import ORACLE_SQL, _dsum, _q
from lvm_datapipe_spark.streaming import events as EV
from lvm_datapipe_spark.streaming.events import (
    enrich_stream, interval_join_views_purchases, watermark_drop_audit
)


# ---------------------------------------------------------------------------
# Streaming-shaped batch: tumbling-window aggregation over the events table
# (Structured Streaming extension, SURVEY.md §2.9 — same plan batch/stream).
# ---------------------------------------------------------------------------


@_q(
    "events_tumbling_window",
    f"""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           {_dsum('value')} AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window counts per event_type -- the batch
    equivalent of the streaming tumbling-window aggregation
    (streaming/events.py), sharing its window semantics."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), A.decimal_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


# ---------------------------------------------------------------------------
# Streaming SINK verification: the same tumbling-window aggregation executed
# as a real Structured Streaming query (file source → watermark → window agg
# → checkpointed parquet sink), then the sink read back and hash-compared to
# the batch oracle.  Batch/stream equivalence, oracle-visible.
# ---------------------------------------------------------------------------


def _ephemeral_stream_dir(prefix: str) -> str:
    """Per-invocation temp root (landing dir, sink, checkpoint) of a
    streaming-sink verification query, never used for recovery:
    $SPARK_GRAFT_STREAM_TMP when set, else tmpfs when writable, else the
    system default."""
    root = os.environ.get("SPARK_GRAFT_STREAM_TMP")
    if root is None and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        root = "/dev/shm"
    return _tf.mkdtemp(prefix=prefix, dir=root)

#: shuffle (state-store) partitions of a streaming-sink verification query;
#: read at call time
STREAM_STATE_PARTITIONS = 8


@_contextlib.contextmanager
def _stream_state_partitions(spark: SparkSession):
    """Pin ``spark.sql.shuffle.partitions`` to ``STREAM_STATE_PARTITIONS``
    for the lifetime of one streaming-sink verification query.

    A stateful streaming aggregation creates ONE state store (files, commit
    traffic, task) per shuffle partition, and the count is frozen into the
    checkpoint by the first micro-batch — so it should be sized to the STATE
    keyspace, not inherited from the batch session's cores-sized default.
    For the window×event_type aggregations here the keyspace is bounded by
    the event-time span (~hundreds of keys) and is INDEPENDENT of corpus
    size: rows per key grow with the data, keys do not. The count is
    ``STREAM_STATE_PARTITIONS``. Result rows are partition-count-
    independent (exact hash aggregation); only state/sink file fan-out
    changes."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def _stream_to_sink(spark: SparkSession, ev: DataFrame, prefix: str, aggregate) -> DataFrame:
    """Run ``aggregate`` (a streaming events DataFrame -> its streaming
    aggregation) as a Structured Streaming query into a checkpointed parquet
    sink: ``ev`` lands as parquet in a fresh :func:`_ephemeral_stream_dir`,
    and a far-future sentinel event (user_id -1, event_type
    ``flush_sentinel``, year 2100) lands as a second micro-batch so append
    mode flushes every real window. Returns the sink as an eager
    ``localCheckpoint`` (the temp dir is removed before the return); the
    caller drops the sentinel's rows."""
    base = _ephemeral_stream_dir(prefix)
    landing, sink, ckpt = f"{base}/landing", f"{base}/sink", f"{base}/ckpt"
    try:
        ev.write.mode("overwrite").parquet(landing)

        with _stream_state_partitions(spark):
            stream = spark.readStream.schema(ev.schema).parquet(landing)
            q = EV.start_to_parquet(aggregate(stream), sink, ckpt)
            q.processAllAvailable()

            sentinel = {f.name: None for f in ev.schema.fields}
            sentinel.update(
                event_id=-1,
                ts=_dt.datetime(2100, 1, 1),
                user_id=-1,
                event_type="flush_sentinel",
                value=0.0,
            )
            spark.createDataFrame(
                [Row(**{f.name: sentinel[f.name] for f in ev.schema.fields})], ev.schema
            ).write.mode("append").parquet(landing)
            q.processAllAvailable()
            q.stop()

        return spark.read.parquet(sink).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@_q(
    "stream_sink_tumbling_window",
    ORACLE_SQL["events_tumbling_window"],
)
def stream_sink_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs windowed_counts as a streaming job into a checkpointed parquet
    sink (streaming/events.py:start_to_parquet) and returns the sink
    contents, without the far-future sentinel's window."""
    ev = load_table(spark, sf_dir, "events")
    out = _stream_to_sink(spark, ev, "stream_sink_q_", EV.windowed_counts).filter(
        F.col("event_type") != "flush_sentinel"
    )
    # The stream casts an NTZ event-time to TIMESTAMP for the watermark
    # (streaming/events.py:ensure_event_time); cast the window back so the
    # result schema matches the batch/oracle form regardless of which flavor
    # the source parquet carried.  Session tz is UTC, so this is value-exact.
    if isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        out = out.withColumn("window_start", F.col("window_start").cast("timestamp_ntz"))
    return out


@_q(
    "events_enriched",
    """
    SELECT e.event_id, e.event_type, e.value, c.c_mktsegment, c.c_acctbal
    FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
    """,
)
def events_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static enrichment join (streaming/events.py::
    enrich_stream — broadcast dim, no state, identical plan in both modes;
    the stream≡batch property is tested in tests/test_streaming.py)."""
    events = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    return enrich_stream(events, cust).select(
        "event_id", "event_type", "value", "c_mktsegment", "c_acctbal"
    )


@_q(
    "events_sliding_window",
    f"""
    WITH g AS (
      SELECT event_type, value,
             time_bucket(INTERVAL '30 minutes', ts) AS grid
      FROM events),
    x AS (
      SELECT event_type, value, grid - k.k * INTERVAL '30 minutes' AS window_start
      FROM g CROSS JOIN (SELECT unnest([0, 1]) AS k) k)
    SELECT window_start, event_type,
           COUNT(*) AS n, {_dsum('value')} AS total_value
    FROM x GROUP BY 1, 2
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (1-hour window, 30-minute slide): every
    event lands in exactly window/slide = 2 overlapping windows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"), A.decimal_sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


@_q(
    "stream_interval_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM events p JOIN events v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND v.event_type = 'view'
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (attribution: views in
    the hour before each purchase, same user)."""
    ev = load_table(spark, sf_dir, "events")
    out = interval_join_views_purchases(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    # match the source timestamp flavor (see stream_sink_tumbling_window)
    if isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        out = out.withColumn(
            "purchase_ts", F.col("purchase_ts").cast("timestamp_ntz")
        ).withColumn("view_ts", F.col("view_ts").cast("timestamp_ntz"))
    return out


@_q(
    "stream_interval_join_outer",
    """
    SELECT p.event_id AS purchase_id, p.user_id AS user_id, p.ts AS purchase_ts,
           v.event_id AS view_id, v.ts AS view_ts, v.value AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts <= p.ts
     AND v.ts >= p.ts - INTERVAL 1 HOUR
    """,
)
def stream_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join: every purchase, with nulls where no view
    fell in the lookback — the attribution report that also counts
    unattributed conversions."""

    ev = load_table(spark, sf_dir, "events")
    out = interval_join_views_purchases(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        how="left_outer",
    )
    if isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        out = out.withColumn(
            "purchase_ts", F.col("purchase_ts").cast("timestamp_ntz")
        ).withColumn("view_ts", F.col("view_ts").cast("timestamp_ntz"))
    return out


@_q(
    "events_native_session_window",
    f"""
    WITH flagged AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS sid
      FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           {_dsum('value')} AS session_value
    FROM sessions GROUP BY user_id, sid
    """,
)
def events_native_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's native session_window aggregation cross-checked against the
    gaps-and-islands oracle: an event joins a session iff it lands strictly
    before the previous event's time + gap, and window.end is last_event +
    gap."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
        F.count(F.lit(1)).alias("n_events"),
        A.decimal_sum("value").alias("session_value"),
    )
    return g.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "session_value",
    )


@_q(
    "stream_sink_session_window",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts >= LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS sid
      FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def stream_sink_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runs the native session_window aggregation as a streaming job
    (watermark, append mode, checkpointed parquet sink) and returns the sink
    contents, which equal the batch [[events_native_session_window]].

    Scale shape: streaming state is one open session per active user (keyed
    by user_id), closed sessions stream out append-only — the
    constant-memory production sessionizer."""

    def sessionize(stream):
        return (
            EV.ensure_event_time(stream)
            .withWatermark("ts", "2 hours")
            .groupBy("user_id", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                F.col("session_window.end").alias("session_end"),
                "n_events",
            )
        )

    ev = load_table(spark, sf_dir, "events")
    out = _stream_to_sink(spark, ev, "stream_sess_q_", sessionize).filter(
        F.col("user_id") != -1
    )
    # ensure_event_time casts an NTZ event-time to TIMESTAMP for the
    # watermark; cast the session bounds back so the result schema matches
    # the oracle regardless of the source flavor (UTC session: value-exact).
    if isinstance(ev.schema["ts"].dataType, T.TimestampNTZType):
        out = out.withColumn(
            "session_start", F.col("session_start").cast("timestamp_ntz")
        ).withColumn("session_end", F.col("session_end").cast("timestamp_ntz"))
    return out


@_q(
    "events_watermark_drop_audit",
    """
    WITH e AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
             event_id,
             event_id + ((event_id % 29) * (2654435761 % 29)) % 29 AS arr
      FROM events),
    a AS (
      SELECT event_type, tsec,
             MAX(tsec) OVER (
               PARTITION BY event_type ORDER BY arr, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS high_water
      FROM e),
    lat AS (SELECT event_type, high_water - tsec AS late_s FROM a),
    d AS (SELECT lat.*, unnest([0, 60, 600, 3600]) AS delay_s FROM lat),
    g AS (SELECT event_type, delay_s,
                 CAST(count(*) AS BIGINT) AS n_events,
                 CAST(SUM(CASE WHEN late_s > delay_s THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_dropped,
                 CAST(MAX(late_s) AS BIGINT) AS max_late_s
          FROM d GROUP BY event_type, delay_s)
    SELECT event_type, CAST(delay_s AS BIGINT) AS delay_s, n_events,
           n_dropped,
           CAST(n_dropped * 1000000 // n_events AS BIGINT) AS drop_ppm,
           max_late_s
    FROM g
    """,
)
def events_watermark_drop_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark audit: replay each stream partition (event_type) in arrival
    order, track the event-time high-water mark, and for each candidate
    delay count the events that arrive later than high_water - delay.

    Scale shape: one keyed running-max window (key = the stream partition;
    parallelism = partition count and per-key state is O(1), the same
    sequential-scan cost the streaming job itself pays), a x4 literal
    delay-grid explode, one keyed aggregate. All integer (epoch seconds)."""
    ev = load_table(spark, sf_dir, "events")
    # mod-first so the intermediate product stays bounded: the naive
    # event_id * 2654435761 overflows BIGINT once event_id > ~3.47e9 —
    # Spark wraps to a negative long (or throws under ANSI) while DuckDB
    # raises, silently diverging the arrival order at 100 TB id ranges.
    # ((a % m) * (b % m)) % m is the same value wherever both compute.
    arr = (
        F.col("event_id")
        + ((F.col("event_id") % F.lit(29)) * F.lit(2654435761 % 29))
        % F.lit(29)
    ).alias("arr")
    tsec = F.unix_timestamp("ts").cast("long")

    return watermark_drop_audit(ev.select("event_type", tsec.alias("tsec"), "event_id", arr))
