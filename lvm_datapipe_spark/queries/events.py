"""Event-stream queries over ``events``: sessions, funnels, attribution,
retention, as-of and range joins, and time-series readouts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators.asof import asof_join, binned_range_join, range_join
from lvm_datapipe_spark.operators.skew import salted_aggregate
from lvm_datapipe_spark.operators.timeseries import user_value_profiles
from lvm_datapipe_spark.queries._shared import _dsum, _pctile_mirror_sql, _q


# ---------------------------------------------------------------------------
# Sessionization — gaps-and-islands with a 30-minute inactivity gap (the
# streaming session-window semantics, computed identically in batch SQL).
# ---------------------------------------------------------------------------

#: oracle CTEs ``flagged`` and ``sessions``: every event with its 30-minute-
#: gap ``session_id`` per user — the SQL mirror of :func:`_sessions`
_SESSIONS_SQL = """WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts, event_id, event_type,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS session_id
      FROM flagged)"""


def _sessions(ev: DataFrame) -> DataFrame:
    """``ev`` with ``is_new`` and ``session_id``: a user's next session
    starts at an event more than 30 minutes after the previous one, in (ts,
    event_id) order."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull() | (F.col("ts") > prev_ts + F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return ev.withColumn("is_new", is_new).withColumn(
        "session_id", F.sum(F.col("is_new").cast("long")).over(w)
    )


@_q(
    "w3_sessionize",
    f"""
    {_SESSIONS_SQL}
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """,
)
def w3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize (W3): 30-minute-gap session ids per user via lag +
    running sum over the per-user window, then per-session event counts and
    bounds."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Temporal joins: as-of and range (extension operators, operators/asof.py)
# ---------------------------------------------------------------------------


@_q(
    "asof_last_view_before_purchase",
    """
    WITH v AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'),
         p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
    SELECT event_id, user_id, ts, last_view_id, last_view_value FROM (
      SELECT p.event_id, p.user_id, p.ts,
             v.event_id AS last_view_id, v.value AS last_view_value,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                  ORDER BY v.ts DESC, v.event_id DESC) AS rn
      FROM p JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts)
    WHERE rn = 1
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join via the union+window plan (linear, one shuffle) —
    the oracle states the same semantics as a join-then-rank, which is only
    viable at oracle scale."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.col("event_id").alias("last_view_id"),
        F.col("value").alias("last_view_value"),
    )
    out = asof_join(
        purchases,
        views,
        right_values=["last_view_id", "last_view_value"],
        tie_col="last_view_id",
    )
    return out.filter(F.col("last_view_id").isNotNull())


@_q(
    "range_join_first_day_events",
    """
    WITH iv AS (SELECT user_id, MIN(ts) AS start_ts,
                       MIN(ts) + INTERVAL 1 DAY AS end_ts
                FROM events GROUP BY user_id)
    SELECT e.user_id, COUNT(*) AS n_first_day
    FROM events e JOIN iv ON e.user_id = iv.user_id
     AND e.ts >= iv.start_ts AND e.ts <= iv.end_ts
    GROUP BY e.user_id
    """,
)
def range_join_first_day_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join (equi-keyed on user → hash join with range
    residual, the clip→frame-span shape of macvid.py:21)."""
    ev = load_table(spark, sf_dir, "events")
    intervals = ev.groupBy("user_id").agg(
        F.min("ts").alias("start_ts"),
        (F.min("ts") + F.expr("INTERVAL 1 DAY")).alias("end_ts"),
    )
    joined = range_join(ev.select("user_id", "ts"), intervals)
    return joined.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_first_day"))


# ---------------------------------------------------------------------------
# Hypertable-style continuous aggregate: one pass, multiple time
# granularities via GROUPING SETS (the TimescaleDB rollup shape)
# ---------------------------------------------------------------------------


@_q(
    "hypertable_rollup",
    f"""
    WITH b AS (
      SELECT event_type,
             time_bucket(INTERVAL '1 day', ts) AS day_bucket,
             time_bucket(INTERVAL '1 hour', ts) AS hour_bucket,
             value
      FROM events)
    SELECT event_type, day_bucket, hour_bucket,
           COUNT(*) AS n, {_dsum('value')} AS total_value
    FROM b
    GROUP BY GROUPING SETS ((event_type, day_bucket),
                            (event_type, day_bucket, hour_bucket))
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity time rollup in ONE aggregation pass: hour- and
    day-level rows produced together via GROUPING SETS (hour rows carry the
    day bucket; day rows have hour_bucket NULL)."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_events_rollup_src")
    return spark.sql(
        """
        WITH b AS (
          SELECT event_type,
                 date_trunc('DAY', ts) AS day_bucket,
                 date_trunc('HOUR', ts) AS hour_bucket,
                 value
          FROM _events_rollup_src)
        SELECT event_type, day_bucket, hour_bucket,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        FROM b
        GROUP BY GROUPING SETS ((event_type, day_bucket),
                                (event_type, day_bucket, hour_bucket))
        """
    )


@_q(
    "asof_next_purchase_after_view",
    """
    WITH v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
         p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')
    SELECT event_id, user_id, ts, next_purchase_id, next_purchase_value FROM (
      SELECT v.event_id, v.user_id, v.ts,
             p.event_id AS next_purchase_id, p.value AS next_purchase_value,
             ROW_NUMBER() OVER (PARTITION BY v.event_id
                  ORDER BY p.ts ASC, p.event_id ASC) AS rn
      FROM v JOIN p ON p.user_id = v.user_id AND p.ts >= v.ts)
    WHERE rn = 1
    """,
)
def asof_next_purchase_after_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (time-to-conversion: the first purchase at or
    after each view, per user) — same single union+window shuffle as the
    backward form, frame flipped to currentRow..unboundedFollowing."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("next_purchase_id"),
        F.col("value").alias("next_purchase_value"),
    )
    out = asof_join(
        views,
        purchases,
        right_values=["next_purchase_id", "next_purchase_value"],
        tie_col="next_purchase_id",
        direction="forward",
    )
    return out.filter(F.col("next_purchase_id").isNotNull())


@_q(
    "skew_salted_event_stats",
    f"""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           {_dsum('value')} AS total_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation on a LOW-CARDINALITY hot key (5 event
    types): phase 1 aggregates on (key, salt), phase 2 merges partials per
    key."""
    ev = load_table(spark, sf_dir, "events")
    aggs = [
        (F.count(F.lit(1)), lambda c: F.sum(c).cast("bigint"), "n"),
        (
            F.sum(F.col("value").cast("decimal(27,6)")),
            lambda c: F.sum(c).cast("double"),
            "total_value",
        ),
    ]
    return salted_aggregate(ev, aggs)


@_q(
    "events_zscore_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6)) * CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           (e.value - s.s1 / s.n)
             / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE s.n > 1
      AND abs((e.value - s.s1 / s.n)
          / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1))) > 3.0
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers with engine-exact variance from exact
    DECIMAL moment sums (S1, S2). Plan: one aggregate, broadcast of the tiny
    stats table, map-side filter."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(27,6)")
    # decimal -> double via STRING: both engines correctly round
    # string->double, while their native decimal->double conversions differ
    # in the last ulp once the scaled integer exceeds 53 bits (s2 does)
    stats = ev.groupBy("event_type").agg(
        F.sum(dec).cast("string").cast("double").alias("s1"),
        F.sum(dec * dec).cast("string").cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    j = ev.join(F.broadcast(stats), "event_type").filter(F.col("n") > 1)
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("value") - mean) / F.sqrt(var)
    return (
        j.withColumn("zscore", z)
        .filter(F.abs(F.col("zscore")) > 3.0)
        .select("event_id", "event_type", "value", "zscore")
    )


@_q(
    "funnel_first_touch_counts",
    """
    WITH m AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
             min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
             min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
      FROM events GROUP BY user_id)
    SELECT
      CAST(count(*) FILTER (WHERE first_view IS NOT NULL) AS BIGINT) AS n_view,
      CAST(count(*) FILTER (WHERE first_view IS NOT NULL
           AND first_click > first_view) AS BIGINT) AS n_view_click,
      CAST(count(*) FILTER (WHERE first_view IS NOT NULL
           AND first_click > first_view
           AND first_purchase > first_click) AS BIGINT) AS n_view_click_purchase
    FROM m
    """,
)
def funnel_first_touch_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-TOUCH conversion funnel (view → click → purchase, strictly
    increasing first-occurrence times) in ONE pass: conditional min per
    stage, then filtered counts — no joins, no sessionization needed."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    m = ev.groupBy("user_id").agg(
        first_of("view").alias("first_view"),
        first_of("click").alias("first_click"),
        first_of("purchase").alias("first_purchase"),
    )
    step1 = F.col("first_view").isNotNull()
    step2 = step1 & (F.col("first_click") > F.col("first_view"))
    step3 = step2 & (F.col("first_purchase") > F.col("first_click"))
    return m.agg(
        F.count_if(step1).alias("n_view"),
        F.count_if(step2).alias("n_view_click"),
        F.count_if(step3).alias("n_view_click_purchase"),
    )


@_q(
    "events_markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events),
    cnt AS (
      SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS total FROM cnt
      GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS p
    FROM cnt c JOIN tot t ON c.from_type = t.from_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences —
    the behavioral-model fingerprint (what follows what, how often) used for
    bot detection and funnel design."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    tot = cnt.groupBy("from_type").agg(F.sum("n").alias("total"))
    return cnt.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias("p"),
    )


@_q(
    "events_mad_outliers",
    """
    WITH med AS (
      SELECT event_type, CAST(median(value) AS DOUBLE) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type,
             CAST(median(abs(e.value - m.med)) AS DOUBLE) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type),
    j AS (
      SELECT e.event_id, e.event_type, e.value, m.med, d.mad
      FROM events e
      JOIN med m ON e.event_type = m.event_type
      JOIN mad d ON e.event_type = d.event_type)
    SELECT event_id, event_type, value,
           0.6745 * (value - med) / mad AS robust_z
    FROM j
    WHERE mad > 0.0 AND abs(0.6745 * (value - med) / mad) > 3.5
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    mean/stddev z-score (events_zscore_outliers) breaks down when the
    outliers themselves inflate the variance; MAD is 50%-breakdown robust."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.median("value").cast("double").alias("med")
    )
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).cast("double").alias("mad"))
    )
    j = ev.join(F.broadcast(med), "event_type").join(F.broadcast(mad), "event_type")
    rz = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        j.filter((F.col("mad") > 0.0) & (F.abs(rz) > 3.5))
        .select("event_id", "event_type", "value", rz.alias("robust_z"))
    )


@_q(
    "events_top_trigrams",
    """
    WITH seq AS (
      SELECT event_type AS t1,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY t1, t2, t3
    """,
)
def events_top_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining lite: per-user event TRIGRAM counts (the
    navigation-path / behavior-motif table extending the Markov bigram
    matrix one step deeper)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return seq.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "match_view_purchase_mutual",
    """
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS view_ts FROM events
      WHERE event_type = 'view'),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM events
      WHERE event_type = 'purchase'),
    cand AS (
      SELECT v.user_id, v.view_id, v.view_ts, p.purchase_id, p.purchase_ts,
             abs(CAST(floor(epoch(p.purchase_ts)) AS BIGINT)
                 - CAST(floor(epoch(v.view_ts)) AS BIGINT)) AS d
      FROM v JOIN p ON v.user_id = p.user_id
      WHERE abs(CAST(floor(epoch(p.purchase_ts)) AS BIGINT)
                - CAST(floor(epoch(v.view_ts)) AS BIGINT)) <= 3600),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, view_id
                                ORDER BY d, purchase_ts, purchase_id) AS rv,
             row_number() OVER (PARTITION BY user_id, purchase_id
                                ORDER BY d, view_ts, view_id) AS rp
      FROM cand)
    SELECT user_id, view_id, purchase_id, CAST(d AS BIGINT) AS gap_s
    FROM r WHERE rv = 1 AND rp = 1
    """,
)
def match_view_purchase_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-TO-ONE event matching: pair each view with its nearest purchase
    within an hour, each purchase used at most once."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    d = F.abs(
        F.unix_timestamp("purchase_ts") - F.unix_timestamp("view_ts")
    )
    cand = v.join(p, "user_id").withColumn("d", d).filter(F.col("d") <= 3600)
    wv = Window.partitionBy("user_id", "view_id").orderBy(
        "d", "purchase_ts", "purchase_id"
    )
    wp = Window.partitionBy("user_id", "purchase_id").orderBy(
        "d", "view_ts", "view_id"
    )
    return (
        cand.withColumn("rv", F.row_number().over(wv))
        .withColumn("rp", F.row_number().over(wp))
        .filter((F.col("rv") == 1) & (F.col("rp") == 1))
        .select("user_id", "view_id", "purchase_id", F.col("d").cast("long").alias("gap_s"))
    )


@_q(
    "range_join_active_spans",
    """
    WITH pts AS (
      SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t
      FROM events WHERE event_type = 'purchase'),
    spans AS (
      SELECT user_id,
             CAST(floor(epoch(MIN(ts))) AS BIGINT) AS t0,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) AS t1
      FROM events GROUP BY user_id)
    SELECT p.event_id, CAST(count(*) AS BIGINT) AS n_covering_spans
    FROM pts p JOIN spans s ON p.t >= s.t0 AND p.t <= s.t1
    GROUP BY p.event_id
    """,
)
def range_join_active_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYLESS point-in-interval join via operators/asof.py::
    binned_range_join — for each purchase event, how many users' activity
    spans cover its timestamp."""
    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", F.unix_timestamp("ts").alias("t"))
    )
    spans = ev.groupBy("user_id").agg(
        F.unix_timestamp(F.min("ts")).alias("t0"),
        F.unix_timestamp(F.max("ts")).alias("t1"),
    )
    joined = binned_range_join(pts, spans)
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_covering_spans")
    )


@_q(
    "events_hourly_distinct_users",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY window_start
    """,
)
def events_hourly_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per hourly tumbling window: each row lands in
    exactly one window, so the count-distinct shuffle moves the corpus once."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(F.col("w.start").alias("window_start"), "n_users")
    )


@_q(
    "events_props_variant",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(COUNT(json_extract_string(props, '$.k')) AS BIGINT) AS n_k
    FROM events
    GROUP BY event_type
    """,
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props through the VARIANT type: parse the JSON string
    once, then path-extract with ``variant_get``."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_k"),
        )
    )


@_q(
    "user_value_profiles",
    """
    WITH pos AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, value) - 1
               AS p,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM events)
    SELECT user_id, CAST((p * 8) // n AS BIGINT) AS bucket,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) / COUNT(value)
             AS profile_value
    FROM pos
    GROUP BY user_id, (p * 8) // n
    """,
)
def user_value_profiles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length trajectory profiles (timeseries.user_value_profiles):
    every user's event-value sequence resampled to 8 equi-count buckets of
    decimal means."""
    ev = load_table(spark, sf_dir, "events")
    return user_value_profiles(ev)


@_q(
    "events_autocorrelation",
    """
    WITH seq AS (
      SELECT user_id, value,
             lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev
      FROM events),
    pairs AS (
      SELECT user_id, value, prev FROM seq WHERE prev IS NOT NULL),
    m AS (
      SELECT user_id,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(prev AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6)) * CAST(prev AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6)) * CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(prev AS DECIMAL(27,6)) * CAST(prev AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(count(*) AS BIGINT) AS n
      FROM pairs GROUP BY user_id)
    SELECT user_id, n,
           (sxy - sx * sy / n)
             / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS acf1
    FROM m
    WHERE n >= 8 AND (sxx - sx * sx / n) > CAST(0.0 AS DOUBLE)
      AND (syy - sy * sy / n) > CAST(0.0 AS DOUBLE)
    """,
)
def events_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each user's value sequence — the time-series
    FEATURE sibling of the trajectory profiles (is a user's signal
    trending/periodic or white?)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = lambda c: F.col(c).cast("decimal(27,6)")  # noqa: E731
    pairs = (
        ev.select(
            "user_id", "value", F.lag("value", 1).over(w).alias("prev")
        )
        .filter(F.col("prev").isNotNull())
    )
    # decimal -> string -> double: the agg_correlation recipe (a direct
    # decimal->double cast can differ from DuckDB's by 1 ulp on
    # rounding-boundary sums of decimal products)
    m = pairs.groupBy("user_id").agg(
        F.sum(d("value")).cast("string").cast("double").alias("sx"),
        F.sum(d("prev")).cast("string").cast("double").alias("sy"),
        F.sum(d("value") * d("prev")).cast("string").cast("double").alias("sxy"),
        F.sum(d("value") * d("value")).cast("string").cast("double").alias("sxx"),
        F.sum(d("prev") * d("prev")).cast("string").cast("double").alias("syy"),
        F.count(F.lit(1)).alias("n"),
    )
    vx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    vy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    acf = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.sqrt(vx * vy)
    return (
        m.filter((F.col("n") >= 8) & (vx > 0.0) & (vy > 0.0))
        .select("user_id", "n", acf.alias("acf1"))
    )


@_q(
    "events_changepoint",
    """
    WITH seq AS (
      SELECT user_id, event_id,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS sb,
             COUNT(value) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS nb,
             CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING) AS DOUBLE) AS sa,
             COUNT(value) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 1 FOLLOWING AND 8 FOLLOWING) AS na
      FROM events),
    jumps AS (
      SELECT user_id, event_id, abs(sb / 8 - sa / 8) AS jump
      FROM seq WHERE nb = 8 AND na = 8),
    mx AS (SELECT user_id, MAX(jump) AS mj FROM jumps GROUP BY user_id)
    SELECT j.user_id, CAST(MIN(j.event_id) AS BIGINT) AS change_event_id,
           MIN(j.jump) AS jump
    FROM jumps j JOIN mx ON mx.user_id = j.user_id AND j.jump = mx.mj
    GROUP BY j.user_id
    """,
)
def events_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CHANGE-POINT detection: the event where the mean of the 8
    values before differs most from the mean of the 8 after — the numeric
    analog of the scene-cut threshold (M1) on arbitrary series."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = F.col("value").cast("decimal(27,6)")
    before = w.rowsBetween(-8, -1)
    after = w.rowsBetween(1, 8)
    seq = ev.select(
        "user_id",
        "event_id",
        F.sum(d).over(before).cast("double").alias("sb"),
        F.count("value").over(before).alias("nb"),
        F.sum(d).over(after).cast("double").alias("sa"),
        F.count("value").over(after).alias("na"),
    )
    jumps = seq.filter((F.col("nb") == 8) & (F.col("na") == 8)).select(
        "user_id",
        "event_id",
        F.abs(F.col("sb") / 8 - F.col("sa") / 8).alias("jump"),
    )
    mx = jumps.groupBy("user_id").agg(F.max("jump").alias("mj"))
    return (
        jumps.join(
            mx.withColumnRenamed("user_id", "_u"),
            (F.col("user_id") == F.col("_u")) & (F.col("jump") == F.col("mj")),
        )
        .groupBy("user_id")
        .agg(
            F.min("event_id").alias("change_event_id"),
            F.min("jump").alias("jump"),
        )
    )


@_q(
    "events_winsorized",
    f"""
    WITH b AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           {_dsum('least(b.hi, greatest(b.lo, e.value))')} AS sum_winsorized,
           CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           CAST(count(*) AS BIGINT) AS n
    FROM events e JOIN b ON b.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def events_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the standard outlier-robust cleaning step: clip each
    value into its group's exact [p05, p95] band before aggregating."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clipped = F.least(F.col("hi"), F.greatest(F.col("lo"), F.col("value")))
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return (
        ev.join(
            F.broadcast(b.withColumnRenamed("event_type", "_t")),
            F.col("event_type") == F.col("_t"),
        )
        .groupBy("event_type")
        .agg(
            A.decimal_sum(clipped).alias("sum_winsorized"),
            F.sum(F.when(out_of_band, 1).otherwise(0)).alias("n_clipped"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@_q(
    "events_trend_slope",
    """
    WITH seq AS (
      SELECT user_id, value,
             CAST(row_number() OVER
               (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS BIGINT)
               AS x
      FROM events),
    m AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(x AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(27,6)) * CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(x AS DECIMAL(27,6)) * CAST(x AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sxx
      FROM seq GROUP BY user_id)
    SELECT user_id, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
    FROM m WHERE n >= 8
    """,
)
def events_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user least-squares trend over the event sequence: integer
    positions from a deterministic order, all four moments as DECIMAL sums,
    the slope in identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = (F.row_number().over(w) - 1).cast("long")
    d = lambda c: c.cast("decimal(27,6)")  # noqa: E731
    seq = ev.select("user_id", "value", x.alias("x"))
    # decimal -> string -> double: the agg_correlation recipe (see
    # events_autocorrelation)
    m = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("x"))).cast("string").cast("double").alias("sx"),
        F.sum(d(F.col("value"))).cast("string").cast("double").alias("sy"),
        F.sum(d(F.col("x")) * d(F.col("value"))).cast("string").cast("double").alias("sxy"),
        F.sum(d(F.col("x")) * d(F.col("x"))).cast("string").cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return m.filter(F.col("n") >= 8).select("user_id", "n", slope.alias("slope"))


@_q(
    "events_seasonal_residuals",
    f"""
    WITH base AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             {_dsum('value')} / COUNT(value) AS baseline,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, hour(ts)),
    dev AS (
      SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS BIGINT) AS hod,
             e.value - b.baseline AS residual
      FROM events e
      JOIN base b ON b.event_type = e.event_type
                 AND b.hod = hour(e.ts)
      WHERE b.n >= 10),
    mx AS (
      SELECT event_type, MAX(abs(residual)) AS mr FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(MIN(d.event_id) AS BIGINT) AS event_id,
           MIN(abs(d.residual)) AS abs_residual
    FROM dev d JOIN mx ON mx.event_type = d.event_type
                      AND abs(d.residual) = mx.mr
    GROUP BY d.event_type
    """,
)
def events_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomalies: per (event_type, hour-of-day) a
    decimal-exact mean baseline, and per type the event deviating furthest
    from its own hour's baseline."""
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour("ts").cast("long")
    base = ev.groupBy(
        "event_type", hod.alias("hod")
    ).agg(
        A.decimal_avg("value").alias("baseline"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = (
        ev.select("event_id", "event_type", hod.alias("hod"), "value")
        .join(
            F.broadcast(
                base.withColumnRenamed("event_type", "_t").withColumnRenamed(
                    "hod", "_h"
                )
            ),
            (F.col("event_type") == F.col("_t")) & (F.col("hod") == F.col("_h")),
        )
        .filter(F.col("n") >= 10)
        .select(
            "event_id",
            "event_type",
            "hod",
            (F.col("value") - F.col("baseline")).alias("residual"),
        )
    )
    mx = dev.groupBy("event_type").agg(
        F.max(F.abs("residual")).alias("mr")
    )
    return (
        dev.join(
            mx.withColumnRenamed("event_type", "_mt"),
            (F.col("event_type") == F.col("_mt"))
            & (F.abs(F.col("residual")) == F.col("mr")),
        )
        .groupBy("event_type")
        .agg(
            F.min("event_id").alias("event_id"),
            F.min(F.abs("residual")).alias("abs_residual"),
        )
    )


@_q(
    "events_interarrival_stats",
    """
    WITH seq AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events),
    g AS (SELECT user_id, gap_s FROM seq WHERE gap_s IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_s) AS BIGINT) AS total_gap_s,
           quantile_cont(CAST(gap_s AS DOUBLE), 0.5) AS median_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM g GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user INTER-ARRIVAL statistics — the activity-cadence features a
    sessionizer's gap threshold is tuned from (how long is a "normal"
    silence for this user?)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch_s = F.unix_timestamp("ts")
    gap = (epoch_s - F.lag(epoch_s, 1).over(w)).alias("gap_s")
    g = ev.select("user_id", gap).filter(F.col("gap_s").isNotNull())
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("total_gap_s"),
        F.percentile(F.col("gap_s").cast("double"), F.lit(0.5)).alias(
            "median_gap_s"
        ),
        F.max("gap_s").alias("max_gap_s"),
    )


@_q(
    "adaptive_sessionize",
    """
    WITH g0 AS (
      SELECT user_id, event_id, ts, epoch(ts) AS es,
             epoch(ts) - LAG(epoch(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
      FROM events),
    med AS (
      SELECT user_id,
             quantile_cont(CAST(gap_s AS DOUBLE), 0.5) AS med_gap
      FROM g0 WHERE gap_s IS NOT NULL GROUP BY user_id),
    th AS (
      SELECT g0.user_id, g0.event_id, g0.ts, g0.gap_s,
             greatest(300.0, least(3.0 * COALESCE(med.med_gap, 600.0),
                                   7200.0)) AS threshold_s
      FROM g0 LEFT JOIN med ON g0.user_id = med.user_id),
    flagged AS (
      SELECT user_id, event_id, ts, threshold_s,
             CASE WHEN gap_s IS NULL
                       OR CAST(gap_s AS DOUBLE) > threshold_s
                  THEN 1 ELSE 0 END AS is_new
      FROM th),
    sessions AS (
      SELECT user_id, ts, threshold_s,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id, threshold_s,
           COUNT(*) AS n_events,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id, threshold_s
    """,
)
def adaptive_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive sessionization: each user's session gap is 3x their median
    inter-arrival gap, clamped to [5 min, 2 h] (30 min for single-event
    users)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.unix_timestamp("ts")
    g0 = ev.select(
        "user_id",
        "event_id",
        "ts",
        (es - F.lag(es, 1).over(w)).alias("gap_s"),
    )
    med = (
        g0.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(F.percentile(F.col("gap_s").cast("double"), F.lit(0.5)).alias("med_gap"))
    )
    th = g0.join(med, "user_id", "left").withColumn(
        "threshold_s",
        F.greatest(
            F.lit(300.0),
            F.least(F.lit(3.0) * F.coalesce("med_gap", F.lit(600.0)), F.lit(7200.0)),
        ),
    )
    flagged = th.withColumn(
        "is_new",
        (
            F.col("gap_s").isNull()
            | (F.col("gap_s").cast("double") > F.col("threshold_s"))
        ).cast("int"),
    )
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = flagged.withColumn(
        "session_id", F.sum("is_new").over(ws).cast("bigint")
    )
    return sessions.groupBy("user_id", "session_id", "threshold_s").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def _first_views(ev: DataFrame) -> DataFrame:
    """``(user_id, t_view)``: each user's first view — the entry step of
    the ordered funnels."""
    return (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )


@_q(
    "funnel_view_click_purchase",
    """
    WITH v AS (SELECT user_id, min(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
    SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
           (CASE WHEN p.user_id IS NOT NULL THEN 3
                 WHEN c.user_id IS NOT NULL THEN 2
                 ELSE 1 END) AS steps_reached
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a step counts only
    strictly after the user's entry into the previous step (min-ts
    chaining)."""
    ev = load_table(spark, sf_dir, "events")
    v = _first_views(ev)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            F.when(F.col("t_purchase").isNotNull(), F.lit(3))
            .when(F.col("t_click").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("steps_reached"),
        )
    )


@_q(
    "retention_cohorts",
    """
    WITH first_day AS (
      SELECT user_id, min(date_trunc('DAY', ts)) AS cohort_day
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('DAY', ts) AS day
      FROM events)
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, a.day) AS INTEGER) AS day_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users
    FROM activity a JOIN first_day f ON a.user_id = f.user_id
    GROUP BY f.cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort matrix: users grouped by first-seen day, counted on
    each subsequent day they return (cohort x day-offset)."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("DAY", F.col("ts"))
    first = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("day")).distinct()
    return (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@_q(
    "user_day_event_sequence",
    """
    SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
    """,
)
def user_day_event_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered trajectory assembly: each user-day's event stream serialized
    into one '>'-delimited action sequence."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("ts"), F.col("event_id"), F.col("event_type")
                            )
                        )
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("seq"),
        )
        .select("user_id", "day", "n_events", "seq")
    )


# Shared dense hourly grid (single source of truth for the gap-fill and
# WMA queries): per event type, one row per hour from its first to last
# active hour, with n = 0 for silent hours.  The grid is generated from
# the AGGREGATED per-type bounds (types x hours rows) via
# sequence+explode — no per-event fan-out; the grid-to-counts join is
# keyed on (event_type, hour) with the counts side already reduced.
_DENSE_HOURLY_SQL = """h AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, date_trunc('hour', ts)),
    b AS (SELECT event_type, min(hr) AS h0, max(hr) AS h1
          FROM h GROUP BY event_type),
    grid AS (
      SELECT b.event_type,
             unnest(generate_series(b.h0, b.h1, INTERVAL 1 HOUR)) AS hr
      FROM b),
    dense AS (
      SELECT g.event_type, g.hr, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
      FROM grid g
      LEFT JOIN h ON g.event_type = h.event_type AND g.hr = h.hr)"""


def _dense_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_DENSE_HOURLY_SQL``: (event_type, hr, n) with
    explicit zero rows for silent hours.  An observed hour always has
    n >= 1, so n = 0 <=> gap-filled row."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("n0"))
    b = h.groupBy("event_type").agg(
        F.min("hr").alias("h0"), F.max("hr").alias("h1")
    )
    grid = b.select(
        "event_type",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("hr"),
    )
    return grid.join(h, ["event_type", "hr"], "left").select(
        "event_type",
        "hr",
        F.coalesce(F.col("n0"), F.lit(0)).cast("bigint").alias("n"),
    )


@_q(
    "events_gapfill_hourly",
    f"""
    WITH {_DENSE_HOURLY_SQL}
    SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hour,
           n AS n_events,
           CAST(CASE WHEN n = 0 THEN 0 ELSE 1 END AS BIGINT) AS has_data
    FROM dense
    """,
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: the dense hourly grid per event type (first
    to last active hour) left-joined to the observed hourly counts, so
    silent hours become explicit zero rows.

    Scale shape: see ``_dense_hourly_counts`` (the shared grid core this
    query and [[events_wma_hourly]] both build on)."""
    dense = _dense_hourly_counts(spark, sf_dir)
    return dense.select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH").alias("hour"),
        F.col("n").alias("n_events"),
        F.when(F.col("n") == 0, 0).otherwise(1).cast("bigint").alias("has_data"),
    )


@_q(
    "user_type_diversity",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS ct
      FROM events GROUP BY user_id, event_type),
    u AS (
      SELECT user_id,
             CAST(SUM(ct) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(SUM(ct * ct) AS BIGINT) AS s2
      FROM c GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           1.0 - CAST(s2 AS DOUBLE)
                 / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
             AS simpson
    FROM u
    """,
)
def user_type_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user via the Gini-Simpson index 1 -
    sum(p_i^2): the probability two random actions by the user differ in
    type.

    Scale shape: two keyed aggregates sharing the user_id key (the second
    groups an already-reduced table); map-side partials throughout."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("ct"))
    u = c.groupBy("user_id").agg(
        F.sum("ct").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("ct") * F.col("ct")).cast("bigint").alias("s2"),
    )
    ne = F.col("n_events").cast("double")
    return u.select(
        "user_id",
        "n_events",
        F.col("n_types").cast("bigint").alias("n_types"),
        (F.lit(1.0) - F.col("s2").cast("double") / (ne * ne)).alias("simpson"),
    )


@_q(
    "events_wma_hourly",
    f"""
    WITH {_DENSE_HOURLY_SQL},
    lagged AS (
      SELECT event_type, hr, n,
             lag(n, 1) OVER (PARTITION BY event_type ORDER BY hr) AS n1,
             lag(n, 2) OVER (PARTITION BY event_type ORDER BY hr) AS n2
      FROM dense)
    SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hour, n,
           CAST(4 * n + 2 * n1 + n2 AS DOUBLE) / CAST(7 AS DOUBLE) AS wma
    FROM lagged WHERE n1 IS NOT NULL AND n2 IS NOT NULL
    """,
)
def events_wma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-kernel weighted moving average (weights 4/2/1 over the last
    three hours, divided by 7) per event type over the dense gap-filled
    hourly grid, in integer arithmetic.

    Scale shape: ``_dense_hourly_counts`` (the shared grid core, also behind
    [[events_gapfill_hourly]]) plus one keyed lag window over the grid-sized
    table."""
    dense = _dense_hourly_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = dense.select(
        "event_type",
        "hr",
        "n",
        F.lag("n", 1).over(w).alias("n1"),
        F.lag("n", 2).over(w).alias("n2"),
    )
    return lagged.filter(
        F.col("n1").isNotNull() & F.col("n2").isNotNull()
    ).select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH").alias("hour"),
        "n",
        (
            (F.lit(4) * F.col("n") + F.lit(2) * F.col("n1") + F.col("n2")).cast(
                "double"
            )
            / F.lit(7).cast("double")
        ).alias("wma"),
    )


#: oracle CTEs ``p`` … ``r``: each purchase's value in integer micro-units
#: and its view/click touches in the preceding hour, ranked by time
#: (``rk`` of ``n``) — the :func:`_ranked_touches` mirror
_TOUCHES_SQL = """WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts,
             CAST(floor(value * 1000000.0) AS BIGINT) AS micro
      FROM events
      WHERE event_type = 'purchase' AND value > CAST(0.0 AS DOUBLE)),
    t AS (
      SELECT event_id AS tid, user_id, ts AS tts, event_type
      FROM events WHERE event_type IN ('view', 'click')),
    j AS (
      SELECT p.pid, p.micro, t.tid, t.event_type, t.tts
      FROM p JOIN t ON p.user_id = t.user_id
      WHERE t.tts < p.pts AND t.tts >= p.pts - INTERVAL 1 HOUR),
    r AS (
      SELECT pid, micro, event_type,
             ROW_NUMBER() OVER (PARTITION BY pid ORDER BY tts, tid) AS rk,
             COUNT(*) OVER (PARTITION BY pid) AS n
      FROM j)"""

#: oracle result over the per-touch ``c(event_type, credit)``: touches and
#: credit per event type, in micro-units and in value
_CREDIT_SUMS_SQL = """SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit) AS BIGINT) AS credit_micro,
           CAST(SUM(credit) AS DOUBLE) / 1000000.0 AS credit_value
    FROM c GROUP BY event_type"""


def _ranked_touches(ev: DataFrame) -> DataFrame:
    """``(pid, micro, event_type, rk, n)``: each positive purchase's value
    in integer micro-units, paired with the same user's view/click touches
    in the hour before it, ranked ``rk`` of ``n`` by (ts, id). Scale shape:
    a user-keyed equi-join with a 1-hour range predicate, then
    purchase-partitioned windows."""
    p = ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 0.0)
    ).select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("micro"),
    )
    t = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        "user_id",
        F.col("ts").alias("tts"),
        "event_type",
    )
    j = p.join(t, "user_id").filter(
        (F.col("tts") < F.col("pts"))
        & (F.col("tts") >= F.expr("pts - INTERVAL 1 HOUR"))
    )
    wp = Window.partitionBy("pid")
    return j.select(
        "pid",
        "micro",
        "event_type",
        F.row_number().over(wp.orderBy("tts", "tid")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )


@_q(
    "attribution_linear_exact",
    f"""
    {_TOUCHES_SQL},
    c AS (
      SELECT event_type,
             micro // n + (CASE WHEN rk <= micro % n THEN 1 ELSE 0 END)
               AS credit
      FROM r)
    {_CREDIT_SUMS_SQL}
    """,
)
def attribution_linear_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear multi-touch attribution: each purchase's value split
    across the user's view/click touches in the preceding hour, in integer
    micro-units with largest-remainder apportionment.

    Scale shape: the purchase-touch pairing is a user-keyed equi-join with a
    1-hour range predicate (per-user activity bounds the fan-out; at extreme
    per-user volumes, re-key on (user, hour-bucket) like the binned range
    join); the rank/count windows partition by purchase id."""
    r = _ranked_touches(load_table(spark, sf_dir, "events"))
    c = r.select(
        "event_type",
        (
            F.expr("micro div n")
            + F.when(F.col("rk") <= F.col("micro") % F.col("n"), 1).otherwise(0)
        ).alias("credit"),
    )
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit").cast("bigint").alias("credit_micro"),
        (F.sum("credit").cast("double") / F.lit(1000000.0)).alias("credit_value"),
    )


@_q(
    "next_event_training_pairs",
    """
    SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           string_agg(event_type, '>') OVER (
             PARTITION BY user_id, CAST(ts AS DATE)
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix,
           event_type AS label
    FROM events
    QUALIFY prefix IS NOT NULL
    """,
)
def next_event_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autoregressive training pairs: each event becomes one
    (prefix-of-the-user-day-so-far, next-action) pair, linear in events."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", F.col("ts").cast("date"))
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ev.select(
            "user_id",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
            F.concat_ws(">", F.collect_list("event_type").over(w)).alias("prefix"),
            F.col("event_type").alias("label"),
        )
        .filter(F.col("prefix") != "")
    )


@_q(
    "attribution_time_decay",
    """
    WITH p AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts,
                      CAST(floor(epoch(ts)) AS BIGINT) AS pts
               FROM events WHERE event_type = 'purchase'),
    t AS (SELECT event_id AS touch_id, user_id, event_type AS touch_type,
                 ts AS t_ts, CAST(floor(epoch(ts)) AS BIGINT) AS tts
          FROM events WHERE event_type <> 'purchase'),
    j AS (SELECT p.purchase_id, t.touch_id, t.touch_type,
                 CAST(LEAST((p.pts - t.tts) // 3600, 20) AS BIGINT)
                   AS decay_hours
          FROM p JOIN t ON t.user_id = p.user_id
                AND t.t_ts < p.p_ts AND p.pts - t.tts <= 86400),
    w AS (SELECT purchase_id, touch_id, touch_type, decay_hours,
                 ('1.0'::DOUBLE) / CAST(1 << decay_hours AS DOUBLE) AS wt
          FROM j)
    SELECT purchase_id, touch_id, touch_type, decay_hours,
           wt / (SUM(wt) OVER (PARTITION BY purchase_id)) AS credit
    FROM w
    """,
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution: every touch in the 24 h before a
    purchase earns credit halving per hour of age — weight 2^-h with h
    capped at 20.

    Scale shape: one user-keyed join bounded by per-user event density x the
    24 h horizon, then ONE purchase-keyed window for normalization. Credit
    is a single IEEE division of exact doubles."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.unix_timestamp("ts").alias("pts"),
    )
    t = ev.filter(F.col("event_type") != "purchase").select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("t_ts"),
        F.unix_timestamp("ts").alias("tts"),
    )
    j = (
        p.join(t, "user_id")
        .filter(
            (F.col("t_ts") < F.col("p_ts"))
            & ((F.col("pts") - F.col("tts")) <= 86400)
        )
        .select(
            "purchase_id",
            "touch_id",
            "touch_type",
            F.least(F.expr("(pts - tts) DIV 3600"), F.lit(20))
            .cast("long")
            .alias("decay_hours"),
        )
    )
    w = j.withColumn(
        "wt",
        F.expr("CAST(1.0 AS DOUBLE) / CAST(shiftleft(1, CAST(decay_hours AS INT)) AS DOUBLE)"),
    )
    wp = Window.partitionBy("purchase_id")
    return w.select(
        "purchase_id",
        "touch_id",
        "touch_type",
        "decay_hours",
        (F.col("wt") / F.sum("wt").over(wp)).alias("credit"),
    )


@_q(
    "events_burst_detection",
    f"""
    WITH {_DENSE_HOURLY_SQL},
    w AS (SELECT event_type, hr, n,
                 lag(n, 1) OVER (PARTITION BY event_type ORDER BY hr) AS l1,
                 lag(n, 2) OVER (PARTITION BY event_type ORDER BY hr) AS l2,
                 lag(n, 3) OVER (PARTITION BY event_type ORDER BY hr) AS l3,
                 lag(n, 4) OVER (PARTITION BY event_type ORDER BY hr) AS l4,
                 lag(n, 5) OVER (PARTITION BY event_type ORDER BY hr) AS l5,
                 lag(n, 6) OVER (PARTITION BY event_type ORDER BY hr) AS l6,
                 lag(n, 7) OVER (PARTITION BY event_type ORDER BY hr) AS l7
          FROM dense)
    SELECT event_type, strftime(hr, '%Y-%m-%d %H') AS hour, n AS n_events,
           CAST(list_sort([l1, l2, l3, l4, l5, l6, l7])[4] AS BIGINT)
             AS med7,
           (n > 3 * (list_sort([l1, l2, l3, l4, l5, l6, l7])[4])
            AND n >= 3) AS burst
    FROM w WHERE l7 IS NOT NULL
    """,
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection over the dense hourly grid: an hour is a burst when
    its count exceeds 3x the discrete median of the trailing 7 hours, with a
    minimum support of 3 events.

    Scale shape: the grid core is shared with [[events_gapfill_hourly]]; the
    7 lags and the flag are ONE type-keyed window over the grid-sized (not
    event-sized) table, all integer arithmetic."""
    dense = _dense_hourly_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hr")
    lags = [F.lag("n", i).over(w).alias(f"l{i}") for i in range(1, 8)]
    d = dense.select("event_type", "hr", "n", *lags)
    med = F.array_sort(F.array(*[F.col(f"l{i}") for i in range(1, 8)]))[3]
    return d.filter(F.col("l7").isNotNull()).select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH").alias("hour"),
        F.col("n").alias("n_events"),
        med.cast("long").alias("med7"),
        ((F.col("n") > 3 * med) & (F.col("n") >= 3)).alias("burst"),
    )


@_q(
    "revenue_mom_growth",
    f"""
    WITH m AS (SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
                      + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1
                        AS month_id,
                      strftime(o_orderdate, '%Y-%m') AS month,
                      {_dsum('o_totalprice')} AS revenue,
                      CAST(count(*) AS BIGINT) AS n_orders
               FROM orders GROUP BY month_id, month)
    SELECT c.month, c.n_orders, c.revenue,
           p.revenue AS prev_revenue,
           (c.revenue - p.revenue) / p.revenue AS mom_growth
    FROM m c JOIN m p ON p.month_id = c.month_id - 1
    """,
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the KPI trend readout.

    Scale shape: one keyed aggregate over orders (month key), then a
    self-join of the months-sized table. Months with no predecessor (the
    first) drop out by the inner join — explicit, not NULL-padded."""
    o = load_table(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year("o_orderdate").cast("long") * 12
            + F.month("o_orderdate").cast("long")
            - 1
        ).alias("month_id"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        A.decimal_sum("o_totalprice").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    p = m.select(
        (F.col("month_id") + 1).alias("month_id"),
        F.col("revenue").alias("prev_revenue"),
    )
    return (
        m.join(F.broadcast(p), "month_id")
        .select(
            "month",
            "n_orders",
            "revenue",
            "prev_revenue",
            (
                (F.col("revenue") - F.col("prev_revenue")) / F.col("prev_revenue")
            ).alias("mom_growth"),
        )
    )


@_q(
    "events_lead_lag_xcorr",
    """
    WITH x AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                        AS day_id,
                      CAST(count(*) AS BIGINT) AS x
               FROM events WHERE event_type = 'click' AND ts IS NOT NULL
               GROUP BY 1),
    y AS (SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                   AS day_id,
                 CAST(count(*) AS BIGINT) AS y
          FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
          GROUP BY 1),
    l AS (SELECT CAST(unnest([-3, -2, -1, 0, 1, 2, 3]) AS BIGINT) AS lag),
    j AS (SELECT l.lag, x.x, y.y
          FROM l CROSS JOIN x JOIN y ON y.day_id = x.day_id + l.lag),
    a AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM j GROUP BY lag)
    SELECT lag, n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                ELSE NULL END AS pearson_r
    FROM a
    """,
)
def events_lead_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between the daily click and purchase
    series at lags -3..+3, from exact BIGINT sums; a zero-variance lag
    yields NULL.

    Scale shape: two keyed daily aggregates, a 7-row broadcast lag table,
    one equi-join on the shifted day key, and a 7-group aggregate.
    Day-count-sized intermediates throughout."""
    ev = load_table(spark, sf_dir, "events")
    day_id = F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).cast("long")
    x = (
        ev.filter((F.col("event_type") == "click") & F.col("ts").isNotNull())
        .groupBy(day_id.alias("day_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    y = (
        ev.filter((F.col("event_type") == "purchase") & F.col("ts").isNotNull())
        .groupBy(day_id.alias("day_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    lags = spark.createDataFrame([(i,) for i in range(-3, 4)], "lag long")
    j = (
        x.crossJoin(F.broadcast(lags))
        .withColumn("probe_day", F.col("day_id") + F.col("lag"))
        .join(y, F.col("probe_day") == y["day_id"])
        .select("lag", "x", "y")
    )
    a = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return a.select(
        "lag",
        "n",
        F.when(
            (vx > 0) & (vy > 0),
            num / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
        ).alias("pearson_r"),
    )


@_q(
    "churn_labels_weekly",
    """
    WITH m AS (SELECT user_id,
                      CAST(floor(CAST(CAST(ts AS DATE) - DATE '1970-01-01'
                                      AS BIGINT) / 7) AS BIGINT) AS week_id,
                      CAST(count(*) AS BIGINT) AS n_events
               FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
               GROUP BY 1, 2),
    mx AS (SELECT CAST(max(week_id) AS BIGINT) AS last_w FROM m)
    SELECT c.user_id, c.week_id, c.n_events,
           CASE WHEN n.user_id IS NULL THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS churned
    FROM m c
    LEFT JOIN m n ON n.user_id = c.user_id AND n.week_id = c.week_id + 1
    CROSS JOIN mx
    WHERE c.week_id < mx.last_w
    """,
)
def churn_labels_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn labels: a user active in week w (epoch days DIV 7) is churned
    iff they have no activity in week w+1; the final week is excluded as
    right-censored.

    Scale shape: one (user, week)-keyed aggregate, a self-equi-join on
    (user, week+1), and a 1-row broadcast for the censoring cutoff — all
    keyed, no windows."""
    ev = load_table(spark, sf_dir, "events")
    week_id = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).cast("long")
        / 7
    ).cast("long")
    m = (
        ev.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id", week_id.alias("week_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    nxt = m.select(
        F.col("user_id").alias("n_user"),
        (F.col("week_id") - 1).alias("n_prev_week"),
    )
    mx = m.agg(F.max("week_id").cast("long").alias("last_w"))
    return (
        m.join(
            nxt,
            (F.col("user_id") == F.col("n_user"))
            & (F.col("week_id") == F.col("n_prev_week")),
            "left",
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("week_id") < F.col("last_w"))
        .select(
            "user_id",
            "week_id",
            "n_events",
            F.when(F.col("n_user").isNull(), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("churned"),
        )
    )


@_q(
    "interval_union_coverage",
    """
    WITH s AS (SELECT event_id, user_id,
                      CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
                      CAST(floor(epoch(ts)) AS BIGINT)
                        + CAST(floor(value) AS BIGINT) AS end_s
               FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL
                 AND value IS NOT NULL AND value > 0),
    m AS (SELECT event_id, user_id, start_s, end_s,
                 MAX(end_s) OVER (PARTITION BY user_id
                      ORDER BY start_s, end_s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max_end
          FROM s),
    f AS (SELECT event_id, user_id, start_s, end_s,
                 CASE WHEN prev_max_end IS NULL OR start_s > prev_max_end
                      THEN 1 ELSE 0 END AS is_new
          FROM m),
    i AS (SELECT user_id, start_s, end_s,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id
                      ORDER BY start_s, end_s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS island
          FROM f),
    g AS (SELECT user_id, island,
                 CAST(max(end_s) - min(start_s) AS BIGINT) AS cov
          FROM i GROUP BY user_id, island)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(cov) AS BIGINT) AS covered_seconds
    FROM g GROUP BY user_id
    """,
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union per user: overlapping activity spans (event start +
    `value` seconds) merged, reporting total covered seconds.

    Scale shape: two user-partitioned windows + two keyed aggregates —
    parallel across users, no global ordering anywhere."""
    ev = load_table(spark, sf_dir, "events")
    # unix_seconds truncates; epochs are positive so truncation == floor,
    # matching the oracle's floor(epoch(ts))
    start = F.unix_seconds(F.col("ts").cast("timestamp")).cast("long")
    s = ev.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & (F.col("value") > 0)
    ).select(
        "event_id",
        "user_id",
        start.alias("start_s"),
        (start + F.floor(F.col("value")).cast("long")).alias("end_s"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("start_s", "end_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = s.withColumn("prev_max_end", F.max("end_s").over(w_prev))
    f = m.withColumn(
        "is_new",
        F.when(
            F.col("prev_max_end").isNull()
            | (F.col("start_s") > F.col("prev_max_end")),
            1,
        ).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("start_s", "end_s", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    i = f.withColumn("island", F.sum("is_new").over(w_cum).cast("long"))
    g = i.groupBy("user_id", "island").agg(
        (F.max("end_s") - F.min("start_s")).cast("long").alias("cov")
    )
    return g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("cov").cast("long").alias("covered_seconds"),
    )


@_q(
    "events_poisson_rate_alarm",
    """
    WITH c AS (SELECT event_type,
                      CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
                        AS day_id,
                      strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2, 3),
    w AS (SELECT event_type, day_id, day, n,
                 CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY day_id
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
                   AS bsum,
                 CAST(COUNT(n) OVER (PARTITION BY event_type ORDER BY day_id
                      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT)
                   AS bn
          FROM c)
    SELECT event_type, day, n,
           CAST(bsum AS DOUBLE) / 7 AS lambda_hat,
           (CAST(n AS DOUBLE) - CAST(bsum AS DOUBLE) / 7)
             / sqrt(CAST(bsum AS DOUBLE) / 7) AS z,
           CASE WHEN (CAST(n AS DOUBLE) - CAST(bsum AS DOUBLE) / 7)
                     / sqrt(CAST(bsum AS DOUBLE) / 7) > 3.0
                  OR (CAST(n AS DOUBLE) - CAST(bsum AS DOUBLE) / 7)
                     / sqrt(CAST(bsum AS DOUBLE) / 7) < -3.0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS alarm
    FROM w WHERE bn = 7 AND bsum > 0
    """,
)
def events_poisson_rate_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume alarm: each day's event count per type against a Poisson rate
    from the trailing 7 full days (shorter histories excluded), z = (n -
    lambda) / sqrt(lambda).

    Scale shape: one keyed daily aggregate, one type-partitioned ROWS window
    over day-count-sized data."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day_id"),
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wnd = (
        Window.partitionBy("event_type")
        .orderBy("day_id")
        .rowsBetween(-7, -1)
    )
    w = c.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(wnd).cast("long").alias("bsum"),
        F.count("n").over(wnd).cast("long").alias("bn"),
    )
    lam = F.col("bsum").cast("double") / 7
    z = (F.col("n").cast("double") - lam) / F.sqrt(lam)
    return (
        w.filter((F.col("bn") == 7) & (F.col("bsum") > 0))
        .select(
            "event_type",
            "day",
            "n",
            lam.alias("lambda_hat"),
            z.alias("z"),
            F.when((z > 3.0) | (z < -3.0), F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("alarm"),
        )
    )


@_q(
    "events_peak_hours_nms",
    """
    WITH h AS (SELECT event_type,
                      CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600)
                           AS BIGINT) AS hr_id,
                      strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour,
                      CAST(count(*) AS BIGINT) AS n
               FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY 1, 2, 3),
    w AS (SELECT event_type, hr_id, hour, n,
                 COALESCE(MAX(n) OVER (PARTITION BY event_type ORDER BY hr_id
                          ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING),
                          CAST(-1 AS BIGINT)) AS prev_max,
                 COALESCE(MAX(n) OVER (PARTITION BY event_type ORDER BY hr_id
                          ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING),
                          CAST(-1 AS BIGINT)) AS next_max
          FROM h),
    pk AS (SELECT event_type, hr_id, hour, n FROM w
           WHERE n > prev_max AND n > next_max),
    r AS (SELECT event_type, hour, n,
                 CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                      ORDER BY n DESC, hr_id) AS BIGINT) AS peak_rank
          FROM pk)
    SELECT event_type, hour, n, peak_rank FROM r WHERE peak_rank <= 5
    """,
)
def events_peak_hours_nms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak detection with non-maximum suppression: hours that are strict
    local maxima of the per-type hourly series within +-2h, top 5 per type.

    Scale shape: one keyed hourly aggregate, two type-partitioned ROWS
    windows, and a WindowGroupLimit-able top-5 per type."""
    ev = load_table(spark, sf_dir, "events")
    hr_id = F.floor(
        F.unix_seconds(F.col("ts").cast("timestamp")).cast("long") / 3600
    ).cast("long")
    h = (
        ev.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            hr_id.alias("hr_id"),
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH").alias(
                "hour"
            ),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    wp = Window.partitionBy("event_type").orderBy("hr_id").rowsBetween(-2, -1)
    wn = Window.partitionBy("event_type").orderBy("hr_id").rowsBetween(1, 2)
    w = h.select(
        "event_type",
        "hr_id",
        "hour",
        "n",
        F.coalesce(F.max("n").over(wp), F.lit(-1).cast("long")).alias("prev_max"),
        F.coalesce(F.max("n").over(wn), F.lit(-1).cast("long")).alias("next_max"),
    )
    pk = w.filter((F.col("n") > F.col("prev_max")) & (F.col("n") > F.col("next_max")))
    wr = Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("hr_id"))
    r = pk.select(
        "event_type",
        "hour",
        "n",
        F.row_number().over(wr).cast("long").alias("peak_rank"),
    )
    return r.filter(F.col("peak_rank") <= 5)


@_q(
    "events_cusum_shift",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hour),
    tot AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS total
      FROM hourly GROUP BY event_type),
    d AS (
      SELECT h.event_type, h.hour, t.n, t.n * h.c - t.total AS dev
      FROM hourly h JOIN tot t USING (event_type)),
    cu AS (
      SELECT event_type, hour, n,
             SUM(dev) OVER w AS cum
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    s AS (
      SELECT event_type, hour, n,
             cum - MIN(cum) OVER w AS s_up,
             MAX(cum) OVER w - cum AS s_dn
      FROM cu
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    r AS (
      SELECT event_type, hour, n, s_up, s_dn,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s_up DESC, hour ASC) AS r_up,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY s_dn DESC, hour ASC) AS r_dn
      FROM s)
    SELECT u.event_type,
           u.hour AS up_peak_hour,
           CAST(u.s_up AS DOUBLE) / u.n AS up_peak_cusum,
           v.hour AS down_peak_hour,
           CAST(v.s_dn AS DOUBLE) / v.n AS down_peak_cusum
    FROM (SELECT * FROM r WHERE r_up = 1) u
    JOIN (SELECT * FROM r WHERE r_dn = 1) v USING (event_type)
    """,
)
def events_cusum_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift detection over the hourly event-rate series, per
    event type: where is the strongest evidence of an upward (and downward)
    shift away from the series mean?

    Scale shape: one (type, hour) aggregate, then windows partitioned by
    event_type over an |hours|-sized series per type -- bounded keys, no
    corpus-row window, no fan-out."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("total"),
    )
    d = hourly.join(tot, "event_type").select(
        "event_type",
        "hour",
        "n",
        (F.col("n") * F.col("c") - F.col("total")).alias("dev"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cu = d.select(
        "event_type", "hour", "n", F.sum("dev").over(w).alias("cum")
    )
    s = cu.select(
        "event_type",
        "hour",
        "n",
        (F.col("cum") - F.min("cum").over(w)).alias("s_up"),
        (F.max("cum").over(w) - F.col("cum")).alias("s_dn"),
    )
    r = s.select(
        "event_type",
        "hour",
        "n",
        "s_up",
        "s_dn",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.desc("s_up"), F.asc("hour")
            )
        )
        .alias("r_up"),
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.desc("s_dn"), F.asc("hour")
            )
        )
        .alias("r_dn"),
    )
    up = r.filter(F.col("r_up") == 1).select(
        "event_type",
        F.col("hour").alias("up_peak_hour"),
        (F.col("s_up").cast("double") / F.col("n")).alias("up_peak_cusum"),
    )
    dn = r.filter(F.col("r_dn") == 1).select(
        "event_type",
        F.col("hour").alias("down_peak_hour"),
        (F.col("s_dn").cast("double") / F.col("n")).alias("down_peak_cusum"),
    )
    return up.join(dn, "event_type").select(
        "event_type",
        "up_peak_hour",
        "up_peak_cusum",
        "down_peak_hour",
        "down_peak_cusum",
    )


@_q(
    "user_streak_histogram",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    numbered AS (
      SELECT user_id,
             (d - DATE '1970-01-01')
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, CAST(count(*) AS BIGINT) AS streak_len
      FROM numbered GROUP BY user_id, grp),
    longest AS (
      SELECT user_id, MAX(streak_len) AS longest_streak
      FROM streaks GROUP BY user_id)
    SELECT longest_streak, CAST(count(*) AS BIGINT) AS n_users
    FROM longest GROUP BY longest_streak
    """,
)
def user_streak_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user, reported as a
    histogram (streak length -> user count) -- the standard engagement /
    habit-formation readout.

    Scale shape: distinct (user, day) prunes to at most users x days rows;
    the window partitions by user over day counts (bounded per user); final
    histogram is a tiny keyed aggregate."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    numbered = days.select(
        "user_id",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = numbered.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("streak_len")
    )
    longest = streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak")
    )
    return longest.groupBy("longest_streak").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@_q(
    "session_bounce_stats",
    f"""
    {_SESSIONS_SQL},
    per_session AS (
      SELECT user_id, session_id,
             CAST(count(*) AS BIGINT) AS n_events,
             MIN(ts ORDER BY ts, event_id) AS s_start,
             FIRST(event_type ORDER BY ts, event_id) AS entry_type
      FROM sessions GROUP BY user_id, session_id)
    SELECT entry_type,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounce,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS bounce_rate,
           CAST(SUM(n_events) AS DOUBLE) / count(*) AS events_per_session
    FROM per_session GROUP BY entry_type
    """,
)
def session_bounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate and depth by session entry event type over 30-minute-gap
    sessions: sessions, bounces (single-event sessions), bounce rate and
    mean events per session.

    Scale shape: one user-partitioned window pass (same as w3), one (user,
    session) aggregate, one tiny per-type aggregate. The entry type uses
    min_by on the (ts, event_id) total order -- no second window pass over
    the corpus."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min_by(
            "event_type", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("entry_type"),
    )
    bounce = F.sum(
        F.when(F.col("n_events") == 1, 1).otherwise(0).cast("long")
    )
    return per_session.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounce.cast("long").alias("n_bounce"),
        (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
        (F.sum("n_events").cast("double") / F.count(F.lit(1))).alias(
            "events_per_session"
        ),
    )
@_q(
    "funnel_within_hour",
    """
    WITH v AS (SELECT user_id, min(ts) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS t_click, max(v.t_view) AS t_view
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
            AND e.ts <= v.t_view + INTERVAL 1 HOUR
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            AND e.ts <= c.t_view + INTERVAL 1 HOUR
          GROUP BY e.user_id),
    j AS (SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
          FROM v LEFT JOIN c ON v.user_id = c.user_id
                 LEFT JOIN p ON v.user_id = p.user_id)
    SELECT CAST(count(t_view) AS BIGINT) AS n_view,
           CAST(count(t_click) AS BIGINT) AS n_click_1h,
           CAST(count(t_purchase) AS BIGINT) AS n_purchase_1h,
           CASE WHEN count(t_view) > 0
                THEN CAST(count(t_click) AS DOUBLE) / count(t_view)
                ELSE NULL END AS click_rate,
           CASE WHEN count(t_click) > 0
                THEN CAST(count(t_purchase) AS DOUBLE) / count(t_click)
                ELSE NULL END AS purchase_rate
    FROM j
    """,
)
def funnel_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-CONSTRAINED funnel (the ClickHouse-windowFunnel shape): the
    whole view -> click -> purchase chain must complete within ONE HOUR of
    the user's first view -- a click next week is not conversion.

    Scale shape: three filtered user-keyed aggregates + two left joins on
    user_id, then one global count -- no windows, no fan-out."""
    ev = load_table(spark, sf_dir, "events")
    return _funnel_within_hour_frame(ev)


def _funnel_within_hour_frame(ev: DataFrame) -> DataFrame:
    """Query body over an arbitrary events frame (unit-testable on
    synthetic deadline-edge fixtures)."""
    v = _first_views(ev)
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"), F.max("t_view").alias("t_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    j = v.join(c.select("user_id", "t_click"), "user_id", "left").join(
        p, "user_id", "left"
    )
    n_view = F.count("t_view")
    n_click = F.count("t_click")
    n_purchase = F.count("t_purchase")
    return j.agg(
        n_view.cast("long").alias("n_view"),
        n_click.cast("long").alias("n_click_1h"),
        n_purchase.cast("long").alias("n_purchase_1h"),
        F.when(n_view > 0, n_click.cast("double") / n_view).alias(
            "click_rate"
        ),
        F.when(n_click > 0, n_purchase.cast("double") / n_click).alias(
            "purchase_rate"
        ),
    )


@_q(
    "forecast_seasonal_naive_backtest",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hour),
    j AS (
      SELECT a.event_type, a.c AS actual, b.c AS predicted
      FROM hourly a
      JOIN hourly b ON b.event_type = a.event_type
                   AND b.hour = a.hour - INTERVAL 24 HOUR)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(SUM(abs(actual - predicted)) AS BIGINT) AS abs_err_total,
           CAST(SUM(abs(actual - predicted)) AS DOUBLE) / count(*) AS mae,
           CAST(SUM(actual - predicted) AS DOUBLE) / count(*) AS bias
    FROM j GROUP BY event_type
    """,
)
def forecast_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast: predict each hour's event
    count with the count 24 hours earlier.

    Scale shape: one (type, hour) aggregate, one self equi-join on the
    shifted hour key (keyed, no fan-out), one tiny per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = hourly.select(
        "event_type", "hour", F.col("c").alias("actual")
    )
    b = hourly.select(
        "event_type",
        (F.col("hour") + F.expr("INTERVAL 24 HOURS")).alias("hour"),
        F.col("c").alias("predicted"),
    )
    j = a.join(b, ["event_type", "hour"])
    err = F.col("actual") - F.col("predicted")
    n = F.count(F.lit(1))
    return j.groupBy("event_type").agg(
        n.cast("long").alias("n_cells"),
        F.sum(F.abs(err)).cast("long").alias("abs_err_total"),
        (F.sum(F.abs(err)).cast("double") / n).alias("mae"),
        (F.sum(err).cast("double") / n).alias("bias"),
    )


@_q(
    "session_handoff_matrix",
    f"""
    {_SESSIONS_SQL},
    per_session AS (
      SELECT user_id, session_id,
             FIRST(event_type ORDER BY ts, event_id) AS entry_type,
             LAST(event_type ORDER BY ts, event_id) AS exit_type
      FROM sessions GROUP BY user_id, session_id)
    SELECT entry_type, exit_type, CAST(count(*) AS BIGINT) AS n_sessions
    FROM per_session GROUP BY entry_type, exit_type
    """,
)
def session_handoff_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry x exit event-type matrix over 30-minute-gap sessions.

    Scale shape: one user-partitioned window, one (user, session) aggregate,
    one |types|^2 aggregate."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    order_key = F.struct(F.col("ts"), F.col("event_id"))
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min_by("event_type", order_key).alias("entry_type"),
        F.max_by("event_type", order_key).alias("exit_type"),
    )
    return per_session.groupBy("entry_type", "exit_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )


@_q(
    "user_lifecycle_accounting",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST((CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS BIGINT)
               AS week_id
      FROM events),
    fw AS (SELECT user_id, MIN(week_id) AS first_week FROM uw GROUP BY user_id),
    prv AS (SELECT user_id, week_id + 1 AS week_id FROM uw),
    act AS (
      SELECT u.user_id, u.week_id,
             CASE WHEN u.week_id = f.first_week THEN 'new'
                  WHEN p.user_id IS NOT NULL THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM uw u
      JOIN fw f ON f.user_id = u.user_id
      LEFT JOIN prv p ON p.user_id = u.user_id AND p.week_id = u.week_id),
    dormant AS (
      SELECT p.week_id, CAST(count(*) AS BIGINT) AS n_dormant
      FROM prv p LEFT JOIN uw u
        ON u.user_id = p.user_id AND u.week_id = p.week_id
      WHERE u.user_id IS NULL
      GROUP BY p.week_id),
    counts AS (
      SELECT week_id,
             CAST(count(*) FILTER (WHERE state = 'new') AS BIGINT) AS n_new,
             CAST(count(*) FILTER (WHERE state = 'retained') AS BIGINT)
               AS n_retained,
             CAST(count(*) FILTER (WHERE state = 'resurrected') AS BIGINT)
               AS n_resurrected
      FROM act GROUP BY week_id)
    SELECT c.week_id, c.n_new, c.n_retained, c.n_resurrected,
           COALESCE(d.n_dormant, 0) AS n_dormant,
           c.n_new + c.n_retained + c.n_resurrected AS n_active
    FROM counts c LEFT JOIN dormant d ON d.week_id = c.week_id
    """,
)
def user_lifecycle_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: every weekly active user is exactly one of new,
    retained or resurrected; users active last week but not this week are
    dormant.

    Scale shape: distinct (user, week), two user-keyed joins (first-week and
    the self-join shifted one week), one anti-join for dormancy, then
    |weeks|-sized aggregates."""
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        / 7
    ).cast("long")
    uw = ev.select("user_id", week.alias("week_id")).distinct()
    fw = uw.groupBy("user_id").agg(F.min("week_id").alias("first_week"))
    prv = uw.select("user_id", (F.col("week_id") + 1).alias("week_id"))
    act = (
        uw.join(fw, "user_id")
        .join(
            prv.withColumn("was_active", F.lit(1)),
            ["user_id", "week_id"],
            "left",
        )
        .select(
            "week_id",
            F.when(F.col("week_id") == F.col("first_week"), "new")
            .when(F.col("was_active").isNotNull(), "retained")
            .otherwise("resurrected")
            .alias("state"),
        )
    )
    counts = act.groupBy("week_id").agg(
        F.count_if(F.col("state") == "new").cast("long").alias("n_new"),
        F.count_if(F.col("state") == "retained")
        .cast("long")
        .alias("n_retained"),
        F.count_if(F.col("state") == "resurrected")
        .cast("long")
        .alias("n_resurrected"),
    )
    dormant = (
        prv.join(uw, ["user_id", "week_id"], "left_anti")
        .groupBy("week_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_dormant"))
    )
    return (
        counts.join(dormant, "week_id", "left")
        .select(
            "week_id",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_dormant"), F.lit(0).cast("long")).alias(
                "n_dormant"
            ),
            (
                F.col("n_new") + F.col("n_retained") + F.col("n_resurrected")
            ).alias("n_active"),
        )
    )


@_q(
    "revenue_bridge_by_month",
    """
    WITH cm AS (
      SELECT o_custkey,
             CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1 AS month_id,
             strftime(o_orderdate, '%Y-%m') AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DECIMAL(27,6))
               AS rev
      FROM orders GROUP BY o_custkey, month_id, month),
    months AS (SELECT DISTINCT month_id, month FROM cm),
    prv AS (SELECT o_custkey, month_id + 1 AS month_id, rev FROM cm),
    fo AS (
      SELECT COALESCE(c.o_custkey, p.o_custkey) AS o_custkey,
             COALESCE(c.month_id, p.month_id) AS month_id,
             c.rev AS cur_rev, p.rev AS prev_rev
      FROM cm c FULL OUTER JOIN prv p
        ON p.o_custkey = c.o_custkey AND p.month_id = c.month_id),
    comp AS (
      SELECT month_id,
             CAST(SUM(CASE WHEN prev_rev IS NULL THEN cur_rev
                           ELSE CAST(0 AS DECIMAL(27,6)) END)
                  AS DOUBLE) AS new_rev,
             CAST(SUM(CASE WHEN cur_rev IS NULL THEN prev_rev
                           ELSE CAST(0 AS DECIMAL(27,6)) END)
                  AS DOUBLE) AS churned_rev,
             CAST(SUM(CASE WHEN cur_rev IS NOT NULL AND prev_rev IS NOT NULL
                                AND cur_rev > prev_rev
                           THEN cur_rev - prev_rev
                           ELSE CAST(0 AS DECIMAL(27,6)) END)
                  AS DOUBLE) AS expansion_rev,
             CAST(SUM(CASE WHEN cur_rev IS NOT NULL AND prev_rev IS NOT NULL
                                AND cur_rev < prev_rev
                           THEN prev_rev - cur_rev
                           ELSE CAST(0 AS DECIMAL(27,6)) END)
                  AS DOUBLE) AS contraction_rev,
             CAST(SUM(COALESCE(cur_rev, CAST(0 AS DECIMAL(27,6))))
                  AS DOUBLE) AS total_rev
      FROM fo GROUP BY month_id)
    SELECT m.month, c.new_rev, c.expansion_rev, c.contraction_rev,
           c.churned_rev, c.total_rev
    FROM comp c
    JOIN months m ON m.month_id = c.month_id
    WHERE c.month_id - 1 IN (SELECT month_id FROM months)
    """,
)
def revenue_bridge_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge: each month's revenue change decomposed into new,
    expansion, contraction and churned, with total_m - total_{m-1} = new +
    expansion - contraction - churned exactly (decimal sums, cast to double
    at the edge).

    Scale shape: one (customer, month) aggregate, a customer-keyed
    full-outer self-join shifted one month, then |months|-sized aggregates
    and a broadcast months filter."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(27,6)"
    zero = F.lit(0).cast(dec)
    cm = o.groupBy(
        "o_custkey",
        (
            F.year("o_orderdate").cast("long") * 12
            + F.month("o_orderdate").cast("long")
            - 1
        ).alias("month_id"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(
        F.sum(F.col("o_totalprice").cast(dec)).cast(dec).alias("rev")
    )
    months = cm.select("month_id", "month").distinct()
    prv = cm.select(
        "o_custkey",
        (F.col("month_id") + 1).alias("month_id"),
        F.col("rev").alias("prev_rev"),
    )
    cur = cm.select("o_custkey", "month_id", F.col("rev").alias("cur_rev"))
    fo = cur.join(prv, ["o_custkey", "month_id"], "full_outer")
    both = F.col("cur_rev").isNotNull() & F.col("prev_rev").isNotNull()
    comp = fo.groupBy("month_id").agg(
        F.sum(
            F.when(F.col("prev_rev").isNull(), F.col("cur_rev")).otherwise(zero)
        )
        .cast("double")
        .alias("new_rev"),
        F.sum(
            F.when(F.col("cur_rev").isNull(), F.col("prev_rev")).otherwise(zero)
        )
        .cast("double")
        .alias("churned_rev"),
        F.sum(
            F.when(
                both & (F.col("cur_rev") > F.col("prev_rev")),
                F.col("cur_rev") - F.col("prev_rev"),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("expansion_rev"),
        F.sum(
            F.when(
                both & (F.col("cur_rev") < F.col("prev_rev")),
                F.col("prev_rev") - F.col("cur_rev"),
            ).otherwise(zero)
        )
        .cast("double")
        .alias("contraction_rev"),
        F.sum(F.coalesce(F.col("cur_rev"), zero))
        .cast("double")
        .alias("total_rev"),
    )
    has_pred = months.select((F.col("month_id") + 1).alias("month_id"))
    return (
        comp.join(F.broadcast(has_pred), "month_id")
        .join(F.broadcast(months), "month_id")
        .select(
            "month",
            "new_rev",
            "expansion_rev",
            "contraction_rev",
            "churned_rev",
            "total_rev",
        )
    )


@_q(
    "attribution_position_based",
    f"""
    {_TOUCHES_SQL},
    c AS (
      SELECT event_type,
             CASE
               WHEN n = 1 THEN micro
               WHEN n = 2 THEN
                 CASE WHEN rk = 1 THEN micro // 2 + micro % 2
                      ELSE micro // 2 END
               WHEN rk = 1 THEN (micro * 2) // 5
               WHEN rk = n THEN (micro * 2) // 5
               ELSE (micro - 2 * ((micro * 2) // 5)) // (n - 2)
                    + (CASE WHEN rk - 1 <=
                            (micro - 2 * ((micro * 2) // 5)) % (n - 2)
                       THEN 1 ELSE 0 END)
             END AS credit
      FROM r)
    {_CREDIT_SUMS_SQL}
    """,
)
def attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: 40% of each
    purchase to the first touch, 40% to the last, 20% shared by the middles.

    Scale shape: identical to the linear form -- user-keyed equi-join with a
    1-hour range predicate, purchase-partitioned windows, tiny final
    aggregate."""
    r = _ranked_touches(load_table(spark, sf_dir, "events"))
    forty = F.expr("(micro * 2) div 5")
    mid_pool = F.col("micro") - 2 * forty
    mid_each = F.expr(
        "(micro - 2 * ((micro * 2) div 5)) div (n - 2)"
    ) + F.when(
        (F.col("rk") - 1) <= mid_pool % (F.col("n") - 2), 1
    ).otherwise(0)
    credit = (
        F.when(F.col("n") == 1, F.col("micro"))
        .when(
            F.col("n") == 2,
            F.when(
                F.col("rk") == 1,
                F.expr("micro div 2") + F.col("micro") % 2,
            ).otherwise(F.expr("micro div 2")),
        )
        .when(F.col("rk") == 1, forty)
        .when(F.col("rk") == F.col("n"), forty)
        .otherwise(mid_each)
    )
    c = r.select("event_type", credit.alias("credit"))
    return c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("credit").cast("long").alias("credit_micro"),
        (F.sum("credit").cast("double") / 1000000.0).alias("credit_value"),
    )


@_q(
    "conversion_latency_quantiles",
    """
    WITH p AS (
      SELECT event_id AS pid, user_id, ts AS pts
      FROM events WHERE event_type = 'purchase'),
    v AS (
      SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'),
    m AS (
      SELECT p.pid, MAX(v.vts) AS vts, MAX(p.pts) AS pts
      FROM p JOIN v ON v.user_id = p.user_id
      WHERE v.vts < p.pts AND v.vts >= p.pts - INTERVAL 7 DAY
      GROUP BY p.pid),
    lat AS (
      SELECT (CAST(floor(epoch(pts)) AS BIGINT)
              - CAST(floor(epoch(vts)) AS BIGINT)) // 60 AS latency_min
      FROM m)
    , s AS (SELECT list(latency_min ORDER BY latency_min) AS arr,
                 CAST(count(*) AS BIGINT) AS n FROM lat)
    SELECT n AS n_conversions,
           (CASE WHEN (('0.5'::DOUBLE) * (n - 1)) = floor((('0.5'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.5'::DOUBLE) * (n - 1))) + 1.0) - (('0.5'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.5'::DOUBLE) * (n - 1)) - floor((('0.5'::DOUBLE) * (n - 1)))) END) AS p50_min,
           (CASE WHEN (('0.9'::DOUBLE) * (n - 1)) = floor((('0.9'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.9'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.9'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.9'::DOUBLE) * (n - 1))) + 1.0) - (('0.9'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.9'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.9'::DOUBLE) * (n - 1)) - floor((('0.9'::DOUBLE) * (n - 1)))) END) AS p90_min,
           (CASE WHEN (('0.99'::DOUBLE) * (n - 1)) = floor((('0.99'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.99'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.99'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.99'::DOUBLE) * (n - 1))) + 1.0) - (('0.99'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.99'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.99'::DOUBLE) * (n - 1)) - floor((('0.99'::DOUBLE) * (n - 1)))) END) AS p99_min
    FROM s
    """,
)
def conversion_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert: each purchase matched as-of to the user's latest
    view in the preceding 7 days; latency in whole minutes as p50/p90/p99.

    Scale shape: user-keyed equi-join bounded by the 7-day range predicate,
    per-purchase max (keyed aggregate), then one global percentile aggregate
    (partial-merged, not windowed)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("pts")
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts")
    )
    m = (
        p.join(v, "user_id")
        .filter(
            (F.col("vts") < F.col("pts"))
            & (F.col("vts") >= F.col("pts") - F.expr("INTERVAL 7 DAYS"))
        )
        .groupBy("pid")
        .agg(F.max("vts").alias("vts"), F.max("pts").alias("pts"))
    )
    lat = m.select(
        F.expr(
            "(unix_seconds(cast(pts as timestamp))"
            " - unix_seconds(cast(vts as timestamp))) div 60"
        ).alias("latency_min")
    )
    # one array-percentile instead of three scalar aggregates (see
    # agg_percentiles) — identical values, a third of the aggregation state
    return lat.agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.expr("percentile(latency_min, array(0.5D, 0.9D, 0.99D))").alias("_ps"),
    ).select(
        "n_conversions",
        F.col("_ps")[0].alias("p50_min"),
        F.col("_ps")[1].alias("p90_min"),
        F.col("_ps")[2].alias("p99_min"),
    )


@_q(
    "session_top_paths",
    f"""
    {_SESSIONS_SQL},
    ranked AS (
      SELECT user_id, session_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rk
      FROM sessions),
    paths AS (
      SELECT concat_ws('>',
               MAX(CASE WHEN rk = 1 THEN event_type END),
               MAX(CASE WHEN rk = 2 THEN event_type END),
               MAX(CASE WHEN rk = 3 THEN event_type END)) AS path
      FROM ranked WHERE rk <= 3 GROUP BY user_id, session_id)
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path ASC
    LIMIT 10
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 most common 3-step session openings ('view>click>purchase',
    ...) over 30-minute-gap sessions.

    Scale shape: the shared sessionize window, one (user, session) pivot
    aggregate, a bounded path aggregate, TakeOrdered for the limit."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    ranked = sessions.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
        ),
    ).filter(F.col("rk") <= 3)

    def step(k):
        return F.max(F.when(F.col("rk") == k, F.col("event_type")))

    paths = ranked.groupBy("user_id", "session_id").agg(
        F.concat_ws(">", step(1), step(2), step(3)).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(10)
    )


@_q(
    "events_debounce_collapse",
    """
    WITH r AS (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE prev_type = event_type) AS BIGINT)
             AS n_collapsed,
           CAST(count(*) FILTER (WHERE prev_type IS NULL
                                 OR prev_type <> event_type) AS BIGINT)
             AS n_kept,
           CAST(count(*) FILTER (WHERE prev_type = event_type) AS DOUBLE)
             / count(*) AS collapse_rate
    FROM r GROUP BY event_type
    """,
)
def events_debounce_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce audit: per event type, how many events repeat the previous
    event type within a user's stream.

    Scale shape: one user-partitioned lag window, one per-type aggregate.
    The collapsed STREAM itself is the same plan minus the aggregate -- this
    readout prices the filter before applying it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    dup = F.col("prev_type") == F.col("event_type")
    keep = F.col("prev_type").isNull() | (
        F.col("prev_type") != F.col("event_type")
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count_if(dup).cast("long").alias("n_collapsed"),
        F.count_if(keep).cast("long").alias("n_kept"),
        (F.count_if(dup).cast("double") / F.count(F.lit(1))).alias(
            "collapse_rate"
        ),
    )


@_q(
    "daily_peak_concurrency",
    f"""
    {_SESSIONS_SQL},
    iv AS (
      SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s_start,
             CAST(floor(epoch(MAX(ts))) AS BIGINT) + 1 AS s_end
      FROM sessions GROUP BY user_id, session_id),
    b AS (
      SELECT s_start AS sec, 1 AS delta FROM iv
      UNION ALL
      SELECT s_end AS sec, -1 AS delta FROM iv),
    persec AS (
      SELECT sec // 86400 AS day, sec, CAST(SUM(delta) AS BIGINT) AS d
      FROM b GROUP BY sec // 86400, sec),
    intraday AS (
      SELECT day, sec,
             SUM(d) OVER (PARTITION BY day ORDER BY sec
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run
      FROM persec),
    daysum AS (SELECT day, CAST(SUM(d) AS BIGINT) AS day_total
               FROM persec GROUP BY day),
    dayoff AS (
      SELECT a.day, COALESCE(CAST(SUM(b.day_total) AS BIGINT), 0) AS off
      FROM daysum a LEFT JOIN daysum b ON b.day < a.day
      GROUP BY a.day),
    peaks AS (
      SELECT i.day, MAX(o.off + i.run) AS peak
      FROM intraday i JOIN dayoff o ON o.day = i.day
      GROUP BY i.day)
    SELECT CAST(day AS BIGINT) AS day_id,
           CAST(peak AS BIGINT) AS peak_concurrency
    FROM peaks
    """,
)
def daily_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENT SESSIONS per day -- the capacity-planning number
    (license seats, connection pools, serving replicas).

    Scale shape: sessionize windows (user-partitioned), keyed boundary
    aggregate, day-partitioned window, bounded day-level join. No
    SinglePartition window anywhere."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    iv = sessions.groupBy("user_id", "session_id").agg(
        F.unix_seconds(F.min("ts").cast("timestamp")).alias("s_start"),
        (F.unix_seconds(F.max("ts").cast("timestamp")) + 1).alias("s_end"),
    )
    b = iv.select(F.col("s_start").alias("sec"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("s_end").alias("sec"), F.lit(-1).alias("delta"))
    )
    persec = b.groupBy(
        F.expr("sec div 86400").alias("day"), "sec"
    ).agg(F.sum("delta").cast("long").alias("d"))
    wd = (
        Window.partitionBy("day")
        .orderBy("sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intraday = persec.select("day", "sec", F.sum("d").over(wd).alias("run"))
    daysum = persec.groupBy("day").agg(
        F.sum("d").cast("long").alias("day_total")
    )
    a = daysum.select(F.col("day"))
    prior = daysum.select(
        F.col("day").alias("b_day"), F.col("day_total").alias("b_total")
    )
    dayoff = (
        a.join(F.broadcast(prior), F.col("b_day") < F.col("day"), "left")
        .groupBy("day")
        .agg(
            F.coalesce(F.sum("b_total").cast("long"), F.lit(0).cast("long")).alias(
                "off"
            )
        )
    )
    peaks = (
        intraday.join(F.broadcast(dayoff), "day")
        .groupBy("day")
        .agg(F.max(F.col("off") + F.col("run")).alias("peak"))
    )
    return peaks.select(
        F.col("day").cast("long").alias("day_id"),
        F.col("peak").cast("long").alias("peak_concurrency"),
    )


@_q(
    "events_runs_test_randomness",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hour),
    med AS (
      SELECT event_type, quantile_cont(c, 0.5) AS m
      FROM hourly GROUP BY event_type),
    signed AS (
      SELECT h.event_type, h.hour,
             CASE WHEN h.c > med.m THEN 1 ELSE -1 END AS sgn
      FROM hourly h JOIN med ON med.event_type = h.event_type
      WHERE h.c <> med.m),
    runs AS (
      SELECT event_type, sgn,
             CASE WHEN LAG(sgn) OVER w IS NULL
                       OR LAG(sgn) OVER w <> sgn THEN 1 ELSE 0 END AS is_new
      FROM signed
      WINDOW w AS (PARTITION BY event_type ORDER BY hour)),
    st AS (
      SELECT event_type,
             CAST(SUM(is_new) AS BIGINT) AS r,
             CAST(count(*) FILTER (WHERE sgn = 1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE sgn = -1) AS BIGINT) AS n2
      FROM runs GROUP BY event_type)
    SELECT event_type, r AS n_runs, n1 AS n_above, n2 AS n_below,
           CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1.0 AS expected_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                     AND 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) > 0
                THEN (r - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1.0))
                     / sqrt(CAST(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                                 AS DOUBLE)
                            / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)
                               * (n1 + n2 - 1)))
                ELSE NULL END AS z
    FROM st
    WHERE n1 + n2 >= 2
    """,
)
def events_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on each type's hourly count series: the
    above/below-median run count and its z-score.

    Scale shape: (type, hour) aggregate, a per-type median, one
    type-partitioned lag window over hour counts."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    med = hourly.groupBy("event_type").agg(
        F.expr("percentile(c, 0.5)").alias("m")
    )
    signed = (
        hourly.join(med, "event_type")
        .filter(F.col("c") != F.col("m"))
        .select(
            "event_type",
            "hour",
            F.when(F.col("c") > F.col("m"), 1).otherwise(-1).alias("sgn"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    prev = F.lag("sgn").over(w)
    runs = signed.select(
        "event_type",
        "sgn",
        F.when(prev.isNull() | (prev != F.col("sgn")), 1).otherwise(0).alias(
            "is_new"
        ),
    )
    st = runs.groupBy("event_type").agg(
        F.sum("is_new").cast("long").alias("r"),
        F.count_if(F.col("sgn") == 1).cast("long").alias("n1"),
        F.count_if(F.col("sgn") == -1).cast("long").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    ntot = n1 + n2
    er = (2 * n1 * n2).cast("double") / ntot + 1.0
    var = (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)).cast("double") / (
        ntot.cast("double") * ntot * (ntot - 1)
    )
    return st.filter(ntot >= 2).select(
        "event_type",
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        er.alias("expected_runs"),
        F.when(
            (n1 > 0) & (n2 > 0) & (ntot > 1)
            & (2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) > 0),
            (r - er) / F.sqrt(var),
        ).alias("z"),
    )


@_q(
    "session_protocol_violations",
    f"""
    {_SESSIONS_SQL},
    checked AS (
      SELECT event_type,
             COALESCE(MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS saw_view
      FROM sessions)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE saw_view = 0) AS BIGINT) AS n_orphans,
           CAST(count(*) FILTER (WHERE saw_view = 0) AS DOUBLE) / count(*)
             AS orphan_rate
    FROM checked
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
)
def session_protocol_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-protocol audit: clicks and purchases with no earlier 'view'
    in the same session.

    Scale shape: the shared sessionize window plus one more
    session-partitioned window; a |types|-sized aggregate."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    ws = (
        Window.partitionBy("user_id", "session_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    checked = sessions.select(
        "event_type",
        F.coalesce(
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).over(ws),
            F.lit(0),
        ).alias("saw_view"),
    )
    orphan = F.count_if(F.col("saw_view") == 0)
    return (
        checked.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            orphan.cast("long").alias("n_orphans"),
            (orphan.cast("double") / F.count(F.lit(1))).alias("orphan_rate"),
        )
    )


@_q(
    "revenue_seasonal_indices",
    """
    WITH m AS (
      SELECT CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1 AS month_id,
             CAST(strftime(o_orderdate, '%m') AS INTEGER) AS month_of_year,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DECIMAL(27,6))
               AS rev
      FROM orders GROUP BY month_id, month_of_year),
    ma AS (
      SELECT a.month_id, a.month_of_year, a.rev,
             CAST(count(*) AS BIGINT) AS n_window,
             CAST(SUM(b.rev) AS DECIMAL(27,6)) AS w_rev
      FROM m a JOIN m b ON b.month_id BETWEEN a.month_id - 6
                                          AND a.month_id + 6
      GROUP BY a.month_id, a.month_of_year, a.rev
      HAVING count(*) = 13),
    ratio AS (
      SELECT month_of_year,
             CAST(rev AS DOUBLE)
               / (CAST(w_rev AS DOUBLE) / n_window) AS r
      FROM ma),
    q AS (
      SELECT month_of_year,
             CAST(count(*) AS BIGINT) AS n_years,
             CAST(SUM(CAST(floor(r * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / count(*) AS seasonal_index
      FROM ratio GROUP BY month_of_year)
    SELECT month_of_year, n_years, seasonal_index
    FROM q
    """,
)
def revenue_seasonal_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal indices: each month's revenue over its centered
    13-month moving average, averaged per month-of-year.

    Scale shape: one month-keyed aggregate over orders, then |months|-sized
    joins and 12-row output."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(27,6)"
    m = o.groupBy(
        (
            F.year("o_orderdate").cast("long") * 12
            + F.month("o_orderdate").cast("long")
            - 1
        ).alias("month_id"),
        F.month("o_orderdate").cast("int").alias("month_of_year"),
    ).agg(F.sum(F.col("o_totalprice").cast(dec)).cast(dec).alias("rev"))
    b = m.select(
        F.col("month_id").alias("b_id"), F.col("rev").alias("b_rev")
    )
    ma = (
        m.join(
            F.broadcast(b),
            (F.col("b_id") >= F.col("month_id") - 6)
            & (F.col("b_id") <= F.col("month_id") + 6),
        )
        .groupBy("month_id", "month_of_year", "rev")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_window"),
            F.sum("b_rev").cast(dec).alias("w_rev"),
        )
        .filter(F.col("n_window") == 13)
    )
    ratio = ma.select(
        "month_of_year",
        (
            F.col("rev").cast("double")
            / (F.col("w_rev").cast("double") / F.col("n_window"))
        ).alias("r"),
    )
    return ratio.groupBy("month_of_year").agg(
        F.count(F.lit(1)).cast("long").alias("n_years"),
        (
            F.sum(F.floor(F.col("r") * 1000000.0).cast("long")).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("seasonal_index"),
    )


@_q(
    "daily_value_percentile_trend",
    f"""
    WITH a AS (SELECT CAST(ts AS DATE) AS day, value FROM events
               WHERE value IS NOT NULL),
    s AS (SELECT day, list(value ORDER BY value) AS arr,
                 CAST(count(*) AS BIGINT) AS n
          FROM a GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           n AS n_events,
           {{p50}} AS p50,
           {{p90}} AS p90,
           {{p99}} AS p99
    FROM s
    """.format(
        p50=_pctile_mirror_sql(0.5),
        p90=_pctile_mirror_sql(0.9),
        p99=_pctile_mirror_sql(0.99),
    ),
)
def daily_value_percentile_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAILY p50/p90/p99 TREND of the metric -- the SLO dashboard query
    (means hide tail regressions; a p99 that doubles while p50 is flat is
    the classic incident signature).

    Scale shape: day-keyed percentile aggregate (partial-merged); day
    projected to ISO string for cross-engine date typing."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .withColumn("day", F.date_format("day", "yyyy-MM-dd"))
        .select("day", "n_events", "p50", "p90", "p99")
    )


@_q(
    "user_recency_weighted_value",
    """
    WITH mx AS (SELECT CAST(MAX(CAST(ts AS DATE)) - DATE '1970-01-01'
                            AS BIGINT) AS max_day
                FROM events),
    ev AS (
      SELECT user_id,
             (mx.max_day
              - CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)) // 7
               AS age_weeks,
             CAST(value AS DECIMAL(9,6)) AS v
      FROM events CROSS JOIN mx
      WHERE value > CAST(0.0 AS DOUBLE) AND abs(value) < CAST(1000.0 AS DOUBLE)),
    w AS (
      SELECT user_id,
             CAST(CAST(v AS VARCHAR) AS DOUBLE)
               * (CASE age_weeks WHEN 0 THEN 1.0 WHEN 1 THEN 0.5
                                 WHEN 2 THEN 0.25 WHEN 3 THEN 0.125
                                 WHEN 4 THEN 0.0625 WHEN 5 THEN 0.03125
                                 WHEN 6 THEN 0.015625 WHEN 7 THEN 0.0078125
                                 ELSE 0.0 END) AS wv
      FROM ev),
    score AS (
      SELECT user_id,
             CAST(SUM(CAST(floor(wv * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS s
      FROM w GROUP BY user_id),
    med AS (
      SELECT (CASE WHEN (('0.5'::DOUBLE) * (n - 1)) = floor(('0.5'::DOUBLE) * (n - 1)) OR CAST(arr[CAST(floor(('0.5'::DOUBLE) * (n - 1)) AS BIGINT) + 1] AS DOUBLE) = CAST(arr[CAST(floor(('0.5'::DOUBLE) * (n - 1)) AS BIGINT) + 2] AS DOUBLE) THEN CAST(arr[CAST(floor(('0.5'::DOUBLE) * (n - 1)) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor(('0.5'::DOUBLE) * (n - 1)) AS BIGINT) + 1] AS DOUBLE) * ((floor(('0.5'::DOUBLE) * (n - 1)) + 1.0) - (('0.5'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor(('0.5'::DOUBLE) * (n - 1)) AS BIGINT) + 2] AS DOUBLE) * ((('0.5'::DOUBLE) * (n - 1)) - floor(('0.5'::DOUBLE) * (n - 1))) END) AS m
      FROM (SELECT list(s ORDER BY s) AS arr, CAST(count(*) AS BIGINT) AS n
            FROM score)),
    b AS (
      SELECT CASE WHEN s >= CAST(2.0 AS DOUBLE) * med.m THEN '4_hot'
                  WHEN s >= med.m THEN '3_warm'
                  WHEN s >= CAST(0.5 AS DOUBLE) * med.m THEN '2_cool'
                  ELSE '1_cold' END AS band,
             s
      FROM score CROSS JOIN med)
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(floor(s * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS total_score
    FROM b GROUP BY band
    """,
)
def user_recency_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-decayed user value with a one-week half-life (exact
    power-of-two weights, truncated at 8 weeks), banded hot/warm/cool/cold
    relative to the corpus median score (>=2x, >=1x, >=0.5x).

    Scale shape: scalar max-day broadcast, one user-keyed aggregate, one
    4-row band aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("value") > 0.0) & (F.abs(F.col("value")) < 1000.0)
    )
    mx = ev.agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.lit("1970-01-01").cast("date")
        )
        .cast("long")
        .alias("max_day")
    )
    age = F.expr(
        "(max_day - datediff(cast(ts as date), date '1970-01-01')) div 7"
    )
    decay = (
        F.when(age == 0, 1.0)
        .when(age == 1, 0.5)
        .when(age == 2, 0.25)
        .when(age == 3, 0.125)
        .when(age == 4, 0.0625)
        .when(age == 5, 0.03125)
        .when(age == 6, 0.015625)
        .when(age == 7, 0.0078125)
        .otherwise(0.0)
    )
    wv = F.col("value").cast("decimal(9,6)").cast("string").cast(
        "double"
    ) * decay
    w = ev.crossJoin(F.broadcast(mx)).select("user_id", wv.alias("wv"))
    score = w.groupBy("user_id").agg(
        (
            F.sum(F.floor(F.col("wv") * 1000000.0).cast("long")).cast("double")
            / 1000000.0
        ).alias("s")
    )
    med = score.agg(F.expr("percentile(s, 0.5)").alias("m"))
    band = (
        F.when(F.col("s") >= 2.0 * F.col("m"), "4_hot")
        .when(F.col("s") >= F.col("m"), "3_warm")
        .when(F.col("s") >= 0.5 * F.col("m"), "2_cool")
        .otherwise("1_cold")
    )
    return score.crossJoin(F.broadcast(med)).select(
        band.alias("band"), "s"
    ).groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        (
            F.sum(F.floor(F.col("s") * 1000000.0).cast("long")).cast("double")
            / 1000000.0
        ).alias("total_score"),
    )


@_q(
    "events_ewma_residual_anomaly",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, h),
    j AS (
      SELECT a.event_type, a.h, a.c,
             b.c AS cb, a.h - b.h AS lag_h
      FROM hourly a JOIN hourly b
        ON b.event_type = a.event_type
       AND b.h < a.h AND a.h - b.h <= 50),
    w AS (
      SELECT event_type, h, c,
             CAST(cb AS DOUBLE) / CAST(1::BIGINT << lag_h AS DOUBLE) AS wx,
             CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << lag_h AS DOUBLE) AS ww
      FROM j),
    p AS (
      SELECT event_type, h, c,
             CAST(SUM(CAST(floor(wx * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS num,
             CAST(SUM(CAST(floor(ww * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS den
      FROM w GROUP BY event_type, h, c),
    r AS (
      SELECT event_type, h, c,
             num / den AS predicted,
             abs(CAST(c AS DOUBLE) - num / den) AS resid
      FROM p WHERE den > CAST(0.0 AS DOUBLE)),
    top AS (
      SELECT event_type, h, c, predicted, resid,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY resid DESC, h ASC) AS rk
      FROM r)
    SELECT event_type,
           h AS anomaly_epoch_hour,
           c AS observed,
           predicted,
           resid AS abs_residual
    FROM top WHERE rk = 1
    """,
)
def events_ewma_residual_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA-RESIDUAL anomaly detection with EXACT geometric weights: the
    hour where each type's count deviates most from its exponentially
    weighted history (half-life = 1 hour, i.e. alpha = 0.5).

    Scale shape: (type, hour) aggregate, a type-keyed self-join BOUNDED at
    50 lags per row, one keyed aggregate, one type-partitioned argmax
    window."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_seconds(cast(ts as timestamp)) div 3600").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = hourly.select("event_type", "h", "c")
    b = hourly.select(
        F.col("event_type").alias("event_type"),
        F.col("h").alias("bh"),
        F.col("c").alias("cb"),
    )
    j = a.join(b, "event_type").filter(
        (F.col("bh") < F.col("h")) & (F.col("h") - F.col("bh") <= 50)
    )
    pow2 = F.expr("cast(shiftleft(1L, cast(h - bh as int)) as double)")
    w = j.select(
        "event_type",
        "h",
        "c",
        (F.col("cb").cast("double") / pow2).alias("wx"),
        (F.lit(1.0) / pow2).alias("ww"),
    )

    def fsum(c):
        return (
            F.sum(F.floor(F.col(c) * 1000000.0).cast("long")).cast("double")
            / 1000000.0
        )

    p = w.groupBy("event_type", "h", "c").agg(
        fsum("wx").alias("num"), fsum("ww").alias("den")
    )
    pred = F.col("num") / F.col("den")
    r = p.filter(F.col("den") > 0.0).select(
        "event_type",
        "h",
        "c",
        pred.alias("predicted"),
        F.abs(F.col("c").cast("double") - pred).alias("resid"),
    )
    top = r.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.desc("resid"), F.asc("h")
            )
        ),
    )
    return top.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("h").alias("anomaly_epoch_hour"),
        F.col("c").alias("observed"),
        "predicted",
        F.col("resid").alias("abs_residual"),
    )


def _xy_moments(grouped) -> DataFrame:
    """Exact BIGINT sums ``n, sx, sy, sxx, syy, sxy`` of the integer
    columns ``x`` and ``y`` per group of ``grouped``; groups with fewer
    than 3 rows dropped.  :func:`_pearson_r` reads them."""
    return grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    ).filter(F.col("n") >= 3)


def _pearson_r() -> F.Column:
    """Pearson correlation from :func:`_xy_moments`' sums: the variances
    are exact integers, so only the final ratio is floating point; NULL
    when either variance is 0."""
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    vx = n * F.col("sxx") - sx * sx
    vy = n * F.col("syy") - sy * sy
    return F.when(
        (vx > 0) & (vy > 0),
        (n.cast("double") * F.col("sxy") - sx.cast("double") * sy)
        / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))),
    )


@_q(
    "events_acf_table",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, h),
    lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag_h),
    j AS (
      SELECT a.event_type, l.lag_h, a.c AS x, b.c AS y
      FROM hourly a
      CROSS JOIN lags l
      JOIN hourly b ON b.event_type = a.event_type
                   AND b.h = a.h - l.lag_h),
    s AS (
      SELECT event_type, lag_h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM j GROUP BY event_type, lag_h HAVING count(*) >= 3)
    SELECT event_type, CAST(lag_h AS INTEGER) AS lag_hours, n AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                ELSE NULL END AS acf
    FROM s
    """,
)
def events_acf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each type's hourly count series at lags
    1/2/3/6/12/24 hours (Pearson).

    Scale shape: (type, hour) aggregate, a 6-lag keyed self-join on the
    shifted hour, a (type, lag)-sized moment aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_seconds(cast(ts as timestamp)) div 3600").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    lags = spark.createDataFrame([(1,), (2,), (3,), (6,), (12,), (24,)], "lag_h int")
    a = hourly.crossJoin(F.broadcast(lags))
    b = hourly.select(
        "event_type", F.col("h").alias("bh"), F.col("c").alias("y")
    )
    j = a.join(b, "event_type").filter(
        F.col("bh") == F.col("h") - F.col("lag_h")
    ).select("event_type", "lag_h", F.col("c").alias("x"), "y")
    s = _xy_moments(j.groupBy("event_type", "lag_h"))
    return s.select(
        "event_type",
        F.col("lag_h").cast("int").alias("lag_hours"),
        F.col("n").alias("n_pairs"),
        _pearson_r().alias("acf"),
    )


_DWELL_P50 = _pctile_mirror_sql(0.5)
_DWELL_P90 = _pctile_mirror_sql(0.9)


@_q(
    "session_dwell_time_quantiles",
    f"""
    {_SESSIONS_SQL},
    dur AS (
      SELECT (CAST(floor(epoch(MAX(ts))) AS BIGINT)
              - CAST(floor(epoch(MIN(ts))) AS BIGINT)) AS dwell_s,
             CAST(count(*) AS BIGINT) AS n_events
      FROM sessions GROUP BY user_id, session_id),
    s AS (SELECT list(dwell_s ORDER BY dwell_s) AS arr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(dwell_s) AS BIGINT) AS total_s,
                 CAST(count(*) FILTER (WHERE n_events = 1) AS BIGINT)
                   AS n_single
          FROM dur)
    SELECT n AS n_sessions,
           n_single AS n_single_event,
           {_DWELL_P50} AS p50_dwell_s,
           {_DWELL_P90} AS p90_dwell_s,
           CAST(total_s AS DOUBLE) / n AS mean_dwell_s
    FROM s
    """,
)
def session_dwell_time_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session dwell time over 30-minute-gap sessions: p50/p90/mean
    duration, with the count of single-event (zero-duration) sessions.

    Scale shape: the shared sessionize window, one (user, session)
    aggregate, one global percentile aggregate."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    dur = sessions.groupBy("user_id", "session_id").agg(
        (
            F.unix_seconds(F.max("ts").cast("timestamp"))
            - F.unix_seconds(F.min("ts").cast("timestamp"))
        ).alias("dwell_s"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return dur.agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.count_if(F.col("n_events") == 1).cast("long").alias("n_single_event"),
        F.expr("percentile(dwell_s, 0.5)").alias("p50_dwell_s"),
        F.expr("percentile(dwell_s, 0.9)").alias("p90_dwell_s"),
        (F.sum("dwell_s").cast("double") / F.count(F.lit(1))).alias(
            "mean_dwell_s"
        ),
    )


@_q(
    "session_position_bias",
    f"""
    {_SESSIONS_SQL},
    ranked AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts, event_id) AS rk,
             COUNT(*) OVER (PARTITION BY user_id, session_id) AS n
      FROM sessions),
    pos AS (
      SELECT event_type,
             CASE WHEN n > 1
                  THEN CAST(rk - 1 AS DOUBLE) / (n - 1)
                  ELSE CAST(0.5 AS DOUBLE) END AS npos
      FROM ranked)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(npos * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS mean_position
    FROM pos GROUP BY event_type
    """,
)
def session_position_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-session position of each event type (0 = always
    session-opening, 1 = always closing).

    Scale shape: the shared sessionize window plus one session-partitioned
    rank window, then a |types|-sized aggregate."""
    ev = load_table(spark, sf_dir, "events")
    sessions = _sessions(ev)
    ws = Window.partitionBy("user_id", "session_id")
    ranked = sessions.select(
        "event_type",
        F.row_number().over(ws.orderBy("ts", "event_id")).alias("rk"),
        F.count(F.lit(1)).over(ws).alias("n"),
    )
    npos = F.when(
        F.col("n") > 1,
        (F.col("rk") - 1).cast("double") / (F.col("n") - 1),
    ).otherwise(F.lit(0.5))
    return ranked.select("event_type", npos.alias("npos")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.sum(F.floor(F.col("npos") * 1000000.0).cast("long")).cast(
                "double"
            )
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("mean_position"),
    )


@_q(
    "session_threshold_sensitivity",
    """
    WITH gaps AS (
      SELECT user_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) AS gap_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events),
    grid AS (SELECT unnest([600, 1800, 3600, 7200]) AS thr_s),
    cuts AS (
      SELECT g.thr_s,
             CAST(count(*) FILTER (WHERE gaps.gap_s > g.thr_s) AS BIGINT)
               AS n_breaks
      FROM grid g CROSS JOIN gaps
      WHERE gaps.gap_s IS NOT NULL
      GROUP BY g.thr_s)
    SELECT CAST(c.thr_s AS INTEGER) AS threshold_s,
           n.n_users + c.n_breaks AS n_sessions,
           CAST(n.n_events AS DOUBLE) / (n.n_users + c.n_breaks)
             AS events_per_session
    FROM cuts c CROSS JOIN n
    """,
)
def session_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counts under gap thresholds of 10/30/60/120 minutes from ONE
    window pass.

    Scale shape: one user-partitioned lag window, a 4x grid fan-out of the
    gap stream (broadcast grid), a 4-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        (
            F.unix_seconds(F.col("ts").cast("timestamp"))
            - F.unix_seconds(F.lag("ts").over(w).cast("timestamp"))
        ).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    n = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    grid = spark.createDataFrame(
        [(600,), (1800,), (3600,), (7200,)], "thr_s int"
    )
    cuts = (
        gaps.crossJoin(F.broadcast(grid))
        .groupBy("thr_s")
        .agg(
            F.count_if(F.col("gap_s") > F.col("thr_s"))
            .cast("long")
            .alias("n_breaks")
        )
    )
    return cuts.crossJoin(F.broadcast(n)).select(
        F.col("thr_s").cast("int").alias("threshold_s"),
        (F.col("n_users") + F.col("n_breaks")).alias("n_sessions"),
        (
            F.col("n_events").cast("double")
            / (F.col("n_users") + F.col("n_breaks"))
        ).alias("events_per_session"),
    )


_LATE_P99 = _pctile_mirror_sql(0.99)


@_q(
    "out_of_order_event_rate",
    f"""
    WITH r AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t_s,
             MAX(CAST(floor(epoch(ts)) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_prior_s
      FROM events),
    lab AS (
      SELECT event_type,
             CASE WHEN max_prior_s IS NOT NULL AND t_s < max_prior_s
                  THEN max_prior_s - t_s ELSE 0 END AS lateness_s,
             CASE WHEN max_prior_s IS NOT NULL AND t_s < max_prior_s
                  THEN 1 ELSE 0 END AS late
      FROM r),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM(late) AS BIGINT) AS n_late,
             CAST(MAX(lateness_s) AS BIGINT) AS max_lateness_s,
             list(lateness_s ORDER BY lateness_s) AS arr,
             CAST(count(*) AS BIGINT) AS n
      FROM lab GROUP BY event_type)
    SELECT event_type, n_events, n_late,
           CAST(n_late AS DOUBLE) / n_events AS late_rate,
           max_lateness_s,
           {_LATE_P99} AS p99_lateness_s
    FROM agg
    """,
)
def out_of_order_event_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness per event type: how often an event's timestamp
    precedes the max timestamp of the same user's earlier-arriving events
    (event_id order), how late the stragglers run, and the p99 lateness.

    Scale shape: one user-partitioned window, one per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    t_s = F.unix_seconds(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = ev.select(
        "event_type",
        t_s.alias("t_s"),
        F.max(t_s).over(w).alias("max_prior_s"),
    )
    is_late = F.col("max_prior_s").isNotNull() & (
        F.col("t_s") < F.col("max_prior_s")
    )
    lab = r.select(
        "event_type",
        F.when(is_late, F.col("max_prior_s") - F.col("t_s"))
        .otherwise(0)
        .alias("lateness_s"),
        F.when(is_late, 1).otherwise(0).alias("late"),
    )
    return lab.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("late").cast("long").alias("n_late"),
        (F.sum("late").cast("double") / F.count(F.lit(1))).alias("late_rate"),
        F.max("lateness_s").cast("long").alias("max_lateness_s"),
        F.expr("percentile(lateness_s, 0.99)").alias("p99_lateness_s"),
    ).select(
        "event_type",
        "n_events",
        "n_late",
        "late_rate",
        "max_lateness_s",
        "p99_lateness_s",
    )


@_q(
    "forecast_residual_acf",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, h),
    resid AS (
      SELECT a.event_type, a.h, a.c - b.c AS r
      FROM hourly a
      JOIN hourly b ON b.event_type = a.event_type AND b.h = a.h - 24),
    lagged AS (
      SELECT a.event_type, a.r AS x, b.r AS y
      FROM resid a
      JOIN resid b ON b.event_type = a.event_type AND b.h = a.h - 1),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM lagged GROUP BY event_type HAVING count(*) >= 3)
    SELECT event_type, n AS n_pairs,
           CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                ELSE NULL END AS residual_acf1
    FROM s
    """,
)
def forecast_residual_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-ADEQUACY check for the seasonal-naive forecaster: lag-1
    autocorrelation of its residuals (actual - 24h-ago prediction).

    Scale shape: (type, hour) aggregate, two shifted-key equi-joins, a
    per-type moment aggregate."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.expr("unix_seconds(cast(ts as timestamp)) div 3600").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    b24 = hourly.select(
        "event_type", (F.col("h") + 24).alias("h"), F.col("c").alias("pred")
    )
    resid = hourly.join(b24, ["event_type", "h"]).select(
        "event_type", "h", (F.col("c") - F.col("pred")).alias("r")
    )
    prev = resid.select(
        "event_type", (F.col("h") + 1).alias("h"), F.col("r").alias("y")
    )
    lagged = resid.join(prev, ["event_type", "h"]).select(
        "event_type", F.col("r").alias("x"), "y"
    )
    s = _xy_moments(lagged.groupBy("event_type"))
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        _pearson_r().alias("residual_acf1"),
    )


_TTV_P50 = _pctile_mirror_sql(0.5)
_TTV_P90 = _pctile_mirror_sql(0.9)


@_q(
    "time_to_value_quantiles",
    f"""
    WITH c AS (
      SELECT user_id, ts,
             SUM(CAST(value AS DECIMAL(9,6)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_v,
             MIN(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events WHERE value > CAST(0.0 AS DOUBLE)),
    hit AS (
      SELECT user_id,
             MIN(CAST(floor(epoch(ts)) AS BIGINT)
                 - CAST(floor(epoch(first_ts)) AS BIGINT)) AS ttv_s
      FROM c WHERE cum_v >= CAST(100 AS DECIMAL(9,6))
      GROUP BY user_id),
    base AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
             FROM events WHERE value > CAST(0.0 AS DOUBLE)),
    s AS (SELECT list(ttv_s ORDER BY ttv_s) AS arr,
                 CAST(count(*) AS BIGINT) AS n
          FROM hit)
    SELECT base.n_users,
           s.n AS n_reached,
           CAST(s.n AS DOUBLE) / base.n_users AS reach_rate,
           {_TTV_P50} AS p50_ttv_s,
           {_TTV_P90} AS p90_ttv_s
    FROM s CROSS JOIN base
    """,
)
def time_to_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time to value: seconds from each user's first positive-value event
    until their cumulative value crosses 100, with the share of users who
    get there.

    Scale shape: one user-partitioned window pass, one user-keyed MIN, one
    global percentile aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wu = Window.partitionBy("user_id")
    c = ev.select(
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(9,6)")).over(w).alias("cum_v"),
        F.min("ts").over(wu).alias("first_ts"),
    )
    hit = (
        c.filter(F.col("cum_v") >= F.lit(100).cast("decimal(9,6)"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_seconds(F.col("ts").cast("timestamp"))
                - F.unix_seconds(F.col("first_ts").cast("timestamp"))
            ).alias("ttv_s")
        )
    )
    base = ev.agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    s = hit.agg(
        F.count(F.lit(1)).cast("long").alias("n_reached"),
        F.expr("percentile(ttv_s, 0.5)").alias("p50_ttv_s"),
        F.expr("percentile(ttv_s, 0.9)").alias("p90_ttv_s"),
    )
    return s.crossJoin(F.broadcast(base)).select(
        "n_users",
        "n_reached",
        (F.col("n_reached").cast("double") / F.col("n_users")).alias(
            "reach_rate"
        ),
        "p50_ttv_s",
        "p90_ttv_s",
    )


@_q(
    "revenue_max_drawdown",
    f"""
    WITH m AS (
      SELECT n_name,
             CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1 AS month_id,
             strftime(o_orderdate, '%Y-%m') AS month,
             {_dsum('o_totalprice')} AS revenue
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name, month_id, month),
    d AS (
      SELECT n_name, month_id, month, revenue,
             MAX(revenue) OVER (PARTITION BY n_name ORDER BY month_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - revenue
               AS drawdown
      FROM m),
    mx AS (SELECT n_name, MAX(drawdown) AS max_drawdown
           FROM d GROUP BY n_name)
    SELECT d.n_name, mx.max_drawdown, MIN(d.month) AS trough_month
    FROM d JOIN mx ON mx.n_name = d.n_name AND d.drawdown = mx.max_drawdown
    GROUP BY d.n_name, mx.max_drawdown
    """,
)
def revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each nation's monthly revenue: the largest
    running-peak-minus-month gap, with the earliest trough month as the
    argmax.

    Scale shape: one keyed aggregate over orders (nation x month), then
    nation-partitioned windows and joins over the months-sized table
    (bounded by calendar x |nations|, never by order volume)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    m = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            (
                F.year("o_orderdate").cast("long") * 12
                + F.month("o_orderdate").cast("long")
                - 1
            ).alias("month_id"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(A.decimal_sum("o_totalprice").alias("revenue"))
    )
    w = (
        Window.partitionBy("n_name")
        .orderBy("month_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = m.select(
        "n_name",
        "month",
        (F.max("revenue").over(w) - F.col("revenue")).alias("drawdown"),
    )
    mx = d.groupBy("n_name").agg(F.max("drawdown").alias("max_drawdown"))
    return (
        d.join(
            F.broadcast(mx.withColumnRenamed("n_name", "_n")),
            (F.col("n_name") == F.col("_n"))
            & (F.col("drawdown") == F.col("max_drawdown")),
        )
        .groupBy("n_name", "max_drawdown")
        .agg(F.min("month").alias("trough_month"))
    )


@_q(
    "events_mann_kendall_trend",
    """
    WITH h AS (
      SELECT event_type, CAST(strftime(ts, '%Y%m%d%H') AS BIGINT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, hr),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours
          FROM h GROUP BY event_type),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.c > a.c THEN 1
                           WHEN b.c < a.c THEN -1 ELSE 0 END) AS BIGINT) AS s
      FROM h a JOIN h b ON b.event_type = a.event_type AND b.hr > a.hr
      GROUP BY a.event_type),
    t AS (
      SELECT event_type,
             CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, c, CAST(count(*) AS BIGINT) AS tc
            FROM h GROUP BY event_type, c)
      GROUP BY event_type),
    v AS (
      SELECT n.event_type, n.n_hours,
             COALESCE(s.s, 0) AS s,
             n.n_hours * (n.n_hours - 1) * (2 * n.n_hours + 5) - t.tie_term
               AS var18
      FROM n LEFT JOIN s ON s.event_type = n.event_type
             JOIN t ON t.event_type = n.event_type)
    SELECT event_type, n_hours, s,
           CAST(var18 AS DOUBLE) / 18.0 AS var_s,
           CASE WHEN var18 <= 0 THEN CAST(0.0 AS DOUBLE)
                WHEN s > 0
                  THEN CAST(s - 1 AS DOUBLE)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                WHEN s < 0
                  THEN CAST(s + 1 AS DOUBLE)
                       / sqrt(CAST(var18 AS DOUBLE) / 18.0)
                ELSE CAST(0.0 AS DOUBLE) END AS z
    FROM v
    """,
)
def events_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type over the hourly-count series.

    Scale shape: one keyed aggregate to hourly counts, then a per-type pair
    join over the HOURS table — O(H^2) per type where H is bounded by the
    calendar (24*days), NOT by event volume; at 100 TB the hourly rollup
    still has the same row count. Equi-join on event_type with an hr range
    predicate — no cartesian."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.date_format(F.col("ts").cast("timestamp"), "yyyyMMddHH")
        .cast("long")
        .alias("hr"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = h.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours")
    )
    b = h.select(
        F.col("event_type").alias("_t"),
        F.col("hr").alias("_hr"),
        F.col("c").alias("_c"),
    )
    s = (
        h.join(
            b,
            (F.col("_t") == F.col("event_type")) & (F.col("_hr") > F.col("hr")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("_c") > F.col("c"), F.lit(1))
                .when(F.col("_c") < F.col("c"), F.lit(-1))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("s")
        )
    )
    tc = h.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    t = tc.groupBy("event_type").agg(
        F.sum(
            F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
        )
        .cast("long")
        .alias("tie_term")
    )
    v = (
        n.join(s.withColumnRenamed("event_type", "_st"),
               F.col("_st") == F.col("event_type"), "left")
        .join(t.withColumnRenamed("event_type", "_tt"),
              F.col("_tt") == F.col("event_type"))
        .select(
            "event_type",
            "n_hours",
            F.coalesce(F.col("s"), F.lit(0).cast("long")).alias("s"),
            (
                F.col("n_hours")
                * (F.col("n_hours") - 1)
                * (2 * F.col("n_hours") + 5)
                - F.col("tie_term")
            ).alias("var18"),
        )
    )
    sq = F.sqrt(F.col("var18").cast("double") / F.lit(18.0))
    return v.select(
        "event_type",
        "n_hours",
        "s",
        (F.col("var18").cast("double") / F.lit(18.0)).alias("var_s"),
        F.when(F.col("var18") <= 0, F.lit(0.0))
        .when(F.col("s") > 0, (F.col("s") - 1).cast("double") / sq)
        .when(F.col("s") < 0, (F.col("s") + 1).cast("double") / sq)
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


@_q(
    "stickiness_dau_mau",
    """
    WITH d AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             strftime(CAST(ts AS DATE), '%Y-%m') AS month,
             user_id
      FROM events WHERE ts IS NOT NULL),
    dau AS (
      SELECT day, month, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      FROM d GROUP BY day, month),
    mau AS (
      SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
      FROM d GROUP BY month)
    SELECT dau.day, dau.dau, mau.mau,
           CAST(dau.dau AS DOUBLE) / mau.mau AS stickiness
    FROM dau JOIN mau ON mau.month = dau.month
    """,
)
def stickiness_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU STICKINESS per day: daily active users over the calendar
    month's active users — the engagement-frequency KPI (a 0.5 product is
    used every other day; a 0.05 one is monthly).

    Scale shape: two distinct-aggregates keyed by day/month (map-side
    partial dedup on (day, user)), then a broadcast join of the months-sized
    table onto the days-sized table. For the one-pass-at-100TB variant of
    the distinct counts, the HLL-sketch twin is [[approx_distinct_users]]."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = ev.select(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.date_format(F.col("ts").cast("date"), "yyyy-MM").alias("month"),
        "user_id",
    )
    dau = d.groupBy("day", "month").agg(
        F.count_distinct("user_id").cast("long").alias("dau")
    )
    mau = d.groupBy("month").agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    ).withColumnRenamed("month", "_m")
    return (
        dau.join(F.broadcast(mau), F.col("month") == F.col("_m"))
        .select(
            "day",
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
        )
    )


@_q(
    "leaderboard_churn_monthly",
    f"""
    WITH m AS (
      SELECT l_partkey,
             CAST(strftime(l_shipdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(l_shipdate, '%m') AS BIGINT) - 1 AS month_id,
             strftime(l_shipdate, '%Y-%m') AS month,
             {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
      FROM lineitem GROUP BY l_partkey, month_id, month),
    r AS (
      SELECT month_id, month, l_partkey,
             ROW_NUMBER() OVER (PARTITION BY month_id
               ORDER BY revenue DESC, l_partkey) AS rk
      FROM m QUALIFY rk <= 20),
    counts AS (
      SELECT month_id, month, CAST(count(*) AS BIGINT) AS n_top
      FROM r GROUP BY month_id, month),
    o AS (
      SELECT c.month_id, CAST(count(*) AS BIGINT) AS n_common
      FROM r c JOIN r p ON p.month_id = c.month_id - 1
                       AND p.l_partkey = c.l_partkey
      GROUP BY c.month_id),
    pairs AS (
      SELECT cc.month_id, cc.month, cc.n_top AS n_curr, cp.n_top AS n_prev
      FROM counts cc JOIN counts cp ON cp.month_id = cc.month_id - 1)
    SELECT pairs.month, pairs.n_curr, pairs.n_prev,
           COALESCE(o.n_common, 0) AS n_common,
           CAST(COALESCE(o.n_common, 0) AS DOUBLE)
             / (pairs.n_curr + pairs.n_prev - COALESCE(o.n_common, 0))
             AS jaccard_topk
    FROM pairs LEFT JOIN o ON o.month_id = pairs.month_id
    """,
)
def leaderboard_churn_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard churn: month-over-month Jaccard overlap of the top-20
    parts by revenue.

    Scale shape: one (part, month)-keyed aggregate, a month-partitioned
    top-k window over the parts-sized rollup, then self-joins of the
    20-rows-per-month table — everything after the first aggregate is
    months-sized. The top-20 table is an eager checkpoint: it feeds counts
    and both sides of the overlap self-join."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey",
        (
            F.year("l_shipdate").cast("long") * 12
            + F.month("l_shipdate").cast("long")
            - 1
        ).alias("month_id"),
        F.date_format("l_shipdate", "yyyy-MM").alias("month"),
    ).agg(
        A.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("revenue")
    )
    w = Window.partitionBy("month_id").orderBy(
        F.desc("revenue"), F.asc("l_partkey")
    )
    r = (
        m.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("month_id", "month", "l_partkey")
        .localCheckpoint()
    )
    counts = r.groupBy("month_id", "month").agg(
        F.count(F.lit(1)).cast("long").alias("n_top")
    )
    p = r.select(
        (F.col("month_id") + 1).alias("_mid"), F.col("l_partkey").alias("_pk")
    )
    o = (
        r.join(
            p,
            (F.col("month_id") == F.col("_mid"))
            & (F.col("l_partkey") == F.col("_pk")),
        )
        .groupBy("month_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .withColumnRenamed("month_id", "_omid")
    )
    cp = counts.select(
        (F.col("month_id") + 1).alias("_p"), F.col("n_top").alias("n_prev")
    )
    pairs = counts.join(F.broadcast(cp), F.col("month_id") == F.col("_p")).select(
        "month_id", "month", F.col("n_top").alias("n_curr"), "n_prev"
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    out = (
        pairs.join(F.broadcast(o), F.col("month_id") == F.col("_omid"), "left")
        .select(
            "month",
            "n_curr",
            "n_prev",
            nc.alias("n_common"),
            (
                nc.cast("double")
                / (F.col("n_curr") + F.col("n_prev") - nc)
            ).alias("jaccard_topk"),
        )
    )
    return out


@_q(
    "events_id_islands",
    """
    WITH s AS (
      SELECT event_type, event_id,
             event_id - ROW_NUMBER() OVER (PARTITION BY event_type
                                           ORDER BY event_id) AS grp
      FROM events),
    i AS (
      SELECT event_type, grp, CAST(count(*) AS BIGINT) AS len
      FROM s GROUP BY event_type, grp)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(max(len) AS BIGINT) AS max_island,
           CAST(min(len) AS BIGINT) AS min_island,
           CAST(sum(len) AS BIGINT) AS n_events
    FROM i GROUP BY event_type
    """,
)
def events_id_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the event_id sequence per stream partition: the
    id - row_number() constant labels each run of consecutive ids,
    summarized by two keyed aggregates.

    Scale shape: one keyed window (partition = stream partition), two keyed
    aggregates, all integer."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    s = ev.select(
        "event_type",
        "event_id",
        (F.col("event_id") - F.row_number().over(w)).alias("grp"),
    )
    i = s.groupBy("event_type", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return i.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.max("len").cast("long").alias("max_island"),
        F.min("len").cast("long").alias("min_island"),
        F.sum("len").cast("long").alias("n_events"),
    )
