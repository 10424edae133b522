"""Statistics and experimentation queries: A/B readouts, tests, intervals,
drift, calibration and estimators, each with engine-exact moments."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators.analyze import profile_columns
from lvm_datapipe_spark.operators.sampling import hash_bucket
from lvm_datapipe_spark.operators.text import tokens
from lvm_datapipe_spark.queries._shared import (
    QUERIES, _DECILE_PS, _dsum, _md5_u32, _pctile_mirror_sql, _q
)


@_q(
    "agg_correlation",
    """
    WITH m AS (
      SELECT l_returnflag,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,6)) * CAST(l_extendedprice AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(27,6)) * CAST(l_quantity AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(27,6)) * CAST(l_extendedprice AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS corr_qty_price
    FROM m
    """,
)
def agg_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation with engine-exact moments: the five raw
    moments are exact DECIMAL(27,6) sums, converted decimal→double through a
    string, then one fixed double formula."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(27,6)")
    y = F.col("l_extendedprice").cast("decimal(27,6)")

    def d(c):
        return F.sum(c).cast("string").cast("double")

    m = li.groupBy("l_returnflag").agg(
        d(x * y).alias("sxy"),
        d(x).alias("sx"),
        d(y).alias("sy"),
        d(x * x).alias("sxx"),
        d(y * y).alias("syy"),
        F.count(F.lit(1)).alias("n"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    corr = (n * F.col("sxy") - sx * sy) / F.sqrt(
        (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
    )
    return m.select("l_returnflag", "n", corr.alias("corr_qty_price"))


@_q(
    "histogram2d_qty_price",
    """
    SELECT CAST(least(9, greatest(0, CAST(floor(l_quantity / 5.0) AS INTEGER))) AS INTEGER) AS qty_bin,
           CAST(least(9, greatest(0, CAST(floor(l_extendedprice / 10000.0) AS INTEGER))) AS INTEGER) AS price_bin,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def histogram2d_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional equi-width histogram: clamp-floor binning on both
    axes, ONE keyed aggregate on a key space bounded by bins²."""
    li = load_table(spark, sf_dir, "lineitem")

    def bin_(col, width):
        return F.least(
            F.lit(9), F.greatest(F.lit(0), F.floor(F.col(col) / width).cast("int"))
        )

    return (
        li.select(
            bin_("l_quantity", 5.0).alias("qty_bin"),
            bin_("l_extendedprice", 10000.0).alias("price_bin"),
        )
        .groupBy("qty_bin", "price_bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "profile_lineitem_numeric",
    """
    WITH w AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_0,
             CAST(min(CAST(l_quantity AS DOUBLE)) AS DOUBLE) AS mn_0,
             CAST(max(CAST(l_quantity AS DOUBLE)) AS DOUBLE) AS mx_0,
             CAST(SUM(CAST(CAST(l_quantity AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l_quantity) AS av_0,
             CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_1,
             CAST(min(CAST(l_extendedprice AS DOUBLE)) AS DOUBLE) AS mn_1,
             CAST(max(CAST(l_extendedprice AS DOUBLE)) AS DOUBLE) AS mx_1,
             CAST(SUM(CAST(CAST(l_extendedprice AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l_extendedprice) AS av_1,
             CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_2,
             CAST(min(CAST(l_discount AS DOUBLE)) AS DOUBLE) AS mn_2,
             CAST(max(CAST(l_discount AS DOUBLE)) AS DOUBLE) AS mx_2,
             CAST(SUM(CAST(CAST(l_discount AS DOUBLE) AS DECIMAL(27,6))) AS DOUBLE) / COUNT(l_discount) AS av_2
      FROM lineitem)
    SELECT 'l_quantity' AS column, n AS n_rows, nn_0 AS n_nulls,
           mn_0 AS min_value, mx_0 AS max_value, av_0 AS mean_value FROM w
    UNION ALL
    SELECT 'l_extendedprice', n, nn_1, mn_1, mx_1, av_1 FROM w
    UNION ALL
    SELECT 'l_discount', n, nn_2, mn_2, mx_2, av_2 FROM w
    """,
)
def profile_lineitem_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-health profile (analyze.profile_columns): nulls, min, max and
    decimal-exact mean for three numeric fact columns in ONE aggregate over
    one scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, ["l_quantity", "l_extendedprice", "l_discount"])


@_q(
    "agg_skewness_by_type",
    """
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6)) * CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6)) * CAST(value AS DECIMAL(9,6)) * CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE) AS s3
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY event_type)
    SELECT event_type, n,
           ((s3 - 3 * (s1 / n) * s2 + 2 * n * (s1 / n) * (s1 / n) * (s1 / n)) / n)
             / sqrt((s2 - s1 * s1 / n) / n)
             / ((s2 - s1 * s1 / n) / n) AS skewness
    FROM m WHERE n >= 3 AND (s2 - s1 * s1 / n) > CAST(0.0 AS DOUBLE)
    """,
)
def agg_skewness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact skewness per group from exact decimal power sums (v at
    (9,6), v² at (19,12), v³ at (29,18)); the spec keeps |value| < 1000 so
    the sums cannot overflow."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.abs(F.col("value")) < 1000.0
    )
    d6 = F.col("value").cast("decimal(9,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6).cast("string").cast("double").alias("s1"),
        F.sum(d6 * d6).cast("string").cast("double").alias("s2"),
        F.sum(d6 * d6 * d6).cast("string").cast("double").alias("s3"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    mean = s1 / n
    var_n = (s2 - s1 * s1 / n) / n
    m3 = (s3 - 3 * mean * s2 + 2 * n * mean * mean * mean) / n
    return (
        m.filter((n >= 3) & ((s2 - s1 * s1 / n) > 0.0))
        .select(
            "event_type", "n", (m3 / F.sqrt(var_n) / var_n).alias("skewness")
        )
    )


#: oracle CTEs ``a`` and ``m``: each event's md5 A/B ``arm`` per user
#: (values under 1000 in magnitude) and the exact decimal first and second
#: moments ``n, s1, s2`` per (event_type, arm)
_AB_MOMENTS_SQL = """WITH a AS (
      SELECT event_type,
             ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             value
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)),
    m AS (
      SELECT event_type, arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6)) * CAST(value AS DECIMAL(9,6)))
                  AS VARCHAR) AS DOUBLE) AS s2
      FROM a GROUP BY event_type, arm)"""


@_q(
    "ab_test_welch_z",
    f"""
    {_AB_MOMENTS_SQL},
    p AS (
      SELECT t.event_type,
             t.n AS n_treat, c.n AS n_ctrl,
             t.s1 / t.n AS mean_treat, c.s1 / c.n AS mean_ctrl,
             (t.s2 - t.s1 * t.s1 / t.n) / (t.n - 1) AS var_treat,
             (c.s2 - c.s1 * c.s1 / c.n) / (c.n - 1) AS var_ctrl
      FROM m t JOIN m c ON t.event_type = c.event_type
            AND t.arm = 1 AND c.arm = 0)
    SELECT event_type, n_treat, n_ctrl, mean_treat, mean_ctrl,
           (mean_treat - mean_ctrl)
             / sqrt(var_treat / n_treat + var_ctrl / n_ctrl) AS welch_z
    FROM p
    WHERE n_treat >= 2 AND n_ctrl >= 2
      AND (var_treat / n_treat + var_ctrl / n_ctrl) > CAST(0.0 AS DOUBLE)
    """,
)
def ab_test_welch_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout with engine-exact statistics: users split 50/50 by the
    md5 bucket of user_id, then a per-metric Welch z-statistic from exact
    decimal power sums."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    d6 = F.col("value").cast("decimal(9,6)")
    m = (
        ev.withColumn("arm", hash_bucket("user_id", 2, "ab"))
        .groupBy("event_type", "arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d6).cast("string").cast("double").alias("s1"),
            F.sum(d6 * d6).cast("string").cast("double").alias("s2"),
        )
    )
    t = m.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_treat"),
        (F.col("s1") / F.col("n")).alias("mean_treat"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias(
            "var_treat"
        ),
    )
    c = m.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_ctrl"),
        (F.col("s1") / F.col("n")).alias("mean_ctrl"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)).alias(
            "var_ctrl"
        ),
    )
    se2 = F.col("var_treat") / F.col("n_treat") + F.col("var_ctrl") / F.col("n_ctrl")
    return (
        t.join(c, "event_type")
        .filter((F.col("n_treat") >= 2) & (F.col("n_ctrl") >= 2) & (se2 > 0.0))
        .select(
            "event_type",
            "n_treat",
            "n_ctrl",
            "mean_treat",
            "mean_ctrl",
            ((F.col("mean_treat") - F.col("mean_ctrl")) / F.sqrt(se2)).alias(
                "welch_z"
            ),
        )
    )


@_q(
    "drift_tv_distance",
    """
    WITH rng AS (
      SELECT event_type,
             min(CAST(value AS DOUBLE)) AS mn,
             max(CAST(value AS DOUBLE)) AS mx
      FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type,
             CASE WHEN (rng.mx - rng.mn) / 32.0 = 0.0 THEN 0
                  ELSE least(31, CAST(floor((CAST(e.value AS DOUBLE) - rng.mn)
                                            / ((rng.mx - rng.mn) / 32.0))
                                 AS INTEGER))
             END AS bin,
             CASE WHEN e.ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS first_half
      FROM events e JOIN rng ON e.event_type = rng.event_type),
    c AS (
      SELECT event_type, bin,
             CAST(SUM(first_half) AS BIGINT) AS c1,
             CAST(SUM(1 - first_half) AS BIGINT) AS c2
      FROM b GROUP BY event_type, bin),
    n AS (
      SELECT event_type,
             CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM c GROUP BY event_type),
    s AS (
      SELECT c.event_type,
             CAST(SUM(abs(c.c1 * n.n2 - c.c2 * n.n1)) AS BIGINT) AS num
      FROM c JOIN n ON c.event_type = n.event_type
      GROUP BY c.event_type)
    SELECT s.event_type, n.n1 AS n_first, n.n2 AS n_second,
           CAST(s.num AS DOUBLE)
             / (2.0 * CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE))
             AS tv_distance
    FROM s JOIN n ON s.event_type = n.event_type
    WHERE n.n1 > 0 AND n.n2 > 0
    """,
)
def drift_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact total-variation distance between the first and second half of
    the month, per metric, over 32 fixed value bins. Scale shape: one range
    aggregate broadcast, one scan to bin, two type-keyed aggregates over
    bin-table rows (<= 32 per type)."""
    ev = load_table(spark, sf_dir, "events")
    rng = ev.groupBy("event_type").agg(
        F.min(F.col("value").cast("double")).alias("mn"),
        F.max(F.col("value").cast("double")).alias("mx"),
    )
    width = (F.col("mx") - F.col("mn")) / 32.0
    b = (
        ev.join(F.broadcast(rng), "event_type")
        .select(
            "event_type",
            F.when(width == 0.0, F.lit(0))
            .otherwise(
                F.least(
                    F.lit(31),
                    F.floor(
                        (F.col("value").cast("double") - F.col("mn")) / width
                    ).cast("int"),
                )
            )
            .alias("bin"),
            F.when(
                F.col("ts") < F.to_timestamp(F.lit("2024-01-16 00:00:00")), 1
            )
            .otherwise(0)
            .alias("first_half"),
        )
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum("first_half").cast("bigint").alias("c1"),
        F.sum(1 - F.col("first_half")).cast("bigint").alias("c2"),
    )
    n = c.groupBy("event_type").agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    s = (
        c.join(n, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("bigint")
            .alias("num")
        )
    )
    return (
        s.join(n, "event_type")
        .filter((F.col("n1") > 0) & (F.col("n2") > 0))
        .select(
            "event_type",
            F.col("n1").alias("n_first"),
            F.col("n2").alias("n_second"),
            (
                F.col("num").cast("double")
                / (F.lit(2.0) * F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("tv_distance"),
        )
    )


@_q(
    "drift_ks_statistic",
    """
    WITH t AS (
      SELECT event_type, value,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY event_type, value),
    c AS (
      SELECT event_type,
             SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS cuma,
             SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS cumb,
             SUM(ca) OVER (PARTITION BY event_type) AS na,
             SUM(cb) OVER (PARTITION BY event_type) AS nb
      FROM t)
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           MAX(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
                   - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks_stat
    FROM c WHERE na > 0 AND nb > 0
    GROUP BY event_type, na, nb
    """,
)
def drift_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic per stratum between
    user-id-parity cohorts: D = max_v |F_A(v) - F_B(v)| over the pooled
    distinct values."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    t = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("cb"),
    )
    wc = Window.partitionBy("event_type").orderBy("value")
    wp = Window.partitionBy("event_type")
    c = t.select(
        "event_type",
        F.sum("ca").over(wc).alias("cuma"),
        F.sum("cb").over(wc).alias("cumb"),
        F.sum("ca").over(wp).alias("na"),
        F.sum("cb").over(wp).alias("nb"),
    )
    return (
        c.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy("event_type", "na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("cuma").cast("double") / F.col("na").cast("double")
                    - F.col("cumb").cast("double") / F.col("nb").cast("double")
                )
            ).alias("ks_stat")
        )
        .select(
            "event_type",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            "ks_stat",
        )
    )


@_q(
    "label_agreement_kappa",
    """
    WITH l AS (
      SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
             CASE WHEN length(text) - length(replace(text, ' ', '')) >= 40
                  THEN 1 ELSE 0 END AS b
      FROM documents),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
             CAST(SUM(a) AS BIGINT) AS a1, CAST(SUM(b) AS BIGINT) AS b1
      FROM l)
    SELECT n, n11, n00,
           (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
               + CAST(n - a1 AS DOUBLE) * CAST(n - b1 AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
           / (CAST(1 AS DOUBLE)
              - (CAST(a1 AS DOUBLE) * CAST(b1 AS DOUBLE)
                 + CAST(n - a1 AS DOUBLE) * CAST(n - b1 AS DOUBLE))
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS kappa
    FROM m
    """,
)
def label_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic labeling functions (a
    char-length gate vs a word-count gate): (po - pe) / (1 - pe) from the
    exact integer confusion matrix."""
    docs = load_table(spark, sf_dir, "documents")
    l = docs.select(
        F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("a"),
        F.when(
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            >= 40,
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    m = l.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)).alias(
            "n11"
        ),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)).alias(
            "n00"
        ),
        F.sum("a").alias("a1"),
        F.sum("b").alias("b1"),
    )
    nd = F.col("n").cast("double")
    pe = (
        F.col("a1").cast("double") * F.col("b1").cast("double")
        + (F.col("n") - F.col("a1")).cast("double")
        * (F.col("n") - F.col("b1")).cast("double")
    ) / (nd * nd)
    po = (F.col("n11") + F.col("n00")).cast("double") / nd
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n11").cast("bigint").alias("n11"),
        F.col("n00").cast("bigint").alias("n00"),
        ((po - pe) / (F.lit(1).cast("double") - pe)).alias("kappa"),
    )


@_q(
    "gini_engagement_by_type",
    """
    WITH u AS (
      SELECT event_type, user_id,
             SUM(CAST(value AS DECIMAL(9,6))) AS tot
      FROM events WHERE value > CAST(0.0 AS DOUBLE)
      GROUP BY event_type, user_id),
    r AS (
      SELECT event_type, tot,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY tot, user_id) AS rk
      FROM u),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(CAST(SUM(tot) AS VARCHAR) AS DOUBLE) AS s0,
             CAST(CAST(SUM(rk * tot) AS VARCHAR) AS DOUBLE) AS s1
      FROM r GROUP BY event_type)
    SELECT event_type, n_users,
           (2.0 * s1 - (CAST(n_users AS DOUBLE) + 1.0) * s0)
             / (CAST(n_users AS DOUBLE) * s0) AS gini
    FROM s WHERE n_users >= 2
    """,
)
def gini_engagement_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user engagement value within each event type."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0.0)
    u = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(9,6)")).alias("tot")
    )
    w = Window.partitionBy("event_type").orderBy("tot", "user_id")
    r = u.select(
        "event_type", "tot", F.row_number().over(w).alias("rk")
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("tot").cast("string").cast("double").alias("s0"),
        F.sum(F.col("rk") * F.col("tot")).cast("string").cast("double").alias("s1"),
    )
    nd = F.col("n_users").cast("double")
    return (
        s.filter(F.col("n_users") >= 2)
        .select(
            "event_type",
            F.col("n_users").cast("bigint").alias("n_users"),
            (
                (F.lit(2.0) * F.col("s1") - (nd + F.lit(1.0)) * F.col("s0"))
                / (nd * F.col("s0"))
            ).alias("gini"),
        )
    )


@_q(
    "kanonymity_audit",
    """
    SELECT c_nationkey,
           CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS k,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l,
           count(*) < 5 AS violates_k5,
           count(DISTINCT c_mktsegment) < 2 AS violates_l2
    FROM customer
    GROUP BY c_nationkey, CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT)
    """,
)
def kanonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit: per quasi-identifier class (nation x
    coarse account-balance band), the class size k, the diversity l of the
    market segment, and the k<5 / l<2 violation flags.

    Scale shape: ONE keyed aggregate over the quasi-identifier columns
    (count + count-distinct share the shuffle); output is cell-count sized,
    bounded by the QI domain, never the table."""
    c = load_table(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long")
    k = F.count(F.lit(1))
    l = F.countDistinct("c_mktsegment")
    return (
        c.groupBy(F.col("c_nationkey"), band.alias("bal_band"))
        .agg(
            k.cast("long").alias("k"),
            l.cast("long").alias("l"),
            (k < 5).alias("violates_k5"),
            (l < 2).alias("violates_l2"),
        )
    )


#: Poisson(1) CDF over the 32-bit md5-prefix space: floor(cum_k * 2^32) for
#: k = 0..3 (k >= 4 is the clamped tail).  Integer thresholds make the
#: replicate weights pure integer arithmetic — bit-portable by construction.
_POIS_T = (1580030168, 3160060337, 3950075421, 4213413783)
_BOOT_B = 8


def _boot_sql() -> str:
    cols, arms = [], []
    for b in range(_BOOT_B):
        h = (f"('0x' || substr(md5('boot{b}:' || CAST(event_id AS VARCHAR)), "
             "1, 8))::BIGINT")
        k = (f"CASE WHEN {h} < {_POIS_T[0]} THEN 0 "
             f"WHEN {h} < {_POIS_T[1]} THEN 1 "
             f"WHEN {h} < {_POIS_T[2]} THEN 2 "
             f"WHEN {h} < {_POIS_T[3]} THEN 3 ELSE 4 END")
        cols.append(
            f"CAST(SUM({k}) AS BIGINT) AS n_{b}, "
            f"CASE WHEN SUM({k}) > 0 THEN {_dsum(f'value * {k}')} "
            f"/ CAST(SUM({k}) AS DOUBLE) END AS m_{b}"
        )
        arms.append(
            f"SELECT event_type, CAST({b} AS INTEGER) AS replicate, "
            f"n_{b} AS n, m_{b} AS mean_value FROM agg"
        )
    return (
        "WITH agg AS (SELECT event_type, "
        + ",\n      ".join(cols)
        + " FROM events GROUP BY event_type)\n    "
        + "\n    UNION ALL ".join(arms)
    )


@_q("bootstrap_mean_replicates", _boot_sql())
def bootstrap_mean_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the per-type mean event value: each of 8
    replicates weights every row by a deterministic md5-derived Poisson(1)
    draw, so all replicate means come from ONE scan."""
    ev = load_table(spark, sf_dir, "events")
    aggs = []
    for b in range(_BOOT_B):
        h = _md5_u32(F.lit(f"boot{b}:"), F.col("event_id").cast("string"))
        k = (
            F.when(h < _POIS_T[0], 0)
            .when(h < _POIS_T[1], 1)
            .when(h < _POIS_T[2], 2)
            .when(h < _POIS_T[3], 3)
            .otherwise(4)
        )
        aggs.append(F.sum(k).cast("long").alias(f"n_{b}"))
        # a group whose every row drew weight 0 (37% per replicate for a
        # 1-row group) must yield NULL, not an ANSI divide-by-zero crash
        aggs.append(
            F.when(
                F.sum(k) > 0,
                A.decimal_sum(F.col("value") * k) / F.sum(k).cast("double"),
            ).alias(f"m_{b}")
        )
    agg = ev.groupBy("event_type").agg(*aggs)
    stack_args = ", ".join(
        f"CAST({b} AS INT), n_{b}, m_{b}" for b in range(_BOOT_B)
    )
    return agg.selectExpr(
        "event_type",
        f"stack({_BOOT_B}, {stack_args}) AS (replicate, n, mean_value)",
    )


@_q(
    "theil_sen_slope_by_user",
    """
    WITH e AS (
      SELECT user_id, value,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts, event_id) AS BIGINT) AS i
      FROM events),
    p AS (SELECT a.user_id,
                 (b.value - a.value) / CAST(b.i - a.i AS DOUBLE) AS slope,
                 a.i AS i, b.i AS j
          FROM e a JOIN e b ON a.user_id = b.user_id AND a.i < b.i),
    r AS (SELECT user_id, slope,
                 CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY slope, i, j) AS BIGINT) AS rk,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS np
          FROM p)
    SELECT user_id, np AS n_pairs, slope AS sen_slope
    FROM r WHERE rk = (np + 1) // 2
    """,
)
def theil_sen_slope_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend per user: the discrete lower median (rank (n+1) DIV 2
    in (slope, pair) order) of all pairwise slopes of value over event
    order.

    Scale shape: the pair build is a user_id-keyed equi-self-join whose
    fan-out is bounded by per-user event count squared (never
    corpus-quadratic); the rank/median windows share the same user_id
    partitioning. Each slope is ONE IEEE division of bit-identical inputs.
    The ranked event table is an eager checkpoint: both sides of the pair
    self-join read it."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = ev.select(
        "user_id", "value", F.row_number().over(w).cast("long").alias("i")
    ).localCheckpoint()
    a = e.select("user_id", F.col("value").alias("va"), F.col("i").alias("i"))
    b = e.select("user_id", F.col("value").alias("vb"), F.col("i").alias("j"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("i") < F.col("j"))
        .select(
            "user_id",
            ((F.col("vb") - F.col("va")) / (F.col("j") - F.col("i")).cast("double"))
            .alias("slope"),
            "i",
            "j",
        )
    )
    wr = Window.partitionBy("user_id").orderBy("slope", "i", "j")
    wn = Window.partitionBy("user_id")
    r = p.select(
        "user_id",
        "slope",
        F.row_number().over(wr).cast("long").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("long").alias("np"),
    )
    out = r.filter(F.col("rk") == F.expr("(np + 1) DIV 2")).select(
        "user_id", F.col("np").alias("n_pairs"), F.col("slope").alias("sen_slope")
    )
    return out


@_q(
    "bootstrap_ci_mean",
    f"""
    WITH reps AS ({_boot_sql()}),
    v AS (SELECT event_type, replicate, mean_value FROM reps
          WHERE mean_value IS NOT NULL),
    r AS (SELECT event_type, replicate, mean_value,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                      ORDER BY mean_value, replicate) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS nr
          FROM v),
    env AS (SELECT event_type, CAST(max(nr) AS BIGINT) AS n_reps,
                   min(mean_value) AS ci_lo, max(mean_value) AS ci_hi
            FROM r GROUP BY event_type),
    med AS (SELECT event_type, mean_value AS ci_med FROM r
            WHERE rk = (nr + 1) // 2),
    pt AS (SELECT event_type,
                  {_dsum('value')} / CAST(count(*) AS DOUBLE)
                    AS point_mean
           FROM events GROUP BY event_type)
    SELECT pt.event_type, pt.point_mean, e.n_reps, e.ci_lo, m.ci_med, e.ci_hi
    FROM pt JOIN env e ON e.event_type = pt.event_type
            JOIN med m ON m.event_type = pt.event_type
    """,
)
def bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The readout over [[bootstrap_mean_replicates]]: per event type, the
    exact decimal mean with the min/max envelope and the lower-median of the
    8 replicate means.

    Scale shape: the replicate table is (types x 8) rows; everything
    downstream of the one-scan bootstrap aggregate is sketch-sized."""
    reps = QUERIES["bootstrap_mean_replicates"](spark, sf_dir)
    v = reps.filter(F.col("mean_value").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("mean_value", "replicate")
    wn = Window.partitionBy("event_type")
    r = v.select(
        "event_type",
        "mean_value",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("nr"),
    )
    env = r.groupBy("event_type").agg(
        F.max("nr").cast("long").alias("n_reps"),
        F.min("mean_value").alias("ci_lo"),
        F.max("mean_value").alias("ci_hi"),
    )
    med = r.filter(F.col("rk") == F.expr("(nr + 1) DIV 2")).select(
        "event_type", F.col("mean_value").alias("ci_med")
    )
    ev = load_table(spark, sf_dir, "events")
    pt = ev.groupBy("event_type").agg(
        (A.decimal_sum("value") / F.count(F.lit(1)).cast("double")).alias(
            "point_mean"
        )
    )
    return (
        pt.join(F.broadcast(env), "event_type")
        .join(F.broadcast(med), "event_type")
        .select("event_type", "point_mean", "n_reps", "ci_lo", "ci_med", "ci_hi")
    )


@_q(
    "survival_risk_table",
    """
    WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    pu AS (SELECT e.user_id, min(e.ts) AS p_ts
           FROM events e JOIN v ON v.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.ts >= v.v_ts
           GROUP BY e.user_id),
    mx AS (SELECT max(ts) AS m_ts FROM events),
    d AS (SELECT v.user_id,
                 CAST(CASE WHEN pu.p_ts IS NOT NULL
                      THEN (CAST(floor(epoch(pu.p_ts)) AS BIGINT)
                            - CAST(floor(epoch(v.v_ts)) AS BIGINT)) // 86400
                      ELSE (CAST(floor(epoch(mx.m_ts)) AS BIGINT)
                            - CAST(floor(epoch(v.v_ts)) AS BIGINT)) // 86400
                      END AS BIGINT) AS dur_days,
                 (pu.p_ts IS NOT NULL) AS observed
          FROM v LEFT JOIN pu ON pu.user_id = v.user_id CROSS JOIN mx),
    pd AS (SELECT dur_days,
                  CAST(SUM(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_events,
                  CAST(SUM(CASE WHEN observed THEN 0 ELSE 1 END) AS BIGINT)
                    AS n_censored,
                  CAST(count(*) AS BIGINT) AS n_total
           FROM d GROUP BY dur_days),
    risk AS (SELECT x.dur_days, CAST(SUM(y.n_total) AS BIGINT) AS n_at_risk
             FROM pd x JOIN pd y ON y.dur_days >= x.dur_days
             GROUP BY x.dur_days)
    SELECT p.dur_days AS day, r.n_at_risk, p.n_events, p.n_censored
    FROM pd p JOIN risk r ON r.dur_days = p.dur_days
    """,
)
def survival_risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier risk table for time-to-conversion: per day since a
    user's first view, the number at risk, the conversions and the
    right-censored exits.

    Scale shape: first-view/first-purchase are user-keyed min aggregates;
    the horizon is a broadcast scalar; per-day counts are one keyed
    aggregate of a users-sized table; the at-risk cumulative uses a non-equi
    self-join of the DAY table (bounded by the horizon in days — the Neyman
    count-ahead pattern, no global window)."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    mx = ev.agg(F.max("ts").alias("m_ts"))
    end = F.when(
        F.col("p_ts").isNotNull(), F.unix_timestamp("p_ts")
    ).otherwise(F.unix_timestamp("m_ts"))
    d = (
        v.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            (end - F.unix_timestamp("v_ts")).alias("gap_s"),
            F.col("p_ts").isNotNull().alias("observed"),
        )
        .select(
            "user_id",
            F.expr("gap_s DIV 86400").cast("long").alias("dur_days"),
            "observed",
        )
    )
    pd_ = d.groupBy("dur_days").agg(
        F.sum(F.when(F.col("observed"), 1).otherwise(0)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("observed"), 0).otherwise(1))
        .cast("long")
        .alias("n_censored"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    y = pd_.select(F.col("dur_days").alias("y_day"), F.col("n_total").alias("y_n"))
    risk = (
        pd_.join(F.broadcast(y), F.col("y_day") >= F.col("dur_days"))
        .groupBy("dur_days")
        .agg(F.sum("y_n").cast("long").alias("n_at_risk"))
    )
    return (
        pd_.join(F.broadcast(risk), "dur_days")
        .select(
            F.col("dur_days").alias("day"), "n_at_risk", "n_events", "n_censored"
        )
    )


@_q(
    "calibration_table",
    r"""
    WITH f AS (
      SELECT doc_id, length(text) AS n_chars,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    s AS (SELECT doc_id, n_tokens,
                 (-2.0 + 0.004 * CAST(n_tokens AS DOUBLE))
                   + 0.35 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   AS logit,
                 (n_tokens BETWEEN 50 AND 100000) AS label
          FROM f WHERE n_tokens > 0)
    SELECT CAST(floor(logit / ('0.125'::DOUBLE)) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS pos_rate
    FROM s GROUP BY bin
    """,
)
def calibration_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration table: the [[quality_logit]] score in fixed
    0.125-wide bins against the Gopher word-count rule as the label, with
    per-bin observed positive rates.

    Scale shape: pure scan + one bin-keyed aggregate; bin edges from
    floor-division of the same double both engines computed bit-identically."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    ).cast("long")
    f = docs.select(
        "doc_id", F.length("text").alias("n_chars"), n_tokens.alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    logit = (
        F.lit(-2.0) + F.lit(0.004) * F.col("n_tokens").cast("double")
    ) + F.lit(0.35) * (
        F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")
    )
    s = f.select(
        F.floor(logit / F.lit(0.125)).cast("long").alias("bin"),
        F.col("n_tokens").between(50, 100000).alias("label"),
    )
    return s.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("long").alias("n_pos"),
        (
            F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("pos_rate"),
    )


@_q(
    "quantile_normalize_sources",
    """
    WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x
               FROM documents),
    r AS (SELECT doc_id, source, x,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY x, doc_id) AS BIGINT) AS rk
          FROM d),
    ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n_s FROM d GROUP BY source),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    vals AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY x),
    cum AS (SELECT a.v, CAST(SUM(b.c) AS BIGINT) AS cum_le
            FROM vals a JOIN vals b ON b.v <= a.v GROUP BY a.v),
    t AS (SELECT r.doc_id, r.source, r.x,
                 ((r.rk * tot.n + ns.n_s - 1) // ns.n_s) AS k
          FROM r JOIN ns ON ns.source = r.source CROSS JOIN tot),
    m AS (SELECT t.doc_id, t.source, t.x, CAST(min(c.v) AS BIGINT) AS x_norm
          FROM t JOIN cum c ON c.cum_le >= t.k
          GROUP BY t.doc_id, t.source, t.x)
    SELECT doc_id, source, x AS n_chars, x_norm
    FROM m
    """,
)
def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources: each document's feature is
    remapped to the pooled corpus value at its within-source quantile.

    Scale shape: the only corpus-sized shuffles are the source-keyed rank
    window and the final doc-keyed aggregate; the pooled distribution lives
    as a DISTINCT-VALUES table with count-ahead cumulative counts (bounded
    by feature cardinality, broadcast — the Neyman pattern, no global
    window)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("x")
    )
    w = Window.partitionBy("source").orderBy("x", "doc_id")
    r = d.withColumn("rk", F.row_number().over(w).cast("long"))
    ns = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    vals = d.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    vb = vals.select(F.col("x").alias("bv"), F.col("c").alias("bc"))
    cum = (
        vals.join(F.broadcast(vb), F.col("bv") <= F.col("x"))
        .groupBy("x")
        .agg(F.sum("bc").cast("long").alias("cum_le"))
        .select(F.col("x").alias("v"), "cum_le")
    )
    t = (
        r.join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            "x",
            F.expr("(rk * n + n_s - 1) DIV n_s").cast("long").alias("k"),
        )
    )
    m = (
        t.join(F.broadcast(cum), F.col("cum_le") >= F.col("k"))
        .groupBy("doc_id", "source", "x")
        .agg(F.min("v").cast("long").alias("x_norm"))
    )
    return m.select("doc_id", "source", F.col("x").alias("n_chars"), "x_norm")


# Benford expected first-digit probabilities log10(1 + 1/d), computed ONCE in
# Python and injected as the SAME float literal into both engines (the literal
# recipe) — cross-engine log10 is not guaranteed bit-identical, a shared
# literal is.
_BENFORD_P = {
    1: 0.3010299956639812,
    2: 0.17609125905568124,
    3: 0.12493873660829992,
    4: 0.09691001300805642,
    5: 0.07918124604762482,
    6: 0.06694678963061322,
    7: 0.05799194697768673,
    8: 0.05115252244738129,
    9: 0.04575749056067514,
}
_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN '{p!r}'::DOUBLE" for d, p in _BENFORD_P.items()
) + " END"


@_q(
    "benford_first_digit",
    f"""
    WITH v AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT) AS cents
               FROM lineitem WHERE l_extendedprice > 0),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
          FROM v),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
    e AS (SELECT digit, n, total,
                 {_BENFORD_CASE_SQL} AS exp_p
          FROM c CROSS JOIN t)
    SELECT digit, n,
           CAST(n AS DOUBLE) / total AS obs_p,
           exp_p,
           ((CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * exp_p)
            * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * exp_p))
           / (CAST(total AS DOUBLE) * exp_p) AS chi2_term
    FROM e
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over prices against log10(1+1/d).

    Scale shape: one scan + one 9-group aggregate; the totals row is a 1-row
    broadcast. 9 output rows regardless of corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    digit = (
        li.filter(F.col("l_extendedprice") > 0)
        .select(
            F.substring(
                (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("long")
                .cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    c = digit.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = digit.agg(F.count(F.lit(1)).cast("long").alias("total"))
    exp_p = F.lit(None).cast("double")
    for d, p in _BENFORD_P.items():
        exp_p = F.when(F.col("digit") == d, F.lit(p)).otherwise(exp_p)
    e = c.crossJoin(F.broadcast(tot)).withColumn("exp_p", exp_p)
    nd = F.col("n").cast("double")
    expected = F.col("total").cast("double") * F.col("exp_p")
    return e.select(
        "digit",
        "n",
        (nd / F.col("total")).alias("obs_p"),
        "exp_p",
        (((nd - expected) * (nd - expected)) / expected).alias("chi2_term"),
    )


@_q(
    "auc_purchase_value",
    """
    WITH e AS (SELECT CAST(ts AS DATE) AS day,
                      value,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS is_pos,
                      CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END
                        AS is_neg
               FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    r AS (SELECT day, is_pos, is_neg,
                 CAST(SUM(is_neg) OVER (PARTITION BY day ORDER BY value
                      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS neg_le,
                 CAST(SUM(is_neg) OVER (PARTITION BY day, value)
                      AS BIGINT) AS neg_eq
          FROM e),
    d AS (SELECT day,
                 CAST(SUM(is_pos) AS BIGINT) AS n_pos,
                 CAST(SUM(is_neg) AS BIGINT) AS n_neg,
                 CAST(SUM(CASE WHEN is_pos = 1
                           THEN 2 * (neg_le - neg_eq) + neg_eq
                           ELSE 0 END) AS BIGINT) AS u2
          FROM r GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day, n_pos, n_neg, u2,
           CAST(u2 AS DOUBLE) / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
    FROM d WHERE n_pos > 0 AND n_neg > 0
    """,
)
def auc_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily AUC (Mann-Whitney U) of `value` as a purchase classifier in
    exact integer rank arithmetic: u2 = 2U stays BIGINT, and AUC = u2 / (2 *
    n_pos * n_neg) is one float division.

    Scale shape: both windows partition by day (no global window), then one
    day-keyed aggregate — the day key bounds every partition, and at 100 TB
    the windows parallelize across days."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.col("ts").cast("date").alias("day"),
        "value",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_pos"),
        F.when(F.col("event_type") == "purchase", 0).otherwise(1).alias("is_neg"),
    )
    w_le = (
        Window.partitionBy("day")
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_eq = Window.partitionBy("day", "value")
    r = e.select(
        "day",
        "is_pos",
        "is_neg",
        F.sum("is_neg").over(w_le).cast("long").alias("neg_le"),
        F.sum("is_neg").over(w_eq).cast("long").alias("neg_eq"),
    )
    d = r.groupBy("day").agg(
        F.sum("is_pos").cast("long").alias("n_pos"),
        F.sum("is_neg").cast("long").alias("n_neg"),
        F.sum(
            F.when(
                F.col("is_pos") == 1,
                2 * (F.col("neg_le") - F.col("neg_eq")) + F.col("neg_eq"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("u2"),
    )
    return d.filter((F.col("n_pos") > 0) & (F.col("n_neg") > 0)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / (2 * F.col("n_pos") * F.col("n_neg")).cast("double")
        ).alias("auc"),
    )


@_q(
    "chisq_source_lang",
    """
    WITH d AS (SELECT source, lang FROM documents
               WHERE source IS NOT NULL AND lang IS NOT NULL),
    c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS o
          FROM d GROUP BY source, lang),
    rt AS (SELECT source, CAST(count(*) AS BIGINT) AS row_n
           FROM d GROUP BY source),
    ct AS (SELECT lang, CAST(count(*) AS BIGINT) AS col_n
           FROM d GROUP BY lang),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    g AS (SELECT rt.source, ct.lang, rt.row_n, ct.col_n,
                 COALESCE(c.o, CAST(0 AS BIGINT)) AS o
          FROM rt CROSS JOIN ct
          LEFT JOIN c ON c.source = rt.source AND c.lang = ct.lang)
    SELECT g.source, g.lang, g.o,
           CAST(g.row_n * g.col_n AS DOUBLE) / t.n AS expected,
           ((CAST(g.o AS DOUBLE) - CAST(g.row_n * g.col_n AS DOUBLE) / t.n)
            * (CAST(g.o AS DOUBLE) - CAST(g.row_n * g.col_n AS DOUBLE) / t.n))
           / (CAST(g.row_n * g.col_n AS DOUBLE) / t.n) AS chi2_term
    FROM g CROSS JOIN t
    """,
)
def chisq_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence cells for source x lang over the full grid of
    the two marginals (zero-observed cells included): expected row_n*col_n/n
    and each cell's chi2_term.

    Scale shape: one keyed aggregate for the cells; marginals and the total
    are group-count-sized broadcasts. Cell count is bounded by |sources| x
    |langs|, not corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    ).select("source", "lang")
    c = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rt = d.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("row_n"))
    ct = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("col_n"))
    t = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(c), ["source", "lang"], "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0).cast("long")))
    )
    j = g.crossJoin(F.broadcast(t))
    od = F.col("o").cast("double")
    expected = (F.col("row_n") * F.col("col_n")).cast("double") / F.col("n")
    return j.select(
        "source",
        "lang",
        "o",
        expected.alias("expected"),
        (((od - expected) * (od - expected)) / expected).alias("chi2_term"),
    )


def _discrete_laplace_cdf() -> list[tuple[int, float]]:
    """CDF thresholds of the discrete (two-sided geometric) Laplace
    distribution P(k) ∝ exp(-eps)**|k|, truncated to [-k_max, k_max],
    computed once in Python so both engines compare against the same
    literals."""
    k_max = 12
    a = math.exp(-0.5)
    p0 = (1.0 - a) / (1.0 + a)
    tail = sum(p0 * a ** abs(k) for k in range(-200, -k_max))
    out, s = [], tail
    for k in range(-k_max, k_max):
        s += p0 * a ** abs(k)
        out.append((k, s))
    return out


_DP_CDF = _discrete_laplace_cdf()
_DP_CASE_SQL = "CASE " + " ".join(
    f"WHEN u < '{c!r}'::DOUBLE THEN CAST({k} AS BIGINT)" for k, c in _DP_CDF
) + " ELSE CAST(12 AS BIGINT) END"


@_q(
    "dp_release_counts",
    f"""
    WITH c AS (SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                      CAST(count(*) AS BIGINT) AS n
               FROM events
               WHERE event_type IS NOT NULL AND ts IS NOT NULL
               GROUP BY event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d')),
    h AS (SELECT event_type, day, n,
                 ('0x' || substr(md5('dp1|' || event_type || '|' || day), 1, 8))::BIGINT
                   / 4294967296.0 AS u
          FROM c),
    z AS (SELECT event_type, day, n, {_DP_CASE_SQL} AS noise FROM h)
    SELECT event_type, day, n, noise,
           CASE WHEN n + noise > 0 THEN n + noise ELSE CAST(0 AS BIGINT) END
             AS released
    FROM z
    """,
)
def dp_release_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially private count release: daily per-event-type counts
    plus discrete-Laplace noise (eps=0.5) drawn by inverse CDF from an md5
    fraction of the group key.

    Scale shape: one keyed aggregate over events, then scan-shaped hash +
    ladder arithmetic on the group-count-sized result."""
    ev = load_table(spark, sf_dir, "events")
    c = (
        ev.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
        .groupBy(
            "event_type",
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    h = _md5_u32(F.lit("dp1|"), F.col("event_type"), F.lit("|"), F.col("day"))
    u = h / F.lit(4294967296.0)
    noise = F.lit(12).cast("long")
    for k, cth in reversed(_DP_CDF):
        noise = F.when(u < F.lit(cth), F.lit(k).cast("long")).otherwise(noise)
    z = c.withColumn("noise", noise)
    return z.select(
        "event_type",
        "day",
        "n",
        "noise",
        F.when(F.col("n") + F.col("noise") > 0, F.col("n") + F.col("noise"))
        .otherwise(F.lit(0).cast("long"))
        .alias("released"),
    )


@_q(
    "kendall_tau_source_size",
    """
    WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS x,
                      CAST(count(DISTINCT lang) AS BIGINT) AS y
               FROM documents WHERE source IS NOT NULL GROUP BY source),
    p AS (SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
          FROM s a JOIN s b ON a.source < b.source),
    c AS (SELECT
            CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS conc,
            CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS disc,
            CAST(SUM(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END)
                 AS BIGINT) AS tie_x,
            CAST(SUM(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END)
                 AS BIGINT) AS tie_y,
            CAST(SUM(CASE WHEN xa = xb AND ya = yb THEN 1 ELSE 0 END)
                 AS BIGINT) AS tie_xy,
            CAST(count(*) AS BIGINT) AS n_pairs
          FROM p)
    SELECT conc, disc, tie_x, tie_y, tie_xy, n_pairs,
           CASE WHEN conc + disc + tie_x > 0 AND conc + disc + tie_y > 0
                THEN CAST(conc - disc AS DOUBLE)
                     / (sqrt(CAST(conc + disc + tie_x AS DOUBLE))
                        * sqrt(CAST(conc + disc + tie_y AS DOUBLE)))
                ELSE NULL END AS tau_b
    FROM c
    """,
)
def kendall_tau_source_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b between two per-source signals (total chars vs
    language spread) from exact integer concordant/discordant/tie pair
    counts.

    Scale shape: the pair self-join runs over the SOURCE-level aggregate
    (|sources| rows, broadcast non-equi join), never over corpus rows — the
    corpus contributes one keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(
            F.sum("n_chars").cast("long").alias("x"),
            F.countDistinct("lang").cast("long").alias("y"),
        )
    )
    a = s.select(F.col("source").alias("src_a"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = s.select(F.col("source").alias("src_b"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    p = a.join(F.broadcast(b), F.col("src_a") < F.col("src_b"))
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    c = p.agg(
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long").alias("conc"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long").alias("disc"),
        F.sum(F.when((dx == 0) & (dy != 0), 1).otherwise(0)).cast("long").alias("tie_x"),
        F.sum(F.when((dy == 0) & (dx != 0), 1).otherwise(0)).cast("long").alias("tie_y"),
        F.sum(F.when((dx == 0) & (dy == 0), 1).otherwise(0)).cast("long").alias("tie_xy"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    cd = F.col("conc") + F.col("disc")
    tau = (F.col("conc") - F.col("disc")).cast("double") / (
        F.sqrt((cd + F.col("tie_x")).cast("double"))
        * F.sqrt((cd + F.col("tie_y")).cast("double"))
    )
    return c.select(
        "conc",
        "disc",
        "tie_x",
        "tie_y",
        "tie_xy",
        "n_pairs",
        F.when(
            (cd + F.col("tie_x") > 0) & (cd + F.col("tie_y") > 0), tau
        ).alias("tau_b"),
    )


@_q(
    "target_encode_loo",
    """
    WITH g AS (SELECT o_orderpriority,
                      SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS sum_g,
                      CAST(count(*) AS BIGINT) AS n_g
               FROM orders GROUP BY o_orderpriority)
    SELECT o_orderkey, o.o_orderpriority, o_totalprice,
           CASE WHEN n_g > 1
                THEN CAST(sum_g - CAST(o_totalprice AS DECIMAL(27,6)) AS DOUBLE)
                     / (n_g - 1)
                ELSE NULL END AS loo_mean
    FROM orders o JOIN g ON g.o_orderpriority = o.o_orderpriority
    """,
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding: each row's value is its category's
    target mean without that row, (sum_g - x_i) / (n_g - 1).

    Scale shape: one keyed aggregate to the category table (broadcast back —
    category cardinality, not corpus), one scan to encode. No window, no
    per-row shuffle."""
    o = load_table(spark, sf_dir, "orders")
    dec = F.col("o_totalprice").cast("decimal(27,6)")
    g = o.groupBy("o_orderpriority").agg(
        F.sum(dec).alias("sum_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    return (
        o.join(F.broadcast(g), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.when(
                F.col("n_g") > 1,
                (F.col("sum_g") - dec).cast("double") / (F.col("n_g") - 1),
            ).alias("loo_mean"),
        )
    )


@_q(
    "spearman_len_vs_spaces",
    """
    WITH d AS (SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS x,
                      CAST(length(text) - length(replace(text, ' ', ''))
                           AS BIGINT) AS y
               FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL),
    r AS (SELECT lang, doc_id, x, y,
                 CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY x)
                      + COUNT(*) OVER (PARTITION BY lang, x) - 1
                      AS BIGINT) AS r2x,
                 CAST(2 * RANK() OVER (PARTITION BY lang ORDER BY y)
                      + COUNT(*) OVER (PARTITION BY lang, y) - 1
                      AS BIGINT) AS r2y
          FROM d),
    a AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(r2x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(r2y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
                 CAST(SUM(CAST(r2x AS DECIMAL(19,0)) * r2y) AS DOUBLE) AS sxy,
                 CAST(SUM(CAST(r2x AS DECIMAL(19,0)) * r2x) AS DOUBLE) AS sxx,
                 CAST(SUM(CAST(r2y AS DECIMAL(19,0)) * r2y) AS DOUBLE) AS syy
          FROM r GROUP BY lang)
    SELECT lang, n,
           CASE WHEN CAST(n AS DOUBLE) * sxx - sx * sx > 0
                 AND CAST(n AS DOUBLE) * syy - sy * sy > 0
                THEN (CAST(n AS DOUBLE) * sxy - sx * sy)
                     / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                        * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
                ELSE NULL END AS spearman_rho
    FROM a
    """,
)
def spearman_len_vs_spaces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per language between doc length and
    whitespace count, with doubled integer mid-ranks for ties; zero-variance
    groups yield NULL.

    Scale shape: two lang-partitioned rank windows (no global window) plus
    one keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("lang").isNotNull() & F.col("text").isNotNull()).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", ""))
        ).cast("long").alias("y"),
    )
    wx = Window.partitionBy("lang").orderBy("x")
    wy = Window.partitionBy("lang").orderBy("y")
    r = d.select(
        "lang",
        (2 * F.rank().over(wx) + F.count(F.lit(1)).over(Window.partitionBy("lang", "x")) - 1)
        .cast("long")
        .alias("r2x"),
        (2 * F.rank().over(wy) + F.count(F.lit(1)).over(Window.partitionBy("lang", "y")) - 1)
        .cast("long")
        .alias("r2y"),
    )
    dec = lambda c: F.col(c).cast("decimal(19,0)")  # noqa: E731
    a = r.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("r2x")).cast("double").alias("sx"),
        F.sum(dec("r2y")).cast("double").alias("sy"),
        F.sum(dec("r2x") * F.col("r2y")).cast("double").alias("sxy"),
        F.sum(dec("r2x") * F.col("r2x")).cast("double").alias("sxx"),
        F.sum(dec("r2y") * F.col("r2y")).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy") * F.col("sy")
    rho = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(vx) * F.sqrt(vy)
    )
    return a.select(
        "lang", "n", F.when((vx > 0) & (vy > 0), rho).alias("spearman_rho")
    )


@_q(
    "dispersion_lineitems_per_order",
    """
    WITH c AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
               FROM lineitem GROUP BY l_orderkey),
    a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(k) AS BIGINT) AS sx,
                 CAST(sum(k * k) AS BIGINT) AS sxx
          FROM c)
    SELECT n, sx, sxx,
           CAST(sx AS DOUBLE) / n AS mean_k,
           (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_k,
           ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
             / (CAST(sx AS DOUBLE) / n) AS dispersion_index
    FROM a
    """,
)
def dispersion_lineitems_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of lineitems per order.

    Scale shape: one keyed count + one 1-row moment aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    c = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).cast("long").alias("k"))
    a = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("sx"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    var_k = (nd * F.col("sxx") - sxd * sxd) / (nd * nd)
    return a.select(
        "n",
        "sx",
        "sxx",
        (sxd / F.col("n")).alias("mean_k"),
        var_k.alias("var_k"),
        (var_k / (sxd / F.col("n"))).alias("dispersion_index"),
    )


_WILSON_Z = 1.96
_WILSON_Z2 = 3.8415999999999997


@_q(
    "conversion_wilson_ci",
    f"""
    WITH d AS (SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                      CAST(SUM(CASE WHEN event_type IN ('view', 'purchase')
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_trials,
                      CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                               END) AS BIGINT) AS n_purchases
               FROM events WHERE ts IS NOT NULL GROUP BY 1),
    p AS (SELECT day, n_trials, n_purchases,
                 CAST(n_purchases AS DOUBLE) / n_trials AS phat,
                 CAST(n_trials AS DOUBLE) AS nd
          FROM d WHERE n_trials > 0)
    SELECT day, n_trials, n_purchases, phat,
           ((phat + '{_WILSON_Z2!r}'::DOUBLE / (2 * nd))
            - '{_WILSON_Z!r}'::DOUBLE
              * sqrt((phat * (1.0 - phat)) / nd
                     + '{_WILSON_Z2!r}'::DOUBLE / (4 * nd * nd)))
           / (1.0 + '{_WILSON_Z2!r}'::DOUBLE / nd) AS wilson_low,
           ((phat + '{_WILSON_Z2!r}'::DOUBLE / (2 * nd))
            + '{_WILSON_Z!r}'::DOUBLE
              * sqrt((phat * (1.0 - phat)) / nd
                     + '{_WILSON_Z2!r}'::DOUBLE / (4 * nd * nd)))
           / (1.0 + '{_WILSON_Z2!r}'::DOUBLE / nd) AS wilson_high
    FROM p
    """,
)
def conversion_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase share of view+purchase traffic with Wilson score
    intervals (z=1.96).

    Scale shape: one day-keyed conditional aggregate + scan-shaped
    arithmetic on the day-count-sized result."""
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.filter(F.col("ts").isNotNull())
        .groupBy(
            F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type").isin("view", "purchase"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_trials"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases"),
        )
        .filter(F.col("n_trials") > 0)
    )
    nd = F.col("n_trials").cast("double")
    phat = F.col("n_purchases").cast("double") / F.col("n_trials")
    z, z2 = F.lit(_WILSON_Z), F.lit(_WILSON_Z2)
    center = phat + z2 / (2 * nd)
    half = z * F.sqrt((phat * (1.0 - phat)) / nd + z2 / (4 * nd * nd))
    denom = 1.0 + z2 / nd
    return d.select(
        "day",
        "n_trials",
        "n_purchases",
        phat.alias("phat"),
        ((center - half) / denom).alias("wilson_low"),
        ((center + half) / denom).alias("wilson_high"),
    )


@_q(
    "ab_diff_in_diff",
    """
    WITH a AS (
      SELECT event_type,
             ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                  THEN 1 ELSE 0 END AS post,
             value
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)),
    m AS (
      SELECT event_type, arm, post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE)
               AS s1
      FROM a GROUP BY event_type, arm, post),
    piv AS (
      SELECT event_type,
             MAX(CASE WHEN arm = 1 AND post = 0 THEN s1 / n END) AS mt_pre,
             MAX(CASE WHEN arm = 1 AND post = 1 THEN s1 / n END) AS mt_post,
             MAX(CASE WHEN arm = 0 AND post = 0 THEN s1 / n END) AS mc_pre,
             MAX(CASE WHEN arm = 0 AND post = 1 THEN s1 / n END) AS mc_post,
             CAST(MIN(n) AS BIGINT) AS min_cell_n
      FROM m GROUP BY event_type)
    SELECT event_type, mt_pre, mt_post, mc_pre, mc_post, min_cell_n,
           (mt_post - mt_pre) - (mc_post - mc_pre) AS did
    FROM piv
    WHERE mt_pre IS NOT NULL AND mt_post IS NOT NULL
      AND mc_pre IS NOT NULL AND mc_post IS NOT NULL
    """,
)
def ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences per metric: the treated post-pre change
    minus the control post-pre change, with the md5 user split as arms and
    the Jan-20 cut as the launch (an A/A check).

    Scale shape: one (metric, arm, period) keyed aggregate over the corpus,
    then a |metrics|-sized pivot. No windows, no joins on corpus rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    cut = F.to_timestamp(F.lit("2024-01-20 00:00:00"))
    d6 = F.col("value").cast("decimal(9,6)")
    m = (
        ev.select(
            "event_type",
            hash_bucket("user_id", 2, "ab").alias("arm"),
            F.when(F.col("ts") >= cut, 1).otherwise(0).alias("post"),
            "value",
        )
        .groupBy("event_type", "arm", "post")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d6).cast("string").cast("double").alias("s1"),
        )
    )

    def cell(arm, post):
        return F.max(
            F.when(
                (F.col("arm") == arm) & (F.col("post") == post),
                F.col("s1") / F.col("n"),
            )
        )

    piv = m.groupBy("event_type").agg(
        cell(1, 0).alias("mt_pre"),
        cell(1, 1).alias("mt_post"),
        cell(0, 0).alias("mc_pre"),
        cell(0, 1).alias("mc_post"),
        F.min("n").cast("long").alias("min_cell_n"),
    )
    return piv.filter(
        F.col("mt_pre").isNotNull()
        & F.col("mt_post").isNotNull()
        & F.col("mc_pre").isNotNull()
        & F.col("mc_post").isNotNull()
    ).select(
        "event_type",
        "mt_pre",
        "mt_post",
        "mc_pre",
        "mc_post",
        "min_cell_n",
        (
            (F.col("mt_post") - F.col("mt_pre"))
            - (F.col("mc_post") - F.col("mc_pre"))
        ).alias("did"),
    )


@_q(
    "cohort_ltv_curve",
    """
    WITH cm AS (
      SELECT o_custkey,
             CAST(strftime(o_orderdate, '%Y') AS BIGINT) * 12
               + CAST(strftime(o_orderdate, '%m') AS BIGINT) - 1 AS month_id,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DECIMAL(27,6))
               AS rev
      FROM orders GROUP BY o_custkey, month_id),
    fc AS (SELECT o_custkey, MIN(month_id) AS cohort_id FROM cm
           GROUP BY o_custkey),
    sz AS (SELECT cohort_id, CAST(count(*) AS BIGINT) AS n_customers
           FROM fc GROUP BY cohort_id),
    co AS (
      SELECT fc.cohort_id, cm.month_id - fc.cohort_id AS offset_months,
             CAST(SUM(cm.rev) AS DECIMAL(27,6)) AS rev
      FROM cm JOIN fc ON fc.o_custkey = cm.o_custkey
      GROUP BY fc.cohort_id, offset_months),
    cum AS (
      SELECT cohort_id, offset_months,
             SUM(rev) OVER (PARTITION BY cohort_id ORDER BY offset_months
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev
      FROM co)
    SELECT CAST(cum.cohort_id AS BIGINT) AS cohort_id,
           CAST(offset_months AS BIGINT) AS offset_months,
           sz.n_customers,
           CAST(cum_rev AS DOUBLE) AS cum_revenue,
           CAST(cum_rev AS DOUBLE) / sz.n_customers AS ltv_per_customer
    FROM cum JOIN sz ON sz.cohort_id = cum.cohort_id
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve: customers grouped by first-purchase month, with
    cumulative revenue per customer at each month offset.

    Scale shape: (customer, month) aggregate, customer-keyed cohort join,
    (cohort, offset) regroup, then a window PARTITIONED by cohort over
    |offsets| rows."""
    o = load_table(spark, sf_dir, "orders")
    dec = "decimal(27,6)"
    cm = o.groupBy(
        "o_custkey",
        (
            F.year("o_orderdate").cast("long") * 12
            + F.month("o_orderdate").cast("long")
            - 1
        ).alias("month_id"),
    ).agg(F.sum(F.col("o_totalprice").cast(dec)).cast(dec).alias("rev"))
    fc = cm.groupBy("o_custkey").agg(F.min("month_id").alias("cohort_id"))
    sz = fc.groupBy("cohort_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    co = (
        cm.join(fc, "o_custkey")
        .groupBy(
            "cohort_id",
            (F.col("month_id") - F.col("cohort_id")).alias("offset_months"),
        )
        .agg(F.sum("rev").cast(dec).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_id")
        .orderBy("offset_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = co.select(
        "cohort_id", "offset_months", F.sum("rev").over(w).alias("cum_rev")
    )
    return cum.join(sz, "cohort_id").select(
        F.col("cohort_id").cast("long").alias("cohort_id"),
        F.col("offset_months").cast("long").alias("offset_months"),
        "n_customers",
        F.col("cum_rev").cast("double").alias("cum_revenue"),
        (F.col("cum_rev").cast("double") / F.col("n_customers")).alias(
            "ltv_per_customer"
        ),
    )


@_q(
    "association_type_hour_cramers_v",
    """
    WITH d AS (
      SELECT event_type,
             CAST(strftime(ts, '%H') AS INTEGER) AS hour_of_day
      FROM events),
    c AS (SELECT event_type, hour_of_day, CAST(count(*) AS BIGINT) AS o
          FROM d GROUP BY event_type, hour_of_day),
    rt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS row_n
           FROM d GROUP BY event_type),
    ct AS (SELECT hour_of_day, CAST(count(*) AS BIGINT) AS col_n
           FROM d GROUP BY hour_of_day),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
    g AS (SELECT rt.event_type, ct.hour_of_day, rt.row_n, ct.col_n,
                 COALESCE(c.o, CAST(0 AS BIGINT)) AS o
          FROM rt CROSS JOIN ct
          LEFT JOIN c ON c.event_type = rt.event_type
                     AND c.hour_of_day = ct.hour_of_day),
    terms AS (
      SELECT CAST(floor(
               ((CAST(g.o AS DOUBLE) - CAST(g.row_n * g.col_n AS DOUBLE) / t.n)
                * (CAST(g.o AS DOUBLE) - CAST(g.row_n * g.col_n AS DOUBLE) / t.n))
               / (CAST(g.row_n * g.col_n AS DOUBLE) / t.n)
               * 1000000.0) AS BIGINT) AS term
      FROM g CROSS JOIN t),
    dims AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM rt),
    dimc AS (SELECT CAST(count(*) AS BIGINT) AS n_cols FROM ct)
    SELECT CAST(SUM(terms.term) AS DOUBLE) / 1000000.0 AS chi2,
           dims.n_rows, dimc.n_cols, t.n AS n_events,
           sqrt(CAST(SUM(terms.term) AS DOUBLE) / 1000000.0
                / (t.n * (least(dims.n_rows, dimc.n_cols) - 1))) AS cramers_v
    FROM terms CROSS JOIN dims CROSS JOIN dimc CROSS JOIN t
    GROUP BY dims.n_rows, dimc.n_cols, t.n
    """,
)
def association_type_hour_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between event type and hour-of-day.

    Scale shape: one keyed aggregate + marginal broadcasts; the cell grid is
    |types| x 24."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        "event_type", F.date_format("ts", "HH").cast("int").alias("hour_of_day")
    )
    c = d.groupBy("event_type", "hour_of_day").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rt = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("row_n")
    )
    ct = d.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).cast("long").alias("col_n")
    )
    t = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = (
        rt.crossJoin(ct)
        .join(c, ["event_type", "hour_of_day"], "left")
        .select(
            "event_type",
            "hour_of_day",
            "row_n",
            "col_n",
            F.coalesce(F.col("o"), F.lit(0).cast("long")).alias("o"),
        )
    )
    expected = F.col("row_n") * F.col("col_n")
    dev = F.col("o").cast("double") - expected.cast("double") / F.col("n")
    # floor-to-micro BIGINT: CAST(double AS DECIMAL) is NOT portable
    # (Spark rounds half-up, DuckDB truncates) -- floor(x*1e6) in double
    # is the same IEEE op sequence on both engines
    term = F.floor(
        dev * dev / (expected.cast("double") / F.col("n")) * 1000000.0
    ).cast("long")
    terms = g.crossJoin(F.broadcast(t)).select(term.alias("term"), "n")
    dims = rt.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    dimc = ct.agg(F.count(F.lit(1)).cast("long").alias("n_cols"))
    s = terms.groupBy("n").agg(F.sum("term").alias("chi2_micro"))
    out = s.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(dimc))
    chi2 = F.col("chi2_micro").cast("double") / 1000000.0
    return out.select(
        chi2.alias("chi2"),
        "n_rows",
        "n_cols",
        F.col("n").alias("n_events"),
        F.sqrt(
            chi2 / (F.col("n") * (F.least(F.col("n_rows"), F.col("n_cols")) - 1))
        ).alias("cramers_v"),
    )


@_q(
    "seasonality_strength_by_type",
    """
    WITH h AS (
      SELECT event_type, CAST(strftime(ts, '%H') AS INTEGER) AS hr,
             CAST(count(*) AS BIGINT) AS n_g,
             SUM(CAST(value AS DECIMAL(9,6))) AS sd1,
             SUM(CAST(value AS DECIMAL(9,6)) * CAST(value AS DECIMAL(9,6)))
               AS sd2
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY event_type, hr),
    terms AS (
      SELECT event_type, n_g, sd1, sd2,
             CAST(floor((CAST(CAST(sd1 AS VARCHAR) AS DOUBLE)
                   * CAST(CAST(sd1 AS VARCHAR) AS DOUBLE)) / n_g
                  * 1000000.0) AS BIGINT) AS bterm
      FROM h),
    agg AS (
      SELECT event_type,
             CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(CAST(SUM(sd1) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(sd2) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(SUM(bterm) AS DOUBLE) / 1000000.0 AS bsum,
             CAST(count(*) AS BIGINT) AS n_hours
      FROM terms GROUP BY event_type)
    SELECT event_type, n, n_hours,
           bsum - s1 * s1 / n AS between_ss,
           s2 - s1 * s1 / n AS total_ss,
           CASE WHEN s2 - s1 * s1 / n > CAST(0.0 AS DOUBLE)
                THEN (bsum - s1 * s1 / n) / (s2 - s1 * s1 / n)
                ELSE NULL END AS eta_squared
    FROM agg
    """,
)
def seasonality_strength_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength as one-way ANOVA eta-squared: the fraction of
    each metric's variance explained by hour-of-day over the 24 hour bins.

    Scale shape: one (type, hour) keyed aggregate; everything after is 24
    rows per type."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    d6 = F.col("value").cast("decimal(9,6)")
    h = ev.groupBy(
        "event_type", F.date_format("ts", "HH").cast("int").alias("hr")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(d6).alias("sd1"),
        F.sum(d6 * d6).alias("sd2"),
    )
    s1g = F.col("sd1").cast("string").cast("double")
    terms = h.select(
        "event_type",
        "n_g",
        "sd1",
        "sd2",
        F.floor((s1g * s1g) / F.col("n_g") * 1000000.0)
        .cast("long")
        .alias("bterm"),
    )
    agg = terms.groupBy("event_type").agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("sd1").cast("string").cast("double").alias("s1"),
        F.sum("sd2").cast("string").cast("double").alias("s2"),
        (F.sum("bterm").cast("double") / 1000000.0).alias("bsum"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
    )
    bss = F.col("bsum") - F.col("s1") * F.col("s1") / F.col("n")
    tss = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")
    return agg.select(
        "event_type",
        "n",
        "n_hours",
        bss.alias("between_ss"),
        tss.alias("total_ss"),
        F.when(tss > 0.0, bss / tss).alias("eta_squared"),
    )


_Z_ALPHA_975 = 1.959963984540054  # Phi^-1(0.975), shared literal
_Z_POWER_80 = 0.8416212335729143  # Phi^-1(0.80), shared literal


@_q(
    "ab_test_mde_readout",
    f"""
    {_AB_MOMENTS_SQL},
    p AS (
      SELECT t.event_type, t.n AS n_treat, c.n AS n_ctrl,
             c.s1 / c.n AS mean_ctrl,
             ((t.s2 - t.s1 * t.s1 / t.n) + (c.s2 - c.s1 * c.s1 / c.n))
               / (t.n + c.n - 2) AS pooled_var
      FROM m t JOIN m c ON t.event_type = c.event_type
            AND t.arm = 1 AND c.arm = 0
      WHERE t.n >= 2 AND c.n >= 2)
    SELECT event_type, n_treat, n_ctrl, pooled_var,
           ('{_Z_ALPHA_975!r}'::DOUBLE + '{_Z_POWER_80!r}'::DOUBLE)
             * sqrt(pooled_var * (CAST(1.0 AS DOUBLE) / n_treat
                                  + CAST(1.0 AS DOUBLE) / n_ctrl)) AS mde_abs,
           CASE WHEN mean_ctrl > CAST(0.0 AS DOUBLE)
                THEN ('{_Z_ALPHA_975!r}'::DOUBLE + '{_Z_POWER_80!r}'::DOUBLE)
                     * sqrt(pooled_var * (CAST(1.0 AS DOUBLE) / n_treat
                                          + CAST(1.0 AS DOUBLE) / n_ctrl))
                     / mean_ctrl
                ELSE NULL END AS mde_rel
    FROM p
    """,
)
def ab_test_mde_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the current sample size (80% power,
    two-sided alpha 0.05) for each metric under the md5 user split.

    Scale shape: one (metric, arm) keyed aggregate, then a 2-arm pivot join
    on tiny rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    d6 = F.col("value").cast("decimal(9,6)")
    m = (
        ev.withColumn("arm", hash_bucket("user_id", 2, "ab"))
        .groupBy("event_type", "arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d6).cast("string").cast("double").alias("s1"),
            F.sum(d6 * d6).cast("string").cast("double").alias("s2"),
        )
    )
    t = m.filter(F.col("arm") == 1).select(
        "event_type",
        F.col("n").alias("n_treat"),
        F.col("s1").alias("t1"),
        F.col("s2").alias("t2"),
    )
    c = m.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n_ctrl"),
        F.col("s1").alias("c1"),
        F.col("s2").alias("c2"),
    )
    p = (
        t.join(c, "event_type")
        .filter((F.col("n_treat") >= 2) & (F.col("n_ctrl") >= 2))
        .select(
            "event_type",
            "n_treat",
            "n_ctrl",
            (F.col("c1") / F.col("n_ctrl")).alias("mean_ctrl"),
            (
                (
                    (F.col("t2") - F.col("t1") * F.col("t1") / F.col("n_treat"))
                    + (F.col("c2") - F.col("c1") * F.col("c1") / F.col("n_ctrl"))
                )
                / (F.col("n_treat") + F.col("n_ctrl") - 2)
            ).alias("pooled_var"),
        )
    )
    z = F.lit(_Z_ALPHA_975) + F.lit(_Z_POWER_80)
    mde = z * F.sqrt(
        F.col("pooled_var")
        * (
            F.lit(1.0) / F.col("n_treat")
            + F.lit(1.0) / F.col("n_ctrl")
        )
    )
    return p.select(
        "event_type",
        "n_treat",
        "n_ctrl",
        "pooled_var",
        mde.alias("mde_abs"),
        F.when(F.col("mean_ctrl") > 0.0, mde / F.col("mean_ctrl")).alias(
            "mde_rel"
        ),
    )


@_q(
    "ratio_metric_ci_delta",
    f"""
    WITH u AS (
      SELECT ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             CAST(count(*) AS BIGINT) AS x,
             SUM(CAST(value AS DECIMAL(9,6))) AS y
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY arm, user_id),
    s AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy,
             CAST(CAST(SUM(y * x) AS VARCHAR) AS DOUBLE) AS sxy
      FROM u GROUP BY arm),
    d AS (
      SELECT arm, n, sx, sy,
             sy / sx AS ratio,
             (syy - sy * sy / n) / (n - 1) AS var_y,
             (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1)
               AS var_x,
             (sxy - sy * CAST(sx AS DOUBLE) / n) / (n - 1) AS cov_xy,
             CAST(sx AS DOUBLE) / n AS xbar
      FROM s WHERE n >= 2 AND sx > 0)
    SELECT arm, n AS n_users, sx AS total_events, sy AS total_value, ratio,
           sqrt((var_y + ratio * ratio * var_x
                 - CAST(2.0 AS DOUBLE) * ratio * cov_xy)
                / (n * xbar * xbar)) AS se,
           ratio - '{_Z_ALPHA_975!r}'::DOUBLE
             * sqrt((var_y + ratio * ratio * var_x
                     - CAST(2.0 AS DOUBLE) * ratio * cov_xy)
                    / (n * xbar * xbar)) AS ci_lo,
           ratio + '{_Z_ALPHA_975!r}'::DOUBLE
             * sqrt((var_y + ratio * ratio * var_x
                     - CAST(2.0 AS DOUBLE) * ratio * cov_xy)
                    / (n * xbar * xbar)) AS ci_hi
    FROM d
    """,
)
def ratio_metric_ci_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-metric confidence interval by the delta method: value per event
    (sum y / sum x over users) with the user-clustered variance (var_y + R^2
    var_x - 2R cov_xy) / (n xbar^2).

    Scale shape: one user-keyed aggregate, one 2-row arm aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    d6 = F.col("value").cast("decimal(9,6)")
    u = (
        ev.withColumn("arm", hash_bucket("user_id", 2, "ab"))
        .groupBy("arm", "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(d6).alias("y"),
        )
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("y").cast("string").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("string").cast("double").alias("syy"),
        F.sum(F.col("y") * F.col("x")).cast("string").cast("double").alias("sxy"),
    )
    n, sx = F.col("n"), F.col("sx")
    ratio = F.col("sy") / sx
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    var_x = (F.col("sxx").cast("double") - sx.cast("double") * sx / n) / (n - 1)
    cov_xy = (F.col("sxy") - F.col("sy") * sx.cast("double") / n) / (n - 1)
    xbar = sx.cast("double") / n
    d = s.filter((n >= 2) & (sx > 0)).select(
        "arm",
        n.alias("n_users"),
        sx.alias("total_events"),
        F.col("sy").alias("total_value"),
        ratio.alias("ratio"),
        var_y.alias("var_y"),
        var_x.alias("var_x"),
        cov_xy.alias("cov_xy"),
        xbar.alias("xbar"),
    )
    se = F.sqrt(
        (
            F.col("var_y")
            + F.col("ratio") * F.col("ratio") * F.col("var_x")
            - F.lit(2.0) * F.col("ratio") * F.col("cov_xy")
        )
        / (F.col("n_users") * F.col("xbar") * F.col("xbar"))
    )
    z = F.lit(_Z_ALPHA_975)
    return d.select(
        "arm",
        "n_users",
        "total_events",
        "total_value",
        "ratio",
        se.alias("se"),
        (F.col("ratio") - z * se).alias("ci_lo"),
        (F.col("ratio") + z * se).alias("ci_hi"),
    )


@_q(
    "ab_test_cuped_adjusted",
    """
    WITH u AS (
      SELECT ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             CAST(CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
                        THEN CAST(value AS DECIMAL(9,6))
                        ELSE CAST(0 AS DECIMAL(9,6)) END) AS VARCHAR)
                  AS DOUBLE) AS x,
             CAST(CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-20 00:00:00'
                        THEN CAST(value AS DECIMAL(9,6))
                        ELSE CAST(0 AS DECIMAL(9,6)) END) AS VARCHAR)
                  AS DOUBLE) AS y
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY arm, user_id),
    pool AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sy,
             CAST(SUM(CAST(floor(x * x * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sxx,
             CAST(SUM(CAST(floor(x * y * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sxy
      FROM u),
    th AS (
      SELECT n, sx / n AS xbar_pool,
             CASE WHEN sxx - sx * sx / n > CAST(0.0 AS DOUBLE)
                  THEN (sxy - sx * sy / n) / (sxx - sx * sx / n)
                  ELSE CAST(0.0 AS DOUBLE) END AS theta
      FROM pool),
    arms AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(CAST(floor(x * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sx,
             CAST(SUM(CAST(floor(y * 1000000.0) AS BIGINT)) AS DOUBLE)
               / 1000000.0 AS sy
      FROM u GROUP BY arm)
    SELECT a.arm, a.n_users,
           a.sy / a.n_users AS mean_post,
           th.theta,
           a.sy / a.n_users
             - th.theta * (a.sx / a.n_users - th.xbar_pool)
             AS mean_cuped
    FROM arms a CROSS JOIN th
    """,
)
def ab_test_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment means: each arm's post-period metric
    corrected by the pre-period covariate, y_adj = y - theta(x - x_pool)
    with pooled theta = cov(x,y)/var(x); the Jan-20 cut splits the periods
    and the md5 split the arms.

    Scale shape: one user-keyed aggregate, then scalar pooled moments and a
    2-row arm aggregate."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    cut = F.to_timestamp(F.lit("2024-01-20 00:00:00"))
    d6 = F.col("value").cast("decimal(9,6)")
    z6 = F.lit(0).cast("decimal(9,6)")
    u = (
        ev.withColumn("arm", hash_bucket("user_id", 2, "ab"))
        .groupBy("arm", "user_id")
        .agg(
            F.sum(F.when(F.col("ts") < cut, d6).otherwise(z6))
            .cast("string")
            .cast("double")
            .alias("x"),
            F.sum(F.when(F.col("ts") >= cut, d6).otherwise(z6))
            .cast("string")
            .cast("double")
            .alias("y"),
        )
    )

    def fsum(expr):
        return (
            F.sum(F.floor(expr * 1000000.0).cast("long")).cast("double")
            / 1000000.0
        )

    pool = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        fsum(F.col("x")).alias("sx"),
        fsum(F.col("y")).alias("sy"),
        fsum(F.col("x") * F.col("x")).alias("sxx"),
        fsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    varx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    th = pool.select(
        "n",
        (F.col("sx") / F.col("n")).alias("xbar_pool"),
        F.when(
            varx > 0.0,
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / varx,
        )
        .otherwise(F.lit(0.0))
        .alias("theta"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        fsum(F.col("x")).alias("sx"),
        fsum(F.col("y")).alias("sy"),
    )
    return arms.crossJoin(F.broadcast(th)).select(
        "arm",
        "n_users",
        (F.col("sy") / F.col("n_users")).alias("mean_post"),
        "theta",
        (
            F.col("sy") / F.col("n_users")
            - F.col("theta")
            * (F.col("sx") / F.col("n_users") - F.col("xbar_pool"))
        ).alias("mean_cuped"),
    )


_QTE_LADDER = "\n               ".join(
    f"WHEN {i} THEN {_pctile_mirror_sql(i / 10.0)}"
    for i in range(1, 10)
)


@_q(
    "ab_test_quantile_effects",
    f"""
    WITH a AS (
      SELECT ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             value
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)),
    q AS (
      SELECT arm, list(value ORDER BY value) AS arr,
             CAST(count(*) AS BIGINT) AS n
      FROM a GROUP BY arm),
    e AS (
      SELECT arm, u.i AS decile,
             CASE u.i
               {_QTE_LADDER}
             END AS q
      FROM q CROSS JOIN (SELECT unnest(range(1, 10)) AS i) u)
    SELECT CAST(t.decile AS INTEGER) AS decile,
           t.q AS q_treat, c.q AS q_ctrl,
           t.q - c.q AS qte
    FROM (SELECT * FROM e WHERE arm = 1) t
    JOIN (SELECT * FROM e WHERE arm = 0) c ON c.decile = t.decile
    """,
)
def ab_test_quantile_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the treated-minus-control difference at
    each decile of the metric distribution.

    Scale shape: two percentile aggregates (partial-merged) + a 9-row join."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    fracs = ", ".join(repr(x / 10.0) for x in range(1, 10))
    q = (
        ev.withColumn("arm", hash_bucket("user_id", 2, "ab"))
        .groupBy("arm")
        .agg(F.expr(f"percentile(value, array({fracs}))").alias("qs"))
    )
    e = q.select(
        "arm", F.posexplode(F.col("qs")).alias("pos0", "q")
    ).select("arm", (F.col("pos0") + 1).alias("decile"), "q")
    t = e.filter(F.col("arm") == 1).select("decile", F.col("q").alias("q_treat"))
    c = e.filter(F.col("arm") == 0).select("decile", F.col("q").alias("q_ctrl"))
    return t.join(c, "decile").select(
        F.col("decile").cast("int").alias("decile"),
        "q_treat",
        "q_ctrl",
        (F.col("q_treat") - F.col("q_ctrl")).alias("qte"),
    )


@_q(
    "iqr_outlier_fences_by_type",
    f"""
    WITH a AS (SELECT event_type, value FROM events
               WHERE value IS NOT NULL),
    s AS (SELECT event_type, list(value ORDER BY value) AS arr,
                 CAST(count(*) AS BIGINT) AS n
          FROM a GROUP BY event_type),
    f AS (SELECT event_type, n,
                 {{p25}} AS p25,
                 {{p75}} AS p75
          FROM s),
    fence AS (SELECT event_type, n, p25, p75,
                     p25 - CAST(1.5 AS DOUBLE) * (p75 - p25) AS lo_fence,
                     p75 + CAST(1.5 AS DOUBLE) * (p75 - p25) AS hi_fence
              FROM f)
    SELECT fe.event_type, fe.n AS n_events, fe.p25, fe.p75,
           fe.lo_fence, fe.hi_fence,
           CAST(count(*) FILTER (WHERE a.value < fe.lo_fence
                                    OR a.value > fe.hi_fence) AS BIGINT)
             AS n_outliers,
           CAST(count(*) FILTER (WHERE a.value < fe.lo_fence
                                    OR a.value > fe.hi_fence) AS DOUBLE)
             / fe.n AS outlier_rate
    FROM a JOIN fence fe ON fe.event_type = a.event_type
    GROUP BY fe.event_type, fe.n, fe.p25, fe.p75, fe.lo_fence, fe.hi_fence
    """.format(
        p25=_pctile_mirror_sql(0.25),
        p75=_pctile_mirror_sql(0.75),
    ),
)
def iqr_outlier_fences_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers per metric: p25/p75, the 1.5xIQR fences, and how
    many events fall outside them.

    Scale shape: one percentile aggregate per type + one broadcast-join
    count pass; no windows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("percentile(value, 0.25)").alias("p25"),
        F.expr("percentile(value, 0.75)").alias("p75"),
    )
    iqr = F.col("p75") - F.col("p25")
    fence = q.select(
        "event_type",
        "n",
        "p25",
        "p75",
        (F.col("p25") - 1.5 * iqr).alias("lo_fence"),
        (F.col("p75") + 1.5 * iqr).alias("hi_fence"),
    )
    j = ev.join(F.broadcast(fence), "event_type")
    out = F.count_if(
        (F.col("value") < F.col("lo_fence"))
        | (F.col("value") > F.col("hi_fence"))
    )
    return j.groupBy(
        "event_type", "n", "p25", "p75", "lo_fence", "hi_fence"
    ).agg(
        out.cast("long").alias("n_outliers"),
        (out.cast("double") / F.col("n")).alias("outlier_rate"),
    ).select(
        "event_type",
        F.col("n").alias("n_events"),
        "p25",
        "p75",
        "lo_fence",
        "hi_fence",
        "n_outliers",
        "outlier_rate",
    )


@_q(
    "discount_qty_ols_by_brand",
    """
    WITH j AS (
      SELECT p.p_brand,
             CAST(l.l_quantity AS DECIMAL(9,4)) AS y,
             CAST(l.l_discount AS DECIMAL(9,4)) AS x
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    s AS (
      SELECT p_brand,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(x) AS VARCHAR) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS VARCHAR) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * x) AS VARCHAR) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(x * y) AS VARCHAR) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(y * y) AS VARCHAR) AS DOUBLE) AS syy
      FROM j GROUP BY p_brand HAVING count(*) >= 3),
    f AS (
      SELECT p_brand, n, sx, sy, sxx, sxy, syy,
             sxx - sx * sx / n AS ssx,
             syy - sy * sy / n AS ssy,
             sxy - sx * sy / n AS spxy
      FROM s)
    SELECT p_brand, n AS n_lineitems,
           CASE WHEN ssx > CAST(0.0 AS DOUBLE)
                THEN spxy / ssx ELSE NULL END AS slope,
           CASE WHEN ssx > CAST(0.0 AS DOUBLE)
                THEN sy / n - (spxy / ssx) * (sx / n) ELSE NULL END
             AS intercept,
           CASE WHEN ssx > CAST(0.0 AS DOUBLE)
                     AND ssy > CAST(0.0 AS DOUBLE)
                THEN (spxy / ssx) * spxy / ssy ELSE NULL END AS r_squared
    FROM f
    """,
)
def discount_qty_ols_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact OLS per brand of quantity on discount: slope, intercept and R^2
    from exact decimal moment sums, guarded against zero-variance groups.

    Scale shape: one partkey-keyed join, one brand-keyed moment aggregate;
    everything after is |brands| rows."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    x = F.col("l_discount").cast("decimal(9,4)")
    y = F.col("l_quantity").cast("decimal(9,4)")
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand", y.alias("y"), x.alias("x")
    )
    s = (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("string").cast("double").alias("sx"),
            F.sum("y").cast("string").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("string").cast("double").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("string").cast("double").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("string").cast("double").alias("syy"),
        )
        .filter(F.col("n") >= 3)
    )
    n = F.col("n")
    ssx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    ssy = F.col("syy") - F.col("sy") * F.col("sy") / n
    spxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    f = s.select(
        "p_brand", n.alias("n_lineitems"), F.col("sx").alias("sx"),
        F.col("sy").alias("sy"), ssx.alias("ssx"), ssy.alias("ssy"),
        spxy.alias("spxy"), n.alias("n"),
    )
    slope = F.col("spxy") / F.col("ssx")
    return f.select(
        "p_brand",
        "n_lineitems",
        F.when(F.col("ssx") > 0.0, slope).alias("slope"),
        F.when(
            F.col("ssx") > 0.0,
            F.col("sy") / F.col("n") - slope * (F.col("sx") / F.col("n")),
        ).alias("intercept"),
        F.when(
            (F.col("ssx") > 0.0) & (F.col("ssy") > 0.0),
            slope * F.col("spxy") / F.col("ssy"),
        ).alias("r_squared"),
    )


@_q(
    "cluster_design_effect",
    """
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS m,
             SUM(CAST(value AS DECIMAL(9,6))) AS sd1
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY user_id),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(SUM(m) AS BIGINT) AS n,
             CAST(SUM(m * m) AS BIGINT) AS smm,
             CAST(SUM(CAST(floor(
               (CAST(CAST(sd1 AS VARCHAR) AS DOUBLE)
                * CAST(CAST(sd1 AS VARCHAR) AS DOUBLE)) / m
               * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS bsum
      FROM u),
    tot AS (
      SELECT CAST(CAST(SUM(CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE)
               AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6))
                           * CAST(value AS DECIMAL(9,6))) AS VARCHAR)
                  AS DOUBLE) AS s2
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)),
    comp AS (
      SELECT g.k, g.n, g.smm,
             (g.bsum - tot.s1 * tot.s1 / g.n) / (g.k - 1) AS ms_between,
             (tot.s2 - g.bsum) / (g.n - g.k) AS ms_within,
             (CAST(g.n AS DOUBLE) - CAST(g.smm AS DOUBLE) / g.n) / (g.k - 1)
               AS m0
      FROM g CROSS JOIN tot
      WHERE g.k >= 2 AND g.n > g.k)
    SELECT k AS n_clusters, n AS n_events, ms_between, ms_within, m0,
           (ms_between - ms_within)
             / (ms_between + (m0 - CAST(1.0 AS DOUBLE)) * ms_within) AS icc,
           CAST(1.0 AS DOUBLE) + (m0 - CAST(1.0 AS DOUBLE))
             * ((ms_between - ms_within)
                / (ms_between + (m0 - CAST(1.0 AS DOUBLE)) * ms_within))
             AS design_effect
    FROM comp
    """,
)
def cluster_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster design effect for user-clustered metrics: the one-way ANOVA
    intraclass correlation (unequal cluster sizes via the m0 correction) and
    DEFF = 1 + (m0-1)*ICC.

    Scale shape: one user-keyed aggregate, one corpus power-sum aggregate,
    scalar math after."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    d6 = F.col("value").cast("decimal(9,6)")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(d6).alias("sd1"),
    )
    s1g = F.col("sd1").cast("string").cast("double")
    g = u.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("m").cast("long").alias("n"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm"),
        (
            F.sum(
                F.floor((s1g * s1g) / F.col("m") * 1000000.0).cast("long")
            ).cast("double")
            / 1000000.0
        ).alias("bsum"),
    )
    tot = ev.agg(
        F.sum(d6).cast("string").cast("double").alias("s1"),
        F.sum(d6 * d6).cast("string").cast("double").alias("s2"),
    )
    c = g.crossJoin(F.broadcast(tot)).filter(
        (F.col("k") >= 2) & (F.col("n") > F.col("k"))
    )
    msb = (F.col("bsum") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("k") - 1
    )
    msw = (F.col("s2") - F.col("bsum")) / (F.col("n") - F.col("k"))
    m0 = (
        F.col("n").cast("double")
        - F.col("smm").cast("double") / F.col("n")
    ) / (F.col("k") - 1)
    comp = c.select(
        F.col("k").alias("n_clusters"),
        F.col("n").alias("n_events"),
        msb.alias("ms_between"),
        msw.alias("ms_within"),
        m0.alias("m0"),
    )
    icc = (F.col("ms_between") - F.col("ms_within")) / (
        F.col("ms_between") + (F.col("m0") - 1.0) * F.col("ms_within")
    )
    return comp.select(
        "n_clusters",
        "n_events",
        "ms_between",
        "ms_within",
        "m0",
        icc.alias("icc"),
        (F.lit(1.0) + (F.col("m0") - 1.0) * icc).alias("design_effect"),
    )


@_q(
    "mcnemar_pre_post_conversion",
    """
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase'
                       AND ts < TIMESTAMP '2024-01-20 00:00:00'
                 THEN 1 ELSE 0 END) AS pre,
             MAX(CASE WHEN event_type = 'purchase'
                       AND ts >= TIMESTAMP '2024-01-20 00:00:00'
                 THEN 1 ELSE 0 END) AS post
      FROM events GROUP BY user_id),
    c AS (
      SELECT CAST(count(*) FILTER (WHERE pre = 1 AND post = 1) AS BIGINT) AS n11,
             CAST(count(*) FILTER (WHERE pre = 1 AND post = 0) AS BIGINT) AS n10,
             CAST(count(*) FILTER (WHERE pre = 0 AND post = 1) AS BIGINT) AS n01,
             CAST(count(*) FILTER (WHERE pre = 0 AND post = 0) AS BIGINT) AS n00
      FROM u)
    SELECT n11, n10, n01, n00,
           CASE WHEN n10 + n01 > 0
                THEN CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01)
                ELSE NULL END AS mcnemar_chi2
    FROM c
    """,
)
def mcnemar_pre_post_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired pre/post conversion around the Jan-20 cut:
    chi2 = (n10-n01)^2/(n10+n01) over the discordant users.

    Scale shape: one user-keyed conditional-max aggregate, then a single-row
    2x2 readout."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-20 00:00:00"))
    is_p = F.col("event_type") == "purchase"
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(is_p & (F.col("ts") < cut), 1).otherwise(0)
        ).alias("pre"),
        F.max(
            F.when(is_p & (F.col("ts") >= cut), 1).otherwise(0)
        ).alias("post"),
    )

    def cell(a, b):
        return F.count_if((F.col("pre") == a) & (F.col("post") == b)).cast(
            "long"
        )

    c = u.agg(
        cell(1, 1).alias("n11"),
        cell(1, 0).alias("n10"),
        cell(0, 1).alias("n01"),
        cell(0, 0).alias("n00"),
    )
    disc = F.col("n10") + F.col("n01")
    return c.select(
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            disc > 0,
            ((F.col("n10") - F.col("n01")) * (F.col("n10") - F.col("n01"))).cast(
                "double"
            )
            / disc,
        ).alias("mcnemar_chi2"),
    )


@_q(
    "cmh_stratified_conversion",
    """
    WITH u AS (
      SELECT user_id,
             ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             CAST(count(*) AS BIGINT) AS activity,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id),
    s AS (
      SELECT CASE WHEN activity <= 2 THEN '01_low'
                  WHEN activity <= 5 THEN '02_mid'
                  WHEN activity <= 10 THEN '03_high'
                  ELSE '04_power' END AS stratum,
             arm, converted
      FROM u),
    cells AS (
      SELECT stratum,
             CAST(count(*) FILTER (WHERE arm = 1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (WHERE arm = 0) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS x1,
             CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS x0
      FROM s GROUP BY stratum),
    terms AS (
      SELECT stratum, n1, n0, x1, x0,
             CAST(floor((CAST(x1 AS DOUBLE)
                  - CAST(n1 AS DOUBLE) * (x1 + x0) / (n1 + n0))
                  * 1000000.0) AS BIGINT) AS t_micro,
             CAST(floor((CAST(n1 AS DOUBLE) * n0 * (x1 + x0)
                         * ((n1 + n0) - (x1 + x0)))
                        / (CAST((n1 + n0) AS DOUBLE) * (n1 + n0)
                           * ((n1 + n0) - 1))
                  * 1000000.0) AS BIGINT) AS v_micro
      FROM cells
      WHERE n1 + n0 >= 2)
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
           CAST(SUM(t_micro) AS DOUBLE) / 1000000.0 AS t_stat,
           CAST(SUM(v_micro) AS DOUBLE) / 1000000.0 AS v_stat,
           CASE WHEN SUM(v_micro) > 0
                THEN (CAST(SUM(t_micro) AS DOUBLE) / 1000000.0)
                     * (CAST(SUM(t_micro) AS DOUBLE) / 1000000.0)
                     / (CAST(SUM(v_micro) AS DOUBLE) / 1000000.0)
                ELSE NULL END AS cmh_chi2
    FROM terms
    """,
)
def cmh_stratified_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Mantel-Haenszel test of arm vs conversion stratified by user
    activity tier: per-stratum T = x1 - E[x1|margins] summed against the
    hypergeometric variance.

    Scale shape: one user-keyed aggregate, a 4-stratum cell aggregate,
    scalar math."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    ).withColumn("arm", hash_bucket("user_id", 2, "ab"))
    stratum = (
        F.when(F.col("activity") <= 2, "01_low")
        .when(F.col("activity") <= 5, "02_mid")
        .when(F.col("activity") <= 10, "03_high")
        .otherwise("04_power")
    )
    cells = u.select(stratum.alias("stratum"), "arm", "converted").groupBy(
        "stratum"
    ).agg(
        F.count_if(F.col("arm") == 1).cast("long").alias("n1"),
        F.count_if(F.col("arm") == 0).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x0"),
    )
    n1, n0, x1, x0 = (F.col(c) for c in ("n1", "n0", "x1", "x0"))
    ns = n1 + n0
    ms = x1 + x0
    t = x1.cast("double") - n1.cast("double") * ms / ns
    v = (n1.cast("double") * n0 * ms * (ns - ms)) / (
        ns.cast("double") * ns * (ns - 1)
    )
    terms = cells.filter(ns >= 2).select(
        F.floor(t * 1000000.0).cast("long").alias("t_micro"),
        F.floor(v * 1000000.0).cast("long").alias("v_micro"),
    )
    ts = F.sum("t_micro").cast("double") / 1000000.0
    vs = F.sum("v_micro").cast("double") / 1000000.0
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        ts.alias("t_stat"),
        vs.alias("v_stat"),
        F.when(F.sum("v_micro") > 0, ts * ts / vs).alias("cmh_chi2"),
    )


@_q(
    "sample_size_rate_table",
    f"""
    WITH u AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted,
             CAST(SUM(converted) AS DOUBLE) / count(*) AS p
      FROM u),
    grid AS (SELECT unnest([CAST(0.01 AS DOUBLE), CAST(0.02 AS DOUBLE),
                            CAST(0.05 AS DOUBLE)]) AS delta)
    SELECT g.delta AS abs_effect,
           b.n_users AS current_n, b.p AS base_rate,
           ceil((('{_Z_ALPHA_975!r}'::DOUBLE + '{_Z_POWER_80!r}'::DOUBLE)
                 * ('{_Z_ALPHA_975!r}'::DOUBLE + '{_Z_POWER_80!r}'::DOUBLE))
                * (CAST(2.0 AS DOUBLE) * b.p * (CAST(1.0 AS DOUBLE) - b.p))
                / (g.delta * g.delta)) AS n_per_arm_needed,
           CASE WHEN b.n_users > 0 THEN
             ceil((('{_Z_ALPHA_975!r}'::DOUBLE + '{_Z_POWER_80!r}'::DOUBLE)
                   * ('{_Z_ALPHA_975!r}'::DOUBLE + '{_Z_POWER_80!r}'::DOUBLE))
                  * (CAST(2.0 AS DOUBLE) * b.p * (CAST(1.0 AS DOUBLE) - b.p))
                  / (g.delta * g.delta))
             / (CAST(b.n_users AS DOUBLE) / 2) ELSE NULL END
             AS multiple_of_current
    FROM base b CROSS JOIN grid g
    """,
)
def sample_size_rate_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-size planning for the conversion rate: users per arm to detect
    an absolute lift of 1/2/5 points at 80% power, n = (z_a+z_b)^2 * 2p(1-p)
    / delta^2 with p the measured base rate, against current traffic.

    Scale shape: one user-keyed aggregate, scalar math against a 3-row grid."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    base = u.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias("p"),
    )
    grid = spark.createDataFrame(
        [(0.01,), (0.02,), (0.05,)], "delta double"
    )
    z2 = (F.lit(_Z_ALPHA_975) + F.lit(_Z_POWER_80)) * (
        F.lit(_Z_ALPHA_975) + F.lit(_Z_POWER_80)
    )
    need = F.ceil(
        z2
        * (F.lit(2.0) * F.col("p") * (F.lit(1.0) - F.col("p")))
        / (F.col("delta") * F.col("delta"))
    )
    return base.crossJoin(F.broadcast(grid)).select(
        F.col("delta").alias("abs_effect"),
        F.col("n_users").alias("current_n"),
        F.col("p").alias("base_rate"),
        need.alias("n_per_arm_needed"),
        F.when(
            F.col("n_users") > 0,
            need / (F.col("n_users").cast("double") / 2),
        ).alias("multiple_of_current"),
    )


_GAINS_THRESHOLDS = [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1]
_GAINS_T_SQL = ", ".join(
    _pctile_mirror_sql(f) for f in _GAINS_THRESHOLDS
)


@_q(
    "classifier_gains_table",
    rf"""
    WITH f AS (
      SELECT doc_id, length(text) AS n_chars,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents),
    s AS (SELECT doc_id,
                 (-2.0 + 0.004 * CAST(n_tokens AS DOUBLE))
                   + 0.35 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE))
                   AS logit,
                 CASE WHEN n_tokens BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
                   AS label
          FROM f WHERE n_tokens > 0),
    q AS (SELECT [{_GAINS_T_SQL}] AS t
          FROM (SELECT list(logit ORDER BY logit) AS arr,
                       CAST(count(*) AS BIGINT) AS n FROM s)),
    b AS (SELECT s.label,
                 1 + {' + '.join(f'(CASE WHEN s.logit < q.t[{i + 1}] THEN 1 ELSE 0 END)' for i in range(9))}
                   AS decile
          FROM s CROSS JOIN q),
    tot AS (SELECT CAST(SUM(label) AS BIGINT) AS total_pos,
                   CAST(count(*) AS BIGINT) AS total_n
            FROM b),
    d AS (SELECT decile,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(SUM(label) AS BIGINT) AS n_pos
          FROM b GROUP BY decile),
    cum AS (SELECT a.decile, CAST(SUM(c.n_pos) AS BIGINT) AS cum_pos
            FROM d a JOIN d c ON c.decile <= a.decile
            GROUP BY a.decile)
    SELECT d.decile, d.n_docs, d.n_pos,
           CAST(d.n_pos AS DOUBLE) / d.n_docs AS pos_rate,
           (CAST(d.n_pos AS DOUBLE) / d.n_docs)
             / (CAST(tot.total_pos AS DOUBLE) / tot.total_n) AS lift,
           CAST(cum.cum_pos AS DOUBLE) / tot.total_pos AS cum_capture
    FROM d JOIN cum ON cum.decile = d.decile CROSS JOIN tot
    WHERE tot.total_pos > 0
    """,
)
def classifier_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table for the quality classifier: score deciles (decile 1
    = highest logit) with positive rate, lift over the base rate and
    cumulative capture.

    Scale shape: one scan + scalar thresholds + ladder assignment, a 10-row
    decile aggregate, a 10x10 cumulative join."""
    docs = load_table(spark, sf_dir, "documents")
    nt = F.size(tokens("text")).cast("long")
    s = docs.select(
        (
            (F.lit(-2.0) + 0.004 * nt.cast("double"))
            + 0.35 * (F.length("text").cast("double") / nt.cast("double"))
        ).alias("logit"),
        F.when(nt.between(50, 100000), 1).otherwise(0).alias("label"),
        nt.alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0).drop("n_tokens")
    fr = ", ".join(repr(f) for f in _GAINS_THRESHOLDS)
    q = s.agg(F.expr(f"percentile(logit, array({fr}))").alias("t"))
    decile = F.lit(1)
    for i in range(9):
        decile = decile + F.when(
            F.col("logit") < F.col("t").getItem(i), 1
        ).otherwise(0)
    b = s.crossJoin(F.broadcast(q)).select(
        "label", decile.alias("decile")
    )
    tot = b.agg(
        F.sum("label").cast("long").alias("total_pos"),
        F.count(F.lit(1)).cast("long").alias("total_n"),
    )
    d = b.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    c = d.select(F.col("decile").alias("c_decile"), F.col("n_pos").alias("c_pos"))
    cum = (
        d.select("decile")
        .join(F.broadcast(c), F.col("c_decile") <= F.col("decile"))
        .groupBy("decile")
        .agg(F.sum("c_pos").cast("long").alias("cum_pos"))
    )
    out = (
        d.join(cum, "decile")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("total_pos") > 0)
    )
    rate = F.col("n_pos").cast("double") / F.col("n_docs")
    base = F.col("total_pos").cast("double") / F.col("total_n")
    return out.select(
        "decile",
        "n_docs",
        "n_pos",
        rate.alias("pos_rate"),
        (rate / base).alias("lift"),
        (F.col("cum_pos").cast("double") / F.col("total_pos")).alias(
            "cum_capture"
        ),
    )


@_q(
    "weighted_ess_by_type",
    f"""
    WITH g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             {_dsum('value')} AS sum_w,
             CAST(SUM(CAST(floor(value * value * 1000000.0) AS BIGINT))
                  AS BIGINT) AS sww_micro
      FROM events GROUP BY event_type),
    e AS (
      SELECT event_type, n, sum_w,
             CASE WHEN sww_micro > 0
                  THEN (sum_w * sum_w)
                       / (CAST(sww_micro AS DOUBLE) / 1000000.0)
                  ELSE CAST(0.0 AS DOUBLE) END AS ess
      FROM g)
    SELECT event_type, n, sum_w, ess, ess / n AS ess_efficiency
    FROM e
    """,
)
def weighted_ess_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of `value`-weighted estimates per event
    type: ESS = (sum w)^2 / sum w^2, and ess/n.

    Scale shape: ONE keyed aggregate with map-side partials — scan-shaped,
    |event types| output rows."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        A.decimal_sum("value").alias("sum_w"),
        F.sum(
            F.floor(F.col("value") * F.col("value") * F.lit(1000000.0)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("sww_micro"),
    )
    ess = (
        F.when(
            F.col("sww_micro") > 0,
            (F.col("sum_w") * F.col("sum_w"))
            / (F.col("sww_micro").cast("double") / F.lit(1000000.0)),
        )
        .otherwise(F.lit(0.0))
    )
    e = g.select("event_type", "n", "sum_w", ess.alias("ess"))
    return e.select(
        "event_type",
        "n",
        "sum_w",
        "ess",
        (F.col("ess") / F.col("n")).alias("ess_efficiency"),
    )


@_q(
    "spc_individuals_chart",
    f"""
    WITH s AS (
      SELECT event_type, value,
             abs(value - lag(value) OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id)) AS mr
      FROM events),
    g AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             {_dsum('value')} / count(*) AS center,
             CAST(SUM(CAST(floor(mr * 1000000.0) AS BIGINT)) AS BIGINT)
               AS mr_micro,
             CAST(count(mr) AS BIGINT) AS n_mr
      FROM s GROUP BY event_type),
    lim AS (
      SELECT event_type, n, center,
             CASE WHEN n_mr > 0
                  THEN CAST(mr_micro AS DOUBLE) / 1000000.0 / n_mr
                  ELSE CAST(0.0 AS DOUBLE) END AS mr_bar
      FROM g),
    lim2 AS (
      SELECT event_type, n, center, mr_bar,
             center + ({2.66!r})::DOUBLE * mr_bar AS ucl,
             center - ({2.66!r})::DOUBLE * mr_bar AS lcl
      FROM lim)
    SELECT lim2.event_type, lim2.n, lim2.center, lim2.mr_bar,
           lim2.ucl, lim2.lcl,
           CAST(SUM(CASE WHEN e.value > lim2.ucl OR e.value < lim2.lcl
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
    FROM events e JOIN lim2 ON lim2.event_type = e.event_type
    GROUP BY lim2.event_type, lim2.n, lim2.center, lim2.mr_bar,
             lim2.ucl, lim2.lcl
    """,
)
def spc_individuals_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPC individuals (I-MR) chart per event type: center = exact decimal
    mean of `value`, MR-bar from consecutive |x_i - x_{i-1}|, limits center
    +/- 2.66*MR-bar, and the count of points outside them.

    Scale shape: one type-partitioned window pass for the moving ranges, one
    keyed aggregate to |types| rows, then a broadcast join back over one
    more scan for the violation count — two scans total, no corpus-sized
    shuffle."""
    ev = load_table(spark, sf_dir, "events")
    wlag = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        "value",
        F.abs(F.col("value") - F.lag("value").over(wlag)).alias("mr"),
    )
    g = s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (A.decimal_sum("value") / F.count(F.lit(1))).alias("center"),
        F.sum(F.floor(F.col("mr") * F.lit(1000000.0)).cast("long"))
        .cast("long")
        .alias("mr_micro"),
        F.count("mr").cast("long").alias("n_mr"),
    )
    mr_bar = (
        F.when(
            F.col("n_mr") > 0,
            F.col("mr_micro").cast("double") / F.lit(1000000.0) / F.col("n_mr"),
        )
        .otherwise(F.lit(0.0))
    )
    lim = g.select(
        F.col("event_type").alias("_t"),
        "n",
        "center",
        mr_bar.alias("mr_bar"),
    ).select(
        "_t",
        "n",
        "center",
        "mr_bar",
        (F.col("center") + F.lit(2.66) * F.col("mr_bar")).alias("ucl"),
        (F.col("center") - F.lit(2.66) * F.col("mr_bar")).alias("lcl"),
    )
    return (
        ev.join(F.broadcast(lim), F.col("event_type") == F.col("_t"))
        .groupBy("event_type", "n", "center", "mr_bar", "ucl", "lcl")
        .agg(
            F.sum(
                F.when(
                    (F.col("value") > F.col("ucl"))
                    | (F.col("value") < F.col("lcl")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_violations")
        )
    )


#: oracle CTEs ``lat`` and ``g``: each supplier's shipments and those
#: shipped within 60 days of the order date
_SUPP_ONTIME_SQL = """WITH lat AS (
      SELECT l.l_suppkey,
             CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                 CAST(l.l_shipdate AS DATE)) <= 60
                  THEN 1 ELSE 0 END AS ontime
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    g AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n_ships,
             CAST(SUM(ontime) AS BIGINT) AS n_ontime
      FROM lat GROUP BY l_suppkey)"""


@_q(
    "supplier_ontime_wilson_rank",
    f"""
    {_SUPP_ONTIME_SQL},
    p AS (
      SELECT l_suppkey, n_ships, n_ontime,
             CAST(n_ontime AS DOUBLE) / n_ships AS phat,
             CAST(n_ships AS DOUBLE) AS nd
      FROM g WHERE n_ships > 0),
    w AS (
      SELECT l_suppkey, n_ships, n_ontime, phat,
             ((phat + '{_WILSON_Z2!r}'::DOUBLE / (2 * nd))
              - '{_WILSON_Z!r}'::DOUBLE
                * sqrt((phat * (1.0 - phat)) / nd
                       + '{_WILSON_Z2!r}'::DOUBLE / (4 * nd * nd)))
             / (1.0 + '{_WILSON_Z2!r}'::DOUBLE / nd) AS wilson_low
      FROM p)
    SELECT l_suppkey, n_ships, n_ontime, phat, wilson_low
    FROM w
    ORDER BY wilson_low DESC, l_suppkey
    LIMIT 20
    """,
)
def supplier_ontime_wilson_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier leaderboard by the Wilson lower bound of the on-time-ship
    rate (shipped within 60 days of order).

    Scale shape: one keyed join (lineitem-orders on orderkey), one
    supplier-keyed aggregate, then a global top-20 over the suppliers-sized
    table (TakeOrderedAndProject — no global sort materialization)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        "l_suppkey",
        F.when(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            <= 60,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("ontime"),
    )
    g = lat.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_ships"),
        F.sum("ontime").cast("long").alias("n_ontime"),
    )
    p = g.filter(F.col("n_ships") > 0).select(
        "l_suppkey",
        "n_ships",
        "n_ontime",
        (F.col("n_ontime").cast("double") / F.col("n_ships")).alias("phat"),
        F.col("n_ships").cast("double").alias("nd"),
    )
    z = F.lit(_WILSON_Z)
    z2 = F.lit(_WILSON_Z2)
    wilson_low = (
        (F.col("phat") + z2 / (2 * F.col("nd")))
        - z
        * F.sqrt(
            (F.col("phat") * (1.0 - F.col("phat"))) / F.col("nd")
            + z2 / (4 * F.col("nd") * F.col("nd"))
        )
    ) / (1.0 + z2 / F.col("nd"))
    return (
        p.select(
            "l_suppkey", "n_ships", "n_ontime", "phat",
            wilson_low.alias("wilson_low"),
        )
        .orderBy(F.desc("wilson_low"), F.asc("l_suppkey"))
        .limit(20)
    )


@_q(
    "price_index_fisher",
    f"""
    WITH pp AS (
      SELECT l.l_partkey,
             CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS yr,
             {_dsum('l.l_extendedprice')} AS sp,
             {_dsum('l.l_quantity')} AS sq
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) IN (1995, 2000)
      GROUP BY l.l_partkey, yr),
    px AS (
      SELECT l_partkey, yr, sp / sq AS price, sq AS qty
      FROM pp WHERE sq > 0),
    m AS (
      SELECT b.l_partkey,
             b.price AS p0, b.qty AS q0,
             c.price AS p1, c.qty AS q1
      FROM px b JOIN px c ON c.l_partkey = b.l_partkey
      WHERE b.yr = 1995 AND c.yr = 2000),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(SUM(CAST(floor(p1 * q0 * 1000000.0) AS BIGINT)) AS BIGINT)
               AS l_num,
             CAST(SUM(CAST(floor(p0 * q0 * 1000000.0) AS BIGINT)) AS BIGINT)
               AS l_den,
             CAST(SUM(CAST(floor(p1 * q1 * 1000000.0) AS BIGINT)) AS BIGINT)
               AS p_num,
             CAST(SUM(CAST(floor(p0 * q1 * 1000000.0) AS BIGINT)) AS BIGINT)
               AS p_den
      FROM m)
    SELECT n_parts,
           CAST(l_num AS DOUBLE) / l_den AS laspeyres,
           CAST(p_num AS DOUBLE) / p_den AS paasche,
           sqrt((CAST(l_num AS DOUBLE) / l_den)
                * (CAST(p_num AS DOUBLE) / p_den)) AS fisher
    FROM s WHERE l_den > 0 AND p_den > 0
    """,
)
def price_index_fisher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASPEYRES / PAASCHE / FISHER price indices between 1995 and 2000 over
    parts traded in BOTH years — index-number theory's answer to "how much
    did prices move, holding the basket fixed?"

    Scale shape: one keyed join + (part, year)-keyed aggregate, a
    parts-sized self-join to align the two years, and one scalar aggregate
    with map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    yr = F.year("o_orderdate").cast("long")
    pp = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(yr.isin(1995, 2000))
        .groupBy("l_partkey", yr.alias("yr"))
        .agg(
            A.decimal_sum("l_extendedprice").alias("sp"),
            A.decimal_sum("l_quantity").alias("sq"),
        )
    )
    px = pp.filter(F.col("sq") > 0).select(
        "l_partkey",
        "yr",
        (F.col("sp") / F.col("sq")).alias("price"),
        F.col("sq").alias("qty"),
    )
    b = px.filter(F.col("yr") == 1995).select(
        "l_partkey", F.col("price").alias("p0"), F.col("qty").alias("q0")
    )
    c = px.filter(F.col("yr") == 2000).select(
        F.col("l_partkey").alias("_pk"),
        F.col("price").alias("p1"),
        F.col("qty").alias("q1"),
    )
    m = b.join(c, F.col("l_partkey") == F.col("_pk"))

    def _micro(x):
        return F.sum(F.floor(x * F.lit(1000000.0)).cast("long")).cast("long")

    s = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        _micro(F.col("p1") * F.col("q0")).alias("l_num"),
        _micro(F.col("p0") * F.col("q0")).alias("l_den"),
        _micro(F.col("p1") * F.col("q1")).alias("p_num"),
        _micro(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num").cast("double") / F.col("l_den")
    paas = F.col("p_num").cast("double") / F.col("p_den")
    return s.filter((F.col("l_den") > 0) & (F.col("p_den") > 0)).select(
        "n_parts",
        lasp.alias("laspeyres"),
        paas.alias("paasche"),
        F.sqrt(lasp * paas).alias("fisher"),
    )


@_q(
    "ab_test_srm_check",
    """
    WITH a AS (
      SELECT DISTINCT user_id,
             ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events),
    g AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      FROM a)
    SELECT n0, n1,
           CAST(n0 - n1 AS DOUBLE) * (n0 - n1) / (n0 + n1) AS chisq,
           CAST(n0 - n1 AS DOUBLE) * (n0 - n1) / (n0 + n1) > 3.841 AS srm_flag
    FROM g WHERE n0 + n1 > 0
    """,
)
def ab_test_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check of the md5 50/50 user split: the 1-df
    chi-square (n0-n1)^2/(n0+n1), flagged above 3.841 (alpha=0.05).

    Scale shape: one distinct-user pass (map-side partial dedup), one scalar
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    arm = _md5_u32(F.lit("ab"), F.col("user_id").cast("string")) % 2
    a = ev.select("user_id").distinct().select(arm.alias("arm"))
    g = a.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    chisq = (
        (F.col("n0") - F.col("n1")).cast("double")
        * (F.col("n0") - F.col("n1"))
        / (F.col("n0") + F.col("n1"))
    )
    return g.filter((F.col("n0") + F.col("n1")) > 0).select(
        "n0",
        "n1",
        chisq.alias("chisq"),
        (chisq > F.lit(3.841)).alias("srm_flag"),
    )


@_q(
    "phi_coefficient_pairs",
    """
    WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n FROM b),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
          FROM b GROUP BY event_type),
    p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                 CAST(count(*) AS BIGINT) AS n11
          FROM b x JOIN b y ON x.user_id = y.user_id
                AND x.event_type < y.event_type
          GROUP BY x.event_type, y.event_type),
    cells AS (
      SELECT p.type_a, p.type_b, p.n11,
             na.n_users - p.n11 AS n10,
             nb.n_users - p.n11 AS n01,
             tot.n - na.n_users - nb.n_users + p.n11 AS n00,
             na.n_users AS n_a, nb.n_users AS n_b, tot.n AS n
      FROM p JOIN n na ON na.event_type = p.type_a
             JOIN n nb ON nb.event_type = p.type_b
             CROSS JOIN tot)
    SELECT type_a, type_b, n11, n10, n01, n00,
           CASE WHEN n_a > 0 AND n_a < n AND n_b > 0 AND n_b < n
                THEN CAST(n11 * n00 - n10 * n01 AS DOUBLE)
                     / sqrt(CAST(n_a AS DOUBLE) * (n - n_a)
                            * n_b * (n - n_b))
                ELSE CAST(0.0 AS DOUBLE) END AS phi
    FROM cells
    """,
)
def phi_coefficient_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phi coefficient between every pair of event-type audiences: the 2x2
    correlation of "did the user ever do A" x "did the user ever do B".

    Scale shape: one distinct pass, a user-keyed pair join bounded by
    |types|^2 output, a types-sized join, one broadcast scalar — the corpus
    shuffles once on user_id."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("user_id", "event_type").distinct()
    tot = b.agg(F.count_distinct("user_id").cast("long").alias("n"))
    n = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    y = b.select(
        F.col("user_id").alias("_u"), F.col("event_type").alias("type_b")
    )
    p = (
        b.join(
            y,
            (F.col("user_id") == F.col("_u"))
            & (F.col("event_type") < F.col("type_b")),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n11"))
    )
    na = n.select(F.col("event_type").alias("_a"), F.col("n_users").alias("n_a"))
    nb = n.select(F.col("event_type").alias("_b"), F.col("n_users").alias("n_b"))
    cells = (
        p.join(F.broadcast(na), F.col("type_a") == F.col("_a"))
        .join(F.broadcast(nb), F.col("type_b") == F.col("_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n11",
            (F.col("n_a") - F.col("n11")).alias("n10"),
            (F.col("n_b") - F.col("n11")).alias("n01"),
            (F.col("n") - F.col("n_a") - F.col("n_b") + F.col("n11")).alias(
                "n00"
            ),
            "n_a",
            "n_b",
            "n",
        )
    )
    ok = (
        (F.col("n_a") > 0)
        & (F.col("n_a") < F.col("n"))
        & (F.col("n_b") > 0)
        & (F.col("n_b") < F.col("n"))
    )
    return cells.select(
        "type_a",
        "type_b",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            ok,
            (
                F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01")
            ).cast("double")
            / F.sqrt(
                F.col("n_a").cast("double")
                * (F.col("n") - F.col("n_a"))
                * F.col("n_b")
                * (F.col("n") - F.col("n_b"))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("phi"),
    )


@_q(
    "cohens_d_by_type",
    f"""
    WITH a AS (
      SELECT event_type, value,
             ('0x' || substr(md5('ab' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events),
    g AS (
      SELECT event_type, arm,
             CAST(count(*) AS BIGINT) AS n,
             {_dsum('value')} AS s,
             CAST(SUM(CAST(floor(value * value * 1000000.0) AS BIGINT))
                  AS BIGINT) AS ss_micro
      FROM a GROUP BY event_type, arm),
    w AS (
      SELECT g0.event_type,
             g0.n AS n0, g1.n AS n1,
             g0.s / g0.n AS m0, g1.s / g1.n AS m1,
             (CAST(g0.ss_micro AS DOUBLE) / 1000000.0 - g0.s * g0.s / g0.n)
               AS ssd0,
             (CAST(g1.ss_micro AS DOUBLE) / 1000000.0 - g1.s * g1.s / g1.n)
               AS ssd1
      FROM g g0 JOIN g g1 ON g1.event_type = g0.event_type
      WHERE g0.arm = 0 AND g1.arm = 1 AND g0.n > 0 AND g1.n > 0)
    SELECT event_type, n0, n1, m0, m1,
           CASE WHEN n0 + n1 > 2 AND (ssd0 + ssd1) > 0
                THEN (m1 - m0) / sqrt((ssd0 + ssd1) / (n0 + n1 - 2))
                ELSE CAST(0.0 AS DOUBLE) END AS cohens_d
    FROM w
    """,
)
def cohens_d_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d per event type under the md5 A/B split: (mean1 - mean0) /
    pooled SD.

    Scale shape: ONE keyed aggregate (type x arm partials, map-side), then a
    |types|-sized self-join — scan-shaped."""
    ev = load_table(spark, sf_dir, "events")
    arm = _md5_u32(F.lit("ab"), F.col("user_id").cast("string")) % 2
    g = ev.select("event_type", "value", arm.alias("arm")).groupBy(
        "event_type", "arm"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        A.decimal_sum("value").alias("s"),
        F.sum(
            F.floor(F.col("value") * F.col("value") * F.lit(1000000.0)).cast(
                "long"
            )
        )
        .cast("long")
        .alias("ss_micro"),
    )
    g0 = g.filter(F.col("arm") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("s").alias("s0"),
        F.col("ss_micro").alias("ssm0"),
    )
    g1 = g.filter(F.col("arm") == 1).select(
        F.col("event_type").alias("_t"),
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("ss_micro").alias("ssm1"),
    )
    w = (
        g0.join(g1, F.col("event_type") == F.col("_t"))
        .filter((F.col("n0") > 0) & (F.col("n1") > 0))
        .select(
            "event_type",
            "n0",
            "n1",
            (F.col("s0") / F.col("n0")).alias("m0"),
            (F.col("s1") / F.col("n1")).alias("m1"),
            (
                F.col("ssm0").cast("double") / F.lit(1000000.0)
                - F.col("s0") * F.col("s0") / F.col("n0")
            ).alias("ssd0"),
            (
                F.col("ssm1").cast("double") / F.lit(1000000.0)
                - F.col("s1") * F.col("s1") / F.col("n1")
            ).alias("ssd1"),
        )
    )
    return w.select(
        "event_type",
        "n0",
        "n1",
        "m0",
        "m1",
        F.when(
            ((F.col("n0") + F.col("n1")) > 2)
            & ((F.col("ssd0") + F.col("ssd1")) > 0),
            (F.col("m1") - F.col("m0"))
            / F.sqrt(
                (F.col("ssd0") + F.col("ssd1"))
                / (F.col("n0") + F.col("n1") - 2)
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("cohens_d"),
    )


@_q(
    "cochran_armitage_hourly_trend",
    """
    WITH h AS (
      SELECT CAST(hour(ts) AS BIGINT) AS w,
             CAST(count(*) AS BIGINT) AS n_i,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS r_i
      FROM events GROUP BY hour(ts)),
    s AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS n,
             CAST(SUM(r_i) AS BIGINT) AS r,
             CAST(SUM(w * r_i) AS BIGINT) AS swr,
             CAST(SUM(w * n_i) AS BIGINT) AS swn,
             CAST(SUM(w * w * n_i) AS BIGINT) AS sw2n
      FROM h),
    t AS (
      SELECT n, r, swr, swn, sw2n,
             CAST(swr AS DOUBLE)
               - CAST(swn AS DOUBLE) * r / n AS t_stat,
             (CAST(r AS DOUBLE) / n) * (1.0 - CAST(r AS DOUBLE) / n)
               * (CAST(sw2n AS DOUBLE)
                  - CAST(swn AS DOUBLE) * swn / n) AS var_t
      FROM s WHERE n > 0)
    SELECT n, r, t_stat, var_t,
           CASE WHEN var_t > 0 THEN t_stat / sqrt(var_t)
                ELSE CAST(0.0 AS DOUBLE) END AS z
    FROM t
    """,
)
def cochran_armitage_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a linear trend of the purchase rate across
    hour-of-day.

    Scale shape: one keyed aggregate to 24 rows, one scalar aggregate.
    Time-of-day sibling of [[events_mann_kendall_trend]] (MK tests a trend
    over TIME; CA tests a rate trend over an ordered covariate)."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.hour("ts").cast("long").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("r_i"),
    )
    s = h.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("r_i")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("n_i")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n_i"))
        .cast("long")
        .alias("sw2n"),
    )
    pbar = F.col("r").cast("double") / F.col("n")
    t = s.filter(F.col("n") > 0).select(
        "n",
        "r",
        (
            F.col("swr").cast("double")
            - F.col("swn").cast("double") * F.col("r") / F.col("n")
        ).alias("t_stat"),
        (
            pbar
            * (F.lit(1.0) - pbar)
            * (
                F.col("sw2n").cast("double")
                - F.col("swn").cast("double") * F.col("swn") / F.col("n")
            )
        ).alias("var_t"),
    )
    return t.select(
        "n",
        "r",
        "t_stat",
        "var_t",
        F.when(F.col("var_t") > 0, F.col("t_stat") / F.sqrt(F.col("var_t")))
        .otherwise(F.lit(0.0))
        .alias("z"),
    )


@_q(
    "drift_cvm_statistic",
    """
    WITH t AS (
      SELECT event_type, value,
             SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS ca,
             SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS cb
      FROM events GROUP BY event_type, value),
    c AS (
      SELECT event_type, ca + cb AS cnt,
             SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS cuma,
             SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS cumb,
             SUM(ca) OVER (PARTITION BY event_type) AS na,
             SUM(cb) OVER (PARTITION BY event_type) AS nb
      FROM t),
    s AS (
      SELECT event_type,
             CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             CAST(SUM(cnt * CAST(floor(
                    (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)
                    * (CAST(cuma AS DOUBLE) / na - CAST(cumb AS DOUBLE) / nb)
                    * 1000000000000.0) AS BIGINT)) AS BIGINT) AS s_pico
      FROM c WHERE na > 0 AND nb > 0
      GROUP BY event_type, na, nb)
    SELECT event_type, n_a, n_b,
           CAST(n_a AS DOUBLE) * n_b / (n_a + n_b) / (n_a + n_b)
             * (CAST(s_pico AS DOUBLE) / 1000000000000.0) AS cvm_t
    FROM s
    """,
)
def drift_cvm_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Cramér-von Mises statistic per stratum over the
    [[drift_ks_statistic]] cohorts: T = nm/N^2 * sum_k (F_A(x_k) -
    F_B(x_k))^2 over the N pooled observations.

    Scale shape: identical to the KS plan — one (type, value) keyed
    aggregate, type-partitioned cumulative windows over the distinct-values
    table, one |types|-row output."""
    ev = load_table(spark, sf_dir, "events")
    t = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("cb"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    c = t.select(
        "event_type",
        (F.col("ca") + F.col("cb")).alias("cnt"),
        F.sum("ca").over(wcum).alias("cuma"),
        F.sum("cb").over(wcum).alias("cumb"),
        F.sum("ca").over(wall).alias("na"),
        F.sum("cb").over(wall).alias("nb"),
    )
    diff = F.col("cuma").cast("double") / F.col("na") - F.col(
        "cumb"
    ).cast("double") / F.col("nb")
    s = (
        c.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy(
            "event_type",
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
        )
        .agg(
            F.sum(
                F.col("cnt")
                * F.floor(diff * diff * F.lit(1000000000000.0)).cast("long")
            )
            .cast("long")
            .alias("s_pico")
        )
    )
    return s.select(
        "event_type",
        "n_a",
        "n_b",
        (
            F.col("n_a").cast("double")
            * F.col("n_b")
            / (F.col("n_a") + F.col("n_b"))
            / (F.col("n_a") + F.col("n_b"))
            * (F.col("s_pico").cast("double") / F.lit(1000000000000.0))
        ).alias("cvm_t"),
    )


@_q(
    "bandit_successive_elimination",
    f"""
    WITH a AS (
      SELECT event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(count(DISTINCT CASE WHEN value > 100.0 THEN user_id END)
                  AS BIGINT) AS n_conv
      FROM events GROUP BY event_type),
    w AS (
      SELECT event_type, n_users, n_conv,
             CAST(n_conv AS DOUBLE) / n_users AS phat,
             CAST(n_users AS DOUBLE) AS nd
      FROM a WHERE n_users > 0),
    ci AS (
      SELECT event_type, n_users, n_conv, phat,
             ((phat + '{_WILSON_Z2!r}'::DOUBLE / (2 * nd))
              - '{_WILSON_Z!r}'::DOUBLE
                * sqrt((phat * (1.0 - phat)) / nd
                       + '{_WILSON_Z2!r}'::DOUBLE / (4 * nd * nd)))
             / (1.0 + '{_WILSON_Z2!r}'::DOUBLE / nd) AS lb,
             ((phat + '{_WILSON_Z2!r}'::DOUBLE / (2 * nd))
              + '{_WILSON_Z!r}'::DOUBLE
                * sqrt((phat * (1.0 - phat)) / nd
                       + '{_WILSON_Z2!r}'::DOUBLE / (4 * nd * nd)))
             / (1.0 + '{_WILSON_Z2!r}'::DOUBLE / nd) AS ub
      FROM w),
    best AS (SELECT MAX(lb) AS best_lb FROM ci)
    SELECT ci.event_type, ci.n_users, ci.n_conv, ci.phat, ci.lb, ci.ub,
           ci.ub < best.best_lb AS eliminated
    FROM ci CROSS JOIN best
    """,
)
def bandit_successive_elimination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive elimination: each arm (event type; converting = any event
    with value > 100 per user) carries its Wilson interval, and an arm whose
    upper bound falls below the best arm's lower bound is eliminated.

    Scale shape: one distinct-keyed aggregate to |arms| rows, one broadcast
    scalar max, one comparison."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count_distinct(
            F.when(F.col("value") > 100.0, F.col("user_id"))
        )
        .cast("long")
        .alias("n_conv"),
    )
    w = a.filter(F.col("n_users") > 0).select(
        "event_type",
        "n_users",
        "n_conv",
        (F.col("n_conv").cast("double") / F.col("n_users")).alias("phat"),
        F.col("n_users").cast("double").alias("nd"),
    )
    z = F.lit(_WILSON_Z)
    z2 = F.lit(_WILSON_Z2)
    centre = F.col("phat") + z2 / (2 * F.col("nd"))
    spread = z * F.sqrt(
        (F.col("phat") * (1.0 - F.col("phat"))) / F.col("nd")
        + z2 / (4 * F.col("nd") * F.col("nd"))
    )
    denom = 1.0 + z2 / F.col("nd")
    ci = w.select(
        "event_type",
        "n_users",
        "n_conv",
        "phat",
        ((centre - spread) / denom).alias("lb"),
        ((centre + spread) / denom).alias("ub"),
    )
    best = ci.agg(F.max("lb").alias("best_lb"))
    return ci.crossJoin(F.broadcast(best)).select(
        "event_type",
        "n_users",
        "n_conv",
        "phat",
        "lb",
        "ub",
        (F.col("ub") < F.col("best_lb")).alias("eliminated"),
    )


def _bt_sql() -> str:
    """DuckDB replay of the Bradley-Terry minorize-maximize fit.

    The heavy part (the per-user preference grid and the k x k win
    matrix) is plain grouped aggregation; the MM iterations over the
    tiny type set are replayed as a fixed chain of CTEs.  Cross-row
    float sums inside an iteration go through floor-micro BIGINT
    quantization (the established portability device: CAST-to-DECIMAL
    rounds differently across engines, floor(x*1e6) does not), so the
    oracle's SUM order cannot change bits and the Spark driver replay
    is exact."""
    n_iters = 8
    parts = [
        """WITH u AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type),
    us AS (SELECT DISTINCT user_id FROM events),
    ty AS (SELECT DISTINCT event_type FROM events),
    grid AS MATERIALIZED (
      SELECT us.user_id, ty.event_type, COALESCE(u.n, 0) AS n
      FROM us CROSS JOIN ty
      LEFT JOIN u ON u.user_id = us.user_id AND u.event_type = ty.event_type),
    w AS MATERIALIZED (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CAST(SUM(CASE WHEN a.n > b.n THEN 1 ELSE 0 END) AS BIGINT) AS wr
      FROM grid a JOIN grid b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY a.event_type, b.event_type),
    ws AS MATERIALIZED (
      SELECT w1.ta, w1.tb, w1.wr + 1 AS w_ab,
             (w1.wr + 1) + (w2.wr + 1) AS n_ab
      FROM w w1 JOIN w w2 ON w1.ta = w2.tb AND w1.tb = w2.ta),
    tots AS (SELECT ta AS tp, CAST(SUM(w_ab) AS BIGINT) AS wts
             FROM ws GROUP BY ta),
    traw AS (SELECT ta AS tp, CAST(SUM(wr) AS BIGINT) AS wins FROM w GROUP BY ta),
    lraw AS (SELECT tb AS tp, CAST(SUM(wr) AS BIGINT) AS losses FROM w GROUP BY tb),
    cnt AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
    p0 AS MATERIALIZED (SELECT ty.event_type AS tp,
                               1.0 / CAST(cnt.k AS DOUBLE) AS p
           FROM ty CROSS JOIN cnt)"""
    ]
    for it in range(1, n_iters + 1):
        parts.append(
            f"""den{it} AS (
      SELECT ws.ta AS tp,
             CAST(SUM(CAST(floor(CAST(ws.n_ab AS DOUBLE) / (pa.p + pb.p)
                                 * 1000000.0) AS BIGINT)) AS BIGINT) AS dmic
      FROM ws JOIN p{it - 1} pa ON pa.tp = ws.ta
              JOIN p{it - 1} pb ON pb.tp = ws.tb
      GROUP BY ws.ta),
    r{it} AS (
      SELECT tots.tp,
             CAST(tots.wts AS DOUBLE) / (CAST(d.dmic AS DOUBLE) / 1000000.0) AS p
      FROM tots JOIN den{it} d ON d.tp = tots.tp),
    s{it} AS (SELECT CAST(SUM(CAST(floor(p * 1000000000.0) AS BIGINT))
                          AS BIGINT) AS s FROM r{it}),
    p{it} AS MATERIALIZED (SELECT tp, p / (CAST(s AS DOUBLE) / 1000000000.0) AS p
              FROM r{it} CROSS JOIN s{it})"""
        )
    body = ",\n    ".join(parts)
    return f"""
    {body}
    SELECT p{n_iters}.tp AS event_type, traw.wins, lraw.losses,
           p{n_iters}.p AS bt_strength,
           CAST(ROW_NUMBER() OVER (ORDER BY p{n_iters}.p DESC, p{n_iters}.tp)
                AS BIGINT) AS rank
    FROM p{n_iters}
    JOIN traw ON traw.tp = p{n_iters}.tp
    JOIN lraw ON lraw.tp = p{n_iters}.tp
    """


@_q("bt_event_type_strength", _bt_sql())
def bt_event_type_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength of event types: per user and ordered type
    pair, the type done more often wins (exact ties abstain); the win matrix
    gets +1 smoothing and 8 fixed minorize-maximize iterations.

    Scale shape: one users x k grid (broadcast type dim), one keyed
    self-join on user_id, one k^2-row aggregate; driver math is O(k^2) per
    iteration, independent of corpus size."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    u = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    us = ev.select("user_id").distinct()
    ty = ev.select("event_type").distinct()
    grid = (
        us.crossJoin(F.broadcast(ty))
        .join(u, ["user_id", "event_type"], "left")
        .fillna(0, subset=["n"])
    )
    b = grid.select(
        F.col("user_id").alias("_u"),
        F.col("event_type").alias("tb"),
        F.col("n").alias("_nb"),
    )
    w_rows = (
        grid.join(
            b,
            (F.col("user_id") == F.col("_u"))
            & (F.col("event_type") != F.col("tb")),
        )
        .groupBy(F.col("event_type").alias("ta"), "tb")
        .agg(
            F.sum(F.when(F.col("n") > F.col("_nb"), 1).otherwise(0))
            .cast("long")
            .alias("wr")
        )
        .collect()
    )
    schema = (
        "event_type string, wins bigint, losses bigint,"
        " bt_strength double, rank bigint"
    )
    if not w_rows:
        return spark.createDataFrame([], schema)
    wr = {(r.ta, r.tb): r.wr for r in w_rows}
    types = sorted({t for pair in wr for t in pair})
    k = len(types)
    ws = {(a, bb): wr[(a, bb)] + 1 for (a, bb) in wr}
    n_ab = {(a, bb): ws[(a, bb)] + ws[(bb, a)] for (a, bb) in ws}
    wts = {t: sum(v for (a, _), v in ws.items() if a == t) for t in types}
    wins = {t: sum(v for (a, _), v in wr.items() if a == t) for t in types}
    losses = {t: sum(v for (_, bb), v in wr.items() if bb == t) for t in types}
    p = {t: 1.0 / float(k) for t in types}
    for _ in range(8):
        dmic = {
            t: sum(
                math.floor(
                    float(n_ab[(t, o)]) / (p[t] + p[o]) * 1000000.0
                )
                for o in types
                if o != t
            )
            for t in types
        }
        praw = {t: float(wts[t]) / (float(dmic[t]) / 1000000.0) for t in types}
        s = sum(math.floor(praw[t] * 1000000000.0) for t in types)
        p = {t: praw[t] / (float(s) / 1000000000.0) for t in types}
    order = sorted(types, key=lambda t: (-p[t], t))
    rows = [
        (t, wins[t], losses[t], p[t], order.index(t) + 1) for t in types
    ]
    return spark.createDataFrame(rows, schema)


@_q(
    "ab_permutation_fdr_bh",
    """
    WITH reps AS (SELECT unnest(range(0, 50)) AS r),
    base AS (
      SELECT e.event_type, reps.r,
             CASE WHEN reps.r = 0
                  THEN CASE WHEN isodow(e.ts) - 1 >= 5 THEN 1 ELSE 0 END
                  ELSE CAST(('0x' || substr(md5('perm' || CAST(reps.r AS VARCHAR)
                             || '|' || CAST(e.event_id AS VARCHAR)), 1, 8))::BIGINT
                            % 2 AS INTEGER)
             END AS side,
             e.value
      FROM events e CROSS JOIN reps),
    cell AS (
      SELECT event_type, r,
             CAST(SUM(CASE WHEN side = 1
                           THEN CAST(value AS DECIMAL(27,6)) END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN side = 0
                           THEN CAST(value AS DECIMAL(27,6)) END) AS DOUBLE) AS s0,
             CAST(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
      FROM base GROUP BY event_type, r),
    stat AS (
      SELECT event_type, r,
             CASE WHEN n0 > 0 AND n1 > 0 THEN abs(s1 / n1 - s0 / n0) END AS stat
      FROM cell),
    obs AS (SELECT event_type, stat AS stat_obs
            FROM stat WHERE r = 0 AND stat IS NOT NULL),
    pv AS MATERIALIZED (
      SELECT o.event_type, o.stat_obs,
             CAST(1 + SUM(CASE WHEN s.stat IS NOT NULL AND s.stat >= o.stat_obs
                               THEN 1 ELSE 0 END) AS DOUBLE) / 50.0 AS p_value
      FROM obs o JOIN stat s ON s.event_type = o.event_type AND s.r >= 1
      GROUP BY o.event_type, o.stat_obs),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pv),
    rk AS (
      SELECT a.event_type, a.stat_obs, a.p_value, mm.m,
             CAST(1 + SUM(CASE WHEN b.p_value < a.p_value
                               OR (b.p_value = a.p_value
                                   AND b.event_type < a.event_type)
                          THEN 1 ELSE 0 END) AS BIGINT) AS rank
      FROM pv a CROSS JOIN pv b CROSS JOIN mm
      GROUP BY a.event_type, a.stat_obs, a.p_value, mm.m),
    fl AS (
      SELECT event_type, stat_obs, p_value, rank,
             CAST(rank AS DOUBLE) * 0.10 / CAST(m AS DOUBLE) AS bh_threshold,
             p_value <= CAST(rank AS DOUBLE) * 0.10 / CAST(m AS DOUBLE) AS passes
      FROM rk),
    ks AS (SELECT COALESCE(MAX(CASE WHEN passes THEN rank END), 0) AS kstar
           FROM fl)
    SELECT fl.event_type, fl.stat_obs, fl.p_value, fl.rank, fl.bh_threshold,
           fl.rank <= ks.kstar AS rejected
    FROM fl CROSS JOIN ks
    """,
)
def ab_permutation_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact permutation test per event type of |weekend mean - weekday
    mean| against 49 md5-salted pseudo-splits, p = (1 + #{null >= observed})
    / 50, with Benjamini-Hochberg step-up rejection at q = 0.10.

    Scale shape: the 50x replicate fan-out collapses map-side to |types| x
    50 x 2 cells before the shuffle; everything after the cell table is
    metadata-sized (ranks from a broadcast triangular count over ~6 rows),
    no global window."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    reps = spark.range(50).select(F.col("id").alias("r"))
    perm_side = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm"),
                        F.col("r").cast("string"),
                        F.lit("|"),
                        F.col("event_id").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    ).cast("int")
    side = F.when(
        F.col("r") == 0,
        F.when(F.weekday("ts") >= 5, 1).otherwise(0),
    ).otherwise(perm_side)
    base = ev.crossJoin(F.broadcast(reps)).select(
        "event_type", "r", side.alias("side"), "value"
    )
    dec = F.col("value").cast("decimal(27,6)")
    cell = base.groupBy("event_type", "r").agg(
        F.sum(F.when(F.col("side") == 1, dec)).cast("double").alias("s1"),
        F.sum(F.when(F.col("side") == 0, dec)).cast("double").alias("s0"),
        F.sum(F.when(F.col("side") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("side") == 0, 1).otherwise(0)).cast("long").alias("n0"),
    )
    stat = cell.select(
        "event_type",
        "r",
        F.when(
            (F.col("n0") > 0) & (F.col("n1") > 0),
            F.abs(F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")),
        ).alias("stat"),
    )
    obs = (
        stat.filter((F.col("r") == 0) & F.col("stat").isNotNull())
        .select("event_type", F.col("stat").alias("stat_obs"))
    )
    nulls = stat.filter(F.col("r") >= 1).select(
        F.col("event_type").alias("_t"), F.col("stat").alias("_s")
    )
    pv = (
        obs.join(nulls, F.col("_t") == F.col("event_type"))
        .groupBy("event_type", "stat_obs")
        .agg(
            (
                (
                    F.lit(1)
                    + F.sum(
                        F.when(
                            F.col("_s").isNotNull()
                            & (F.col("_s") >= F.col("stat_obs")),
                            1,
                        ).otherwise(0)
                    )
                ).cast("double")
                / F.lit(50.0)
            ).alias("p_value")
        )
    )
    mm = pv.agg(F.count(F.lit(1)).cast("long").alias("m"))
    # rank WITHOUT a global window (Exchange-SinglePartition ban): the
    # rank of a row in the (p_value, event_type) total order is 1 + the
    # count of strictly-smaller rows — a broadcast triangular count over
    # the m-row aggregate output
    pvb = pv.select(
        F.col("event_type").alias("_bt"), F.col("p_value").alias("_bp")
    )
    smaller = F.when(
        (F.col("_bp") < F.col("p_value"))
        | (
            (F.col("_bp") == F.col("p_value"))
            & (F.col("_bt") < F.col("event_type"))
        ),
        1,
    ).otherwise(0)
    rk = (
        pv.crossJoin(F.broadcast(pvb))
        .crossJoin(F.broadcast(mm))
        .groupBy("event_type", "stat_obs", "p_value", "m")
        .agg((F.lit(1) + F.sum(smaller)).cast("long").alias("rank"))
    )
    fl = rk.select(
        "event_type",
        "stat_obs",
        "p_value",
        "rank",
        (F.col("rank").cast("double") * 0.10 / F.col("m").cast("double")).alias(
            "bh_threshold"
        ),
        (
            F.col("p_value")
            <= F.col("rank").cast("double") * 0.10 / F.col("m").cast("double")
        ).alias("passes"),
    )
    ks = fl.agg(
        F.coalesce(
            F.max(F.when(F.col("passes"), F.col("rank"))), F.lit(0)
        ).alias("kstar")
    )
    return fl.crossJoin(F.broadcast(ks)).select(
        "event_type",
        "stat_obs",
        "p_value",
        "rank",
        "bh_threshold",
        (F.col("rank") <= F.col("kstar")).alias("rejected"),
    )


@_q(
    "uplift_qini_by_decile",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS score,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 100.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS converted,
             CASE WHEN ('0x' || substr(md5('exp1'
                        || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                       % 10000 < 5000 THEN 1 ELSE 0 END AS treated
      FROM events GROUP BY user_id),
    q0 AS (SELECT list_sort(list(score)) AS arr, count(*) AS n FROM u),
    q AS (SELECT [{', '.join(_pctile_mirror_sql(f) for f in _DECILE_PS)}] AS t
          FROM q0),
    b AS (SELECT u.*,
                 1 + {' + '.join(f'(CASE WHEN u.score < t[{i + 1}] THEN 1 ELSE 0 END)' for i in range(9))} AS decile
          FROM u CROSS JOIN q),
    d AS MATERIALIZED (
      SELECT decile,
             CAST(SUM(treated) AS BIGINT) AS n_treat,
             CAST(SUM(1 - treated) AS BIGINT) AS n_ctrl,
             CAST(SUM(treated * converted) AS BIGINT) AS conv_treat,
             CAST(SUM((1 - treated) * converted) AS BIGINT) AS conv_ctrl
      FROM b GROUP BY decile),
    c AS (
      SELECT a.decile, a.n_treat, a.n_ctrl, a.conv_treat, a.conv_ctrl,
             CAST(SUM(d2.n_treat) AS BIGINT) AS cum_nt,
             CAST(SUM(d2.n_ctrl) AS BIGINT) AS cum_nc,
             CAST(SUM(d2.conv_treat) AS BIGINT) AS cum_ct,
             CAST(SUM(d2.conv_ctrl) AS BIGINT) AS cum_cc
      FROM d a JOIN d d2 ON d2.decile <= a.decile
      GROUP BY a.decile, a.n_treat, a.n_ctrl, a.conv_treat, a.conv_ctrl)
    SELECT decile, n_treat, n_ctrl, conv_treat, conv_ctrl,
           CASE WHEN n_treat > 0 AND n_ctrl > 0
                THEN CAST(conv_treat AS DOUBLE) / n_treat
                     - CAST(conv_ctrl AS DOUBLE) / n_ctrl END AS uplift_rate,
           CASE WHEN cum_nc > 0
                THEN CAST(cum_ct AS DOUBLE)
                     - CAST(cum_cc AS DOUBLE)
                       * (CAST(cum_nt AS DOUBLE) / CAST(cum_nc AS DOUBLE))
           END AS qini
    FROM c
    """,
)
def uplift_qini_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve by score decile: users ranked by view count and split into
    the md5 arms; per cumulative top-k, Q(k) = cum_conv_T(k) - cum_conv_C(k)
    * N_T(k)/N_C(k).

    Scale shape: one user-keyed aggregate, ONE percentile aggregate
    broadcast back as a 9-literal comparison ladder (the
    [[w5_deciles_bucketed]] scale-safe pattern — no global NTILE), a 10-row
    decile aggregate, and cumulation via a broadcast triangular self-join
    over those 10 metadata rows — no global window anywhere."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("score"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 100.0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("converted"),
    ).withColumn(
        "treated",
        F.when(hash_bucket("user_id", 10_000, "exp1") < 5000, 1).otherwise(0),
    )
    th = u.agg(F.percentile("score", F.lit(_DECILE_PS)).alias("t"))
    decile = F.lit(1)
    for i in range(9):
        decile = decile + (F.col("score") < F.element_at("t", i + 1)).cast("int")
    b = u.crossJoin(F.broadcast(th)).select(
        "score", "converted", "treated", decile.alias("decile")
    )
    d = b.groupBy("decile").agg(
        F.sum("treated").cast("long").alias("n_treat"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_ctrl"),
        F.sum(F.col("treated") * F.col("converted"))
        .cast("long")
        .alias("conv_treat"),
        F.sum((1 - F.col("treated")) * F.col("converted"))
        .cast("long")
        .alias("conv_ctrl"),
    )
    # cumulative over the 10 decile rows WITHOUT a global window
    # (Exchange-SinglePartition ban): broadcast triangular self-join
    d2 = d.select(
        F.col("decile").alias("_d2"),
        F.col("n_treat").alias("_nt"),
        F.col("n_ctrl").alias("_nc"),
        F.col("conv_treat").alias("_ct"),
        F.col("conv_ctrl").alias("_cc"),
    )
    c = (
        d.join(F.broadcast(d2), F.col("_d2") <= F.col("decile"))
        .groupBy("decile", "n_treat", "n_ctrl", "conv_treat", "conv_ctrl")
        .agg(
            F.sum("_nt").cast("long").alias("cum_nt"),
            F.sum("_nc").cast("long").alias("cum_nc"),
            F.sum("_ct").cast("long").alias("cum_ct"),
            F.sum("_cc").cast("long").alias("cum_cc"),
        )
    )
    return c.select(
        "decile",
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.when(
            (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0),
            F.col("conv_treat").cast("double") / F.col("n_treat")
            - F.col("conv_ctrl").cast("double") / F.col("n_ctrl"),
        ).alias("uplift_rate"),
        F.when(
            F.col("cum_nc") > 0,
            F.col("cum_ct").cast("double")
            - F.col("cum_cc").cast("double")
            * (F.col("cum_nt").cast("double") / F.col("cum_nc").cast("double")),
        ).alias("qini"),
    )


@_q(
    "eb_shrunk_supplier_rates",
    f"""
    {_SUPP_ONTIME_SQL},
    p AS (
      SELECT l_suppkey, n_ships, n_ontime,
             CAST(n_ontime AS DOUBLE) / n_ships AS raw_rate
      FROM g WHERE n_ships > 0),
    m1 AS (
      SELECT CAST(count(*) AS BIGINT) AS k,
             CAST(SUM(CAST(floor(raw_rate * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS pm
      FROM p),
    m AS (SELECT k, CAST(pm AS DOUBLE) / 1000000000.0 / CAST(k AS DOUBLE)
                 AS mu FROM m1),
    v1 AS (
      SELECT CAST(SUM(CAST(floor((p.raw_rate - m.mu) * (p.raw_rate - m.mu)
                                 * 1000000000000.0) AS BIGINT)) AS BIGINT) AS vm
      FROM p CROSS JOIN m),
    ab AS (
      SELECT m.k, m.mu,
             CASE WHEN m.k >= 2 AND v1.vm > 0
                  THEN CAST(v1.vm AS DOUBLE) / 1000000000000.0
                       / CAST(m.k - 1 AS DOUBLE) END AS var,
             CASE WHEN m.k >= 2 AND v1.vm > 0
                  THEN m.mu * (1.0 - m.mu)
                       / (CAST(v1.vm AS DOUBLE) / 1000000000000.0
                          / CAST(m.k - 1 AS DOUBLE)) - 1.0 END AS nu
      FROM m CROSS JOIN v1)
    SELECT p.l_suppkey, p.n_ships, p.n_ontime, p.raw_rate,
           CASE WHEN ab.nu IS NOT NULL AND ab.nu > 0.0
                THEN (CAST(p.n_ontime AS DOUBLE) + ab.mu * ab.nu)
                     / (CAST(p.n_ships AS DOUBLE) + ab.nu)
                ELSE p.raw_rate END AS shrunk_rate,
           CASE WHEN ab.nu IS NOT NULL AND ab.nu > 0.0
                THEN ab.mu * ab.nu END AS alpha,
           CASE WHEN ab.nu IS NOT NULL AND ab.nu > 0.0
                THEN ab.nu - ab.mu * ab.nu END AS beta
    FROM p CROSS JOIN ab
    """,
)
def eb_shrunk_supplier_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-supplier on-time rates: a
    method-of-moments Beta prior (mean mu, strength nu = mu(1-mu)/var - 1),
    then each supplier's rate (x + mu*nu) / (n + nu).

    Scale shape: one fact-dim equi-join, one supplier-keyed aggregate, two
    scalar moment aggregates broadcast back — the prior costs two metadata
    rows, not a second corpus pass."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lat = li.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_suppkey",
        F.when(
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            <= 60,
            1,
        )
        .otherwise(0)
        .alias("ontime"),
    )
    g = lat.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_ships"),
        F.sum("ontime").cast("long").alias("n_ontime"),
    )
    p = g.filter(F.col("n_ships") > 0).withColumn(
        "raw_rate", F.col("n_ontime").cast("double") / F.col("n_ships")
    )
    m1 = p.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.floor(F.col("raw_rate") * 1000000000.0).cast("long"))
        .cast("long")
        .alias("pm"),
    )
    m = m1.select(
        "k",
        (
            F.col("pm").cast("double") / 1000000000.0 / F.col("k").cast("double")
        ).alias("mu"),
    )
    v1 = (
        p.crossJoin(F.broadcast(m))
        .agg(
            F.sum(
                F.floor(
                    (F.col("raw_rate") - F.col("mu"))
                    * (F.col("raw_rate") - F.col("mu"))
                    * 1000000000000.0
                ).cast("long")
            )
            .cast("long")
            .alias("vm")
        )
    )
    var = F.when(
        (F.col("k") >= 2) & (F.col("vm") > 0),
        F.col("vm").cast("double") / 1000000000000.0
        / (F.col("k") - 1).cast("double"),
    )
    ab = m.crossJoin(F.broadcast(v1)).select(
        "k",
        "mu",
        var.alias("var"),
        F.when(
            (F.col("k") >= 2) & (F.col("vm") > 0),
            F.col("mu") * (1.0 - F.col("mu")) / var - 1.0,
        ).alias("nu"),
    )
    ok = F.col("nu").isNotNull() & (F.col("nu") > 0.0)
    return p.crossJoin(F.broadcast(ab)).select(
        "l_suppkey",
        "n_ships",
        "n_ontime",
        "raw_rate",
        F.when(
            ok,
            (F.col("n_ontime").cast("double") + F.col("mu") * F.col("nu"))
            / (F.col("n_ships").cast("double") + F.col("nu")),
        )
        .otherwise(F.col("raw_rate"))
        .alias("shrunk_rate"),
        F.when(ok, F.col("mu") * F.col("nu")).alias("alpha"),
        F.when(ok, F.col("nu") - F.col("mu") * F.col("nu")).alias("beta"),
    )


@_q(
    "tcloseness_audit",
    """
    WITH base AS (
      SELECT c_nationkey,
             CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             c_mktsegment
      FROM customer),
    seg AS (SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS gn FROM base
            GROUP BY c_mktsegment),
    gt AS (SELECT CAST(SUM(gn) AS BIGINT) AS gtotal FROM seg),
    cls AS (SELECT c_nationkey, bal_band, CAST(count(*) AS BIGINT) AS k
            FROM base GROUP BY c_nationkey, bal_band),
    cell AS (
      SELECT c_nationkey, bal_band, c_mktsegment,
             CAST(count(*) AS BIGINT) AS n
      FROM base GROUP BY c_nationkey, bal_band, c_mktsegment),
    grid AS (
      SELECT cls.c_nationkey, cls.bal_band, cls.k, seg.c_mktsegment,
             seg.gn, COALESCE(cell.n, 0) AS n
      FROM cls CROSS JOIN seg
      LEFT JOIN cell ON cell.c_nationkey = cls.c_nationkey
                    AND cell.bal_band = cls.bal_band
                    AND cell.c_mktsegment = seg.c_mktsegment),
    tv AS (
      SELECT grid.c_nationkey, grid.bal_band, grid.k,
             CAST(SUM(CAST(floor(abs(CAST(grid.n AS DOUBLE) / grid.k
                                      - CAST(grid.gn AS DOUBLE) / gt.gtotal)
                                 * 1000000000000.0) AS BIGINT)) AS BIGINT)
               AS tvmic
      FROM grid CROSS JOIN gt
      GROUP BY grid.c_nationkey, grid.bal_band, grid.k)
    SELECT c_nationkey, bal_band, k,
           CAST(tvmic AS DOUBLE) / 1000000000000.0 / 2.0 AS t_distance,
           CAST(tvmic AS DOUBLE) / 1000000000000.0 / 2.0 > 0.2
             AS violates_t02
    FROM tv
    """,
)
def tcloseness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit: per quasi-identifier class (nation x coarse
    balance band), the distance between the class's market-segment
    distribution and the global one.

    Scale shape: three keyed aggregates over the same scan (cells, class
    totals, global totals), a |classes| x |segments| broadcast grid, one
    per-class rollup — output is QI-domain-sized."""
    c = load_table(spark, sf_dir, "customer")
    base = c.select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    seg = base.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("gn")
    )
    gt = seg.agg(F.sum("gn").cast("long").alias("gtotal"))
    cls = base.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    cell = base.groupBy("c_nationkey", "bal_band", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cell2 = cell.select(
        F.col("c_nationkey").alias("_n"),
        F.col("bal_band").alias("_b"),
        F.col("c_mktsegment").alias("_s"),
        "n",
    )
    grid = (
        cls.crossJoin(F.broadcast(seg))
        .join(
            cell2,
            (F.col("_n") == F.col("c_nationkey"))
            & (F.col("_b") == F.col("bal_band"))
            & (F.col("_s") == F.col("c_mktsegment")),
            "left",
        )
        .select(
            "c_nationkey",
            "bal_band",
            "k",
            "gn",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    tv = (
        grid.crossJoin(F.broadcast(gt))
        .groupBy("c_nationkey", "bal_band", "k")
        .agg(
            F.sum(
                F.floor(
                    F.abs(
                        F.col("n").cast("double") / F.col("k")
                        - F.col("gn").cast("double") / F.col("gtotal")
                    )
                    * 1000000000000.0
                ).cast("long")
            )
            .cast("long")
            .alias("tvmic")
        )
    )
    t = F.col("tvmic").cast("double") / 1000000000000.0 / 2.0
    return tv.select(
        "c_nationkey",
        "bal_band",
        "k",
        t.alias("t_distance"),
        (t > 0.2).alias("violates_t02"),
    )


@_q(
    "next_event_predictor_accuracy",
    """
    WITH tr AS (
      SELECT event_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events),
    t2 AS (
      SELECT event_id, event_type AS prev_type, next_type,
             CASE WHEN ('0x' || substr(md5('nxteval'
                        || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                       % 10000 < 8000 THEN 1 ELSE 0 END AS is_train
      FROM tr WHERE next_type IS NOT NULL),
    cnt AS (
      SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
      FROM t2 WHERE is_train = 1 GROUP BY prev_type, next_type),
    mx AS (SELECT prev_type, MAX(n) AS mxn FROM cnt GROUP BY prev_type),
    pred AS (
      SELECT cnt.prev_type, MIN(cnt.next_type) AS predicted_next
      FROM cnt JOIN mx ON mx.prev_type = cnt.prev_type AND cnt.n = mx.mxn
      GROUP BY cnt.prev_type)
    SELECT t2.prev_type, pred.predicted_next,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN t2.next_type = pred.predicted_next
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN t2.next_type = pred.predicted_next
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
             AS accuracy
    FROM t2 JOIN pred ON pred.prev_type = t2.prev_type
    WHERE t2.is_train = 0
    GROUP BY t2.prev_type, pred.predicted_next
    """,
)
def next_event_predictor_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out top-1 accuracy of the Markov next-event predictor:
    transitions split 80/20 by md5 of the source event, the train-side modal
    next type per previous type (max count, then lexicographic), scored on
    the held-out 20%.

    Scale shape: one user-partitioned LEAD window, one (prev, next) keyed
    train aggregate to a |types|^2 table, the deterministic-mode
    two-aggregate ladder, and one broadcast join back over the eval split —
    the predictor table is metadata-sized."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    tr = ev.select(
        "event_id",
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    t2 = tr.withColumn(
        "is_train",
        F.when(hash_bucket("event_id", 10_000, "nxteval") < 8000, 1).otherwise(0),
    )
    cnt = (
        t2.filter(F.col("is_train") == 1)
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    mx = cnt.groupBy(F.col("prev_type").alias("_p")).agg(F.max("n").alias("mxn"))
    pred = (
        cnt.join(
            mx,
            (F.col("_p") == F.col("prev_type")) & (F.col("n") == F.col("mxn")),
        )
        .groupBy("prev_type")
        .agg(F.min("next_type").alias("predicted_next"))
        .select(F.col("prev_type").alias("_pp"), "predicted_next")
    )
    hit = F.when(F.col("next_type") == F.col("predicted_next"), 1).otherwise(0)
    return (
        t2.filter(F.col("is_train") == 0)
        .join(F.broadcast(pred), F.col("_pp") == F.col("prev_type"))
        .groupBy("prev_type", "predicted_next")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(hit).cast("long").alias("n_correct"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("accuracy"),
        )
    )


@_q(
    "drift_ad_statistic",
    """
    WITH t AS (
      SELECT event_type, value,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cb
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY event_type, value),
    c AS (
      SELECT event_type, ca + cb AS l,
             SUM(ca) OVER (PARTITION BY event_type ORDER BY value) AS ma,
             SUM(cb) OVER (PARTITION BY event_type ORDER BY value) AS mb,
             SUM(ca + cb) OVER (PARTITION BY event_type ORDER BY value) AS bj,
             SUM(ca) OVER (PARTITION BY event_type) AS na,
             SUM(cb) OVER (PARTITION BY event_type) AS nb,
             SUM(ca + cb) OVER (PARTITION BY event_type) AS nn
      FROM t),
    s AS (
      SELECT event_type, na, nb, nn,
             CAST(SUM(CASE WHEN bj < nn THEN
               CAST(floor(CAST(l AS DOUBLE)
                 * (CAST(nn AS DOUBLE) * ma - CAST(na AS DOUBLE) * bj)
                 * (CAST(nn AS DOUBLE) * ma - CAST(na AS DOUBLE) * bj)
                 / (CAST(bj AS DOUBLE) * (nn - bj)) * 1000.0) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN bj < nn THEN
               CAST(floor(CAST(l AS DOUBLE)
                 * (CAST(nn AS DOUBLE) * mb - CAST(nb AS DOUBLE) * bj)
                 * (CAST(nn AS DOUBLE) * mb - CAST(nb AS DOUBLE) * bj)
                 / (CAST(bj AS DOUBLE) * (nn - bj)) * 1000.0) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS sb
      FROM c WHERE na > 0 AND nb > 0
      GROUP BY event_type, na, nb, nn)
    SELECT event_type,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           (CAST(sa AS DOUBLE) / 1000.0 / CAST(na AS DOUBLE)
            + CAST(sb AS DOUBLE) / 1000.0 / CAST(nb AS DOUBLE))
             / CAST(nn AS DOUBLE) AS ad_stat
    FROM s
    """,
)
def drift_ad_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Anderson-Darling statistic per stratum (Scholz &
    Stephens' discrete k-sample form at k=2, ties handled exactly) over the
    [[drift_ks_statistic]] user-parity cohorts.

    Scale shape: identical to KS — one keyed aggregate to the distinct-
    value table, event_type-PARTITIONED windows over that reduced table
    (never a global window), one per-type rollup."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    t = ev.groupBy("event_type", "value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wc = Window.partitionBy("event_type").orderBy("value")
    wp = Window.partitionBy("event_type")
    c = t.select(
        "event_type",
        (F.col("ca") + F.col("cb")).alias("l"),
        F.sum("ca").over(wc).alias("ma"),
        F.sum("cb").over(wc).alias("mb"),
        F.sum(F.col("ca") + F.col("cb")).over(wc).alias("bj"),
        F.sum("ca").over(wp).alias("na"),
        F.sum("cb").over(wp).alias("nb"),
        F.sum(F.col("ca") + F.col("cb")).over(wp).alias("nn"),
    )

    def _term(m: str, n: str) -> F.Column:
        num = F.col("nn").cast("double") * F.col(m) - F.col(n).cast(
            "double"
        ) * F.col("bj")
        return F.when(
            F.col("bj") < F.col("nn"),
            F.floor(
                F.col("l").cast("double")
                * num
                * num
                / (F.col("bj").cast("double") * (F.col("nn") - F.col("bj")))
                * 1000.0
            ).cast("long"),
        ).otherwise(F.lit(0))

    s = (
        c.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .groupBy("event_type", "na", "nb", "nn")
        .agg(
            F.sum(_term("ma", "na")).cast("long").alias("sa"),
            F.sum(_term("mb", "nb")).cast("long").alias("sb"),
        )
    )
    return s.select(
        "event_type",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        (
            (
                F.col("sa").cast("double") / 1000.0 / F.col("na").cast("double")
                + F.col("sb").cast("double") / 1000.0 / F.col("nb").cast("double")
            )
            / F.col("nn").cast("double")
        ).alias("ad_stat"),
    )


@_q(
    "ab_post_stratified_ate",
    """
    WITH u AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(value AS DECIMAL(27,6)) END)
                  AS DOUBLE) AS spend,
             CASE WHEN ('0x' || substr(md5('exp1'
                        || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                       % 10000 < 5000 THEN 1 ELSE 0 END AS treated
      FROM events GROUP BY user_id),
    s AS (
      SELECT CASE WHEN n_events < 50 THEN 'low'
                  WHEN n_events < 80 THEN 'mid' ELSE 'high' END AS stratum,
             treated, COALESCE(spend, 0.0) AS y
      FROM u),
    cell AS (
      SELECT stratum,
             CAST(count(*) AS BIGINT) AS n_s,
             CAST(SUM(treated) AS BIGINT) AS n_t,
             CAST(SUM(1 - treated) AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN treated = 1
                           THEN CAST(y AS DECIMAL(27,6)) END) AS DOUBLE) AS sy_t,
             CAST(SUM(CASE WHEN treated = 0
                           THEN CAST(y AS DECIMAL(27,6)) END) AS DOUBLE) AS sy_c
      FROM s GROUP BY stratum),
    d AS (
      SELECT stratum, n_s, n_t, n_c,
             CASE WHEN n_t > 0 THEN sy_t / n_t END AS mean_t,
             CASE WHEN n_c > 0 THEN sy_c / n_c END AS mean_c,
             CASE WHEN n_t > 0 AND n_c > 0
                  THEN sy_t / n_t - sy_c / n_c END AS diff
      FROM cell),
    nn AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM d),
    ate AS (
      SELECT CAST(SUM(CASE WHEN d.diff IS NOT NULL THEN
               CAST(floor(CAST(d.n_s AS DOUBLE) / nn.n * d.diff
                          * 1000000.0) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS atemic
      FROM d CROSS JOIN nn)
    SELECT d.stratum, d.n_s, d.n_t, d.n_c, d.mean_t, d.mean_c, d.diff,
           CAST(ate.atemic AS DOUBLE) / 1000000.0 AS ate_post_stratified
    FROM d CROSS JOIN ate
    """,
)
def ab_post_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified average treatment effect over activity strata from
    each user's event count (literal bounds): ATE = sum_s (n_s/N) *
    (mean_T,s - mean_C,s).

    Scale shape: one user-keyed aggregate, one 3-row stratum aggregate, two
    broadcast scalars."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(27,6)"),
            )
        )
        .cast("double")
        .alias("spend"),
    ).withColumn(
        "treated",
        F.when(hash_bucket("user_id", 10_000, "exp1") < 5000, 1).otherwise(0),
    )
    s = u.select(
        F.when(F.col("n_events") < 50, "low")
        .when(F.col("n_events") < 80, "mid")
        .otherwise("high")
        .alias("stratum"),
        "treated",
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("y"),
    )
    dec = F.col("y").cast("decimal(27,6)")
    cell = s.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("treated").cast("long").alias("n_t"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
        F.sum(F.when(F.col("treated") == 1, dec)).cast("double").alias("sy_t"),
        F.sum(F.when(F.col("treated") == 0, dec)).cast("double").alias("sy_c"),
    )
    d = cell.select(
        "stratum",
        "n_s",
        "n_t",
        "n_c",
        F.when(F.col("n_t") > 0, F.col("sy_t") / F.col("n_t")).alias("mean_t"),
        F.when(F.col("n_c") > 0, F.col("sy_c") / F.col("n_c")).alias("mean_c"),
        F.when(
            (F.col("n_t") > 0) & (F.col("n_c") > 0),
            F.col("sy_t") / F.col("n_t") - F.col("sy_c") / F.col("n_c"),
        ).alias("diff"),
    )
    nn = d.agg(F.sum("n_s").cast("long").alias("n"))
    ate = d.crossJoin(F.broadcast(nn)).agg(
        F.sum(
            F.when(
                F.col("diff").isNotNull(),
                F.floor(
                    F.col("n_s").cast("double") / F.col("n") * F.col("diff")
                    * 1000000.0
                ).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("atemic")
    )
    return d.crossJoin(F.broadcast(ate)).select(
        "stratum",
        "n_s",
        "n_t",
        "n_c",
        "mean_t",
        "mean_c",
        "diff",
        (F.col("atemic").cast("double") / 1000000.0).alias(
            "ate_post_stratified"
        ),
    )


@_q(
    "fairness_selection_parity",
    """
    WITH g AS (SELECT lang,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_selected
               FROM documents GROUP BY lang),
    r AS (SELECT lang, n_docs, n_selected,
                 n_selected * 1000000 // n_docs AS rate_ppm
          FROM g),
    mx AS (SELECT MAX(rate_ppm) AS max_ppm FROM r)
    SELECT lang, n_docs, n_selected,
           CAST(rate_ppm AS BIGINT) AS rate_ppm,
           CAST(rate_ppm * 1000000 // mx.max_ppm AS BIGINT) AS di_ppm,
           CAST(CASE WHEN rate_ppm * 1000000 // mx.max_ppm < 800000
                     THEN 1 ELSE 0 END AS BIGINT) AS below_80pct
    FROM r CROSS JOIN mx
    """,
)
def fairness_selection_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-rate parity of a curation filter (n_chars >= 300) per
    language: the pass rate, the disparate-impact ratio against the
    most-selected language, and the four-fifths flag (ratio < 0.8).

    Scale shape: one scan collapsing to a per-group aggregate, one broadcast
    scalar for the max rate; all-integer ppm arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") >= 300, 1).otherwise(0))
        .cast("long")
        .alias("n_selected"),
    )
    r = g.select(
        "lang",
        "n_docs",
        "n_selected",
        F.expr("n_selected * 1000000 DIV n_docs").alias("rate_ppm"),
    )
    mx = r.agg(F.max("rate_ppm").alias("max_ppm"))
    di = F.expr("rate_ppm * 1000000 DIV max_ppm")
    return r.crossJoin(F.broadcast(mx)).select(
        "lang",
        "n_docs",
        "n_selected",
        "rate_ppm",
        di.alias("di_ppm"),
        F.when(di < 800000, 1).otherwise(0).cast("long").alias("below_80pct"),
    )
