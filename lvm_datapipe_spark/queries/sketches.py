"""Sketch queries: HLL, count-min, Bloom, KMV and bottom-k sketches, and the
sampled estimators, each with its exact DuckDB replay."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import lineitem_row_count, load_table
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators import bloom as B
from lvm_datapipe_spark.operators.aggregates import (
    cm_sketch, decimal_sum, exact_percentiles_driver, quantile_sketch, sketch_median
)
from lvm_datapipe_spark.queries._shared import _dsum, _md5_u32, _q


# Approximate distinct (HLL) — engine-specific sketches can't hash-match an
# oracle; rows-only check + the exact dual (agg_distinct_count) is oracle-
# checked above.
@_q("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct users per event_type
    (approx_count_distinct, rsd=0.02) next to the exact row count -- the
    no-rescan distinct pattern."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.count(F.lit(1)).alias("n"),
    )


@_q(
    "bloom_pruned_semi_join",
    f"""
    SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           {_dsum('o.o_totalprice')} AS total_price
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey
                    AND c.c_acctbal > CAST(9500.0 AS DOUBLE))
    GROUP BY o.o_orderstatus
    """,
)
def bloom_pruned_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join pruning (operators/bloom.py): orders from
    very-high-balance customers, the fact scan pre-filtered by a 64 Kbit
    bitmap over the qualifying keys; the exact semi join re-checks false
    positives, so the result is the plain EXISTS."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderstatus", "o_totalprice"
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9500.0)
        .select("c_custkey")
    )
    return (
        B.bloom_prefiltered_semi_join(orders, dim)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            A.decimal_sum("o_totalprice").alias("total_price"),
        )
    )


@_q(
    "sketch_median_value",
    """
    WITH rng AS (
      SELECT event_type,
             min(CAST(value AS DOUBLE)) AS mn,
             max(CAST(value AS DOUBLE)) AS mx,
             count(*) AS n
      FROM events GROUP BY event_type),
    b AS (
      SELECT e.event_type, rng.mn, rng.n,
             (rng.mx - rng.mn) / 64.0 AS width,
             CASE WHEN (rng.mx - rng.mn) / 64.0 = 0.0 THEN 0
                  ELSE least(63, CAST(floor((CAST(e.value AS DOUBLE) - rng.mn)
                                            / ((rng.mx - rng.mn) / 64.0))
                                 AS INTEGER))
             END AS bin
      FROM events e JOIN rng ON e.event_type = rng.event_type),
    sk AS (SELECT event_type, bin, mn, width, n, count(*) AS c
           FROM b GROUP BY event_type, bin, mn, width, n),
    cum AS (SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM sk),
    hit AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY bin) AS _r
            FROM cum WHERE cum >= (n + 1) // 2)
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CASE WHEN width = 0.0 THEN mn
                ELSE mn + (CAST(bin AS DOUBLE) + 0.5) * width END AS median_est
    FROM hit WHERE _r = 1
    """,
)
def sketch_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median of ``value`` from the mergeable fixed-bin quantile
    sketch (``aggregates.quantile_sketch`` / ``sketch_median``)."""
    ev = load_table(spark, sf_dir, "events")
    sk = quantile_sketch(ev)
    return sketch_median(sk)


def _cm_side_sql(table: str, key: str) -> str:
    arms = []
    for d in range(A.CM_DEPTH):
        h = (f"('0x' || substr(md5('{A.CM_SALT}{d}:' || CAST({key} AS VARCHAR)), "
             f"1, 8))::BIGINT % {A.CM_WIDTH}")
        arms.append(
            f"SELECT {d} AS d, {h} AS bucket FROM {table}"
        )
    return (
        "SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt FROM ("
        + " UNION ALL ".join(arms)
        + ") GROUP BY d, bucket"
    )


@_q(
    "join_size_estimate_cm",
    f"""
    WITH sa AS ({_cm_side_sql('events', 'user_id')}),
    sb AS ({_cm_side_sql('orders', 'o_custkey')}),
    ip AS (SELECT sa.d, CAST(SUM(sa.cnt * sb.cnt) AS BIGINT) AS est
           FROM sa JOIN sb ON sa.d = sb.d AND sa.bucket = sb.bucket
           GROUP BY sa.d),
    est AS (SELECT CAST(min(est) AS BIGINT) AS est_join_size FROM ip),
    ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_join_size
           FROM events e JOIN orders o ON o.o_custkey = e.user_id)
    SELECT est.est_join_size, ex.exact_join_size,
           CAST(est.est_join_size AS DOUBLE)
             / CAST(ex.exact_join_size AS DOUBLE) AS overcount_ratio
    FROM est CROSS JOIN ex
    """,
)
def join_size_estimate_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from count-min sketches: |A join B on k|
    is estimated as min over rows d of sum_b cntA[d][b]*cntB[d][b].

    Scale shape: each sketch is one scan + a (d, bucket)-keyed count bounded
    by depth x width cells; the inner product joins two 4x1024-cell tables.
    The exact side is a keyed equi-join used as the verification baseline,
    not part of the production read path."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    sa = cm_sketch(ev.select(F.col("user_id")), "user_id")
    sb = cm_sketch(o.select(F.col("o_custkey")), "o_custkey")
    ip = (
        sa.alias("sa")
        .join(sb.alias("sb"), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("sa.cnt") * F.col("sb.cnt")).cast("long").alias("est"))
    )
    est = ip.agg(F.min("est").cast("long").alias("est_join_size"))
    ex = (
        ev.join(o, ev.user_id == o.o_custkey)
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(ex)).select(
        "est_join_size",
        "exact_join_size",
        (
            F.col("est_join_size").cast("double")
            / F.col("exact_join_size").cast("double")
        ).alias("overcount_ratio"),
    )


@_q(
    "capture_recapture_users",
    """
    WITH d1 AS (SELECT DISTINCT user_id FROM events
                WHERE strftime(CAST(ts AS DATE), '%Y-%m-%d') = '2024-01-05'),
    d2 AS (SELECT DISTINCT user_id FROM events
           WHERE strftime(CAST(ts AS DATE), '%Y-%m-%d') = '2024-01-20'),
    s AS (
      SELECT (SELECT CAST(count(*) AS BIGINT) FROM d1) AS n1,
             (SELECT CAST(count(*) AS BIGINT) FROM d2) AS n2,
             (SELECT CAST(count(*) AS BIGINT)
              FROM d1 JOIN d2 ON d2.user_id = d1.user_id) AS m)
    SELECT n1, n2, m,
           CASE WHEN m > 0
                THEN CAST(n1 * n2 AS DOUBLE) / m
                ELSE CAST(0.0 AS DOUBLE) END AS lincoln_petersen,
           CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0 AS chapman
    FROM s
    """,
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture estimate of the user population from two single-day
    samples (Jan 5, Jan 20): Lincoln-Petersen n1*n2/m and Chapman
    (n1+1)(n2+1)/(m+1) - 1.

    Scale shape: two day-filtered distinct sets (partition-prunable on a
    date-partitioned layout), one keyed semi-join for the overlap, three
    scalar counts broadcast into a single output row."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    d1 = ev.filter(day == "2024-01-05").select("user_id").distinct()
    d2 = ev.filter(day == "2024-01-20").select("user_id").distinct()
    n1 = d1.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = d2.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    m = (
        d1.join(d2.withColumnRenamed("user_id", "_u"),
                F.col("user_id") == F.col("_u"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    s = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    return s.select(
        "n1",
        "n2",
        "m",
        F.when(
            F.col("m") > 0,
            (F.col("n1") * F.col("n2")).cast("double") / F.col("m"),
        )
        .otherwise(F.lit(0.0))
        .alias("lincoln_petersen"),
        (
            ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
            / (F.col("m") + 1)
            - F.lit(1.0)
        ).alias("chapman"),
    )


#: Bloom FPR calibration design point: small m so the empirical FPR is
#: measurably nonzero at oracle scales (the production default in
#: operators/bloom.py is 64 Kbit; FPR depends only on (m, k, n_keys), so the
#: measurement transfers to any same-ratio configuration).
_BLOOM_CAL_M = 1024
_BLOOM_CAL_K = 3


def _bloom_pos_sql(key_sql: str, i: int) -> str:
    """Portable md5 bit position (the oracle twin of bloom.py's xxhash64
    positions — same (m, k) geometry, engine-portable hash)."""
    # the 8-hex-digit value is always non-negative, so plain % == pmod
    return (
        f"(('0x' || substr(md5(CAST({key_sql} AS VARCHAR) || '#{i}'), 1, 8))"
        f"::BIGINT % {_BLOOM_CAL_M})"
    )


@_q(
    "bloom_fpr_calibration",
    f"""
    WITH mem AS (SELECT c_custkey FROM customer WHERE c_acctbal > 9000),
    bits AS (
      SELECT DISTINCT p FROM mem
      CROSS JOIN (SELECT unnest(range(0, {_BLOOM_CAL_K})) AS i) h
      CROSS JOIN LATERAL (SELECT CASE h.i
        {" ".join(f"WHEN {i} THEN {_bloom_pos_sql('c_custkey', i)}" for i in range(_BLOOM_CAL_K))}
        END AS p) q),
    probe AS (SELECT c_custkey FROM customer WHERE c_acctbal <= 9000),
    probed AS (
      SELECT pr.c_custkey,
             CAST(SUM(CASE WHEN b.p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit
      FROM probe pr
      CROSS JOIN (SELECT unnest(range(0, {_BLOOM_CAL_K})) AS i) h
      CROSS JOIN LATERAL (SELECT CASE h.i
        {" ".join(f"WHEN {i} THEN {_bloom_pos_sql('pr.c_custkey', i)}" for i in range(_BLOOM_CAL_K))}
        END AS p) q
      LEFT JOIN bits b ON b.p = q.p
      GROUP BY pr.c_custkey)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM mem) AS n_members,
           (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN n_hit = {_BLOOM_CAL_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CASE WHEN count(*) > 0
                THEN CAST(SUM(CASE WHEN n_hit = {_BLOOM_CAL_K} THEN 1 ELSE 0
                              END) AS DOUBLE) / count(*)
                ELSE CAST(0.0 AS DOUBLE) END AS empirical_fpr
    FROM probed
    """,
)
def bloom_fpr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical false-positive rate of the Bloom join filter: a (m=1024,
    k=3) bitmap over the qualifying dim keys, probed with every
    non-qualifying key.

    Scale shape: the bit set is bounded by m (1024) regardless of key count
    — broadcastable by construction; probes fan out k rows each (narrow),
    one broadcast join against the bit set, one keyed aggregate. The
    production build in operators/bloom.py aggregates the same geometry into
    m/64 words with map-side bit_or partials."""
    c = load_table(spark, sf_dir, "customer")

    def pos(key: F.Column, i: int) -> F.Column:
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(key) if isinstance(key, str) else key,
                            F.lit(f"#{i}"),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(_BLOOM_CAL_M),
        )

    mem = c.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").cast("string").alias("k")
    )
    bits = (
        mem.select(
            F.explode(
                F.array(*[pos(F.col("k"), i) for i in range(_BLOOM_CAL_K)])
            ).alias("p")
        )
        .distinct()
    )
    probe = c.filter(F.col("c_acctbal") <= 9000).select(
        F.col("c_custkey").alias("key"), F.col("c_custkey").cast("string").alias("k")
    )
    probed = (
        probe.select(
            "key",
            F.explode(
                F.array(*[pos(F.col("k"), i) for i in range(_BLOOM_CAL_K)])
            ).alias("p"),
        )
        .join(F.broadcast(bits.withColumnRenamed("p", "_bp")),
              F.col("p") == F.col("_bp"), "left")
        .groupBy("key")
        .agg(
            F.sum(F.when(F.col("_bp").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_hit")
        )
    )
    n_mem = mem.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    fp = F.sum(
        F.when(F.col("n_hit") == _BLOOM_CAL_K, 1).otherwise(0)
    ).cast("long")
    s = probed.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        fp.alias("n_false_positives"),
    )
    return (
        n_mem.crossJoin(F.broadcast(n_bits))
        .crossJoin(F.broadcast(s))
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            "n_false_positives",
            F.when(
                F.col("n_probes") > 0,
                F.col("n_false_positives").cast("double") / F.col("n_probes"),
            )
            .otherwise(F.lit(0.0))
            .alias("empirical_fpr"),
        )
    )


@_q(
    "sketch_cms_user_counts",
    """
    WITH d4 AS (SELECT unnest(range(0, 4)) AS d),
    upd AS (
      SELECT d4.d,
             ('0x' || substr(md5('cms' || CAST(d4.d AS VARCHAR) || '|'
                                 || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 256 AS bucket
      FROM events CROSS JOIN d4),
    cms AS (
      SELECT d, bucket, CAST(count(*) AS BIGINT) AS c
      FROM upd GROUP BY d, bucket),
    tru AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_count
      FROM events GROUP BY user_id),
    top AS (
      SELECT user_id, true_count FROM tru
      ORDER BY true_count DESC, user_id LIMIT 20),
    probes AS (
      SELECT top.user_id, top.true_count, d4.d,
             ('0x' || substr(md5('cms' || CAST(d4.d AS VARCHAR) || '|'
                                 || CAST(top.user_id AS VARCHAR)), 1, 8))::BIGINT
               % 256 AS bucket
      FROM top CROSS JOIN d4)
    SELECT p.user_id, p.true_count,
           CAST(MIN(cms.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(cms.c) - p.true_count AS BIGINT) AS overestimate
    FROM probes p JOIN cms ON cms.d = p.d AND cms.bucket = p.bucket
    GROUP BY p.user_id, p.true_count
    """,
)
def sketch_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries: each event increments one of 256
    counters in each of 4 md5-salted rows, and a user's estimate is the min
    over its 4 counters (never below the true count).

    Scale shape: the 4x fan-out collapses map-side to <= 1024 counter cells
    before the shuffle, one exact per-user aggregate gives the ground truth,
    then a top-k TakeOrdered and an 80-row probe join against the counter
    table."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    d4 = spark.range(4).select(F.col("id").cast("int").alias("d"))

    def _bucket(user_col: str) -> F.Column:
        # the sampling.hash_bucket idiom inlined because the salt embeds the
        # per-depth COLUMN d (hash_bucket takes a literal string salt)
        salt = F.concat(
            F.lit("cms"), F.col("d").cast("string"), F.lit("|"),
            F.col(user_col).cast("string"),
        )
        h = F.md5(salt.cast("binary"))
        return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 256)

    upd = ev.crossJoin(F.broadcast(d4)).select("d", _bucket("user_id").alias("bucket"))
    cms = upd.groupBy("d", "bucket").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tru = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    top = tru.orderBy(F.col("true_count").desc(), "user_id").limit(20)
    probes = top.crossJoin(F.broadcast(d4)).select(
        "user_id", "true_count", "d", _bucket("user_id").alias("bucket")
    )
    return (
        probes.join(cms, ["d", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(
            F.min("c").cast("long").alias("cms_estimate"),
            (F.min("c") - F.col("true_count")).cast("long").alias("overestimate"),
        )
    )


def _hll32_sql() -> str:
    """DuckDB replay of the 32-register md5 HyperLogLog intersection.

    Every float the estimator touches is EXACT in IEEE doubles: register
    weights are dyadic rationals 2^-r (emitted as literals generated from
    the same python loop that builds the Spark CASE chain), and the
    32-term register sums span ~40 bits of precision — well inside the
    53-bit mantissa — so summation order cannot change bits and the
    whole estimate is FULL-oracle portable, unlike the engine-native
    Datasketches path ([[approx_distinct_users]], rows-only by design).
    """
    rank_arms = " ".join(
        f"WHEN rem >= {1 << (26 - i)} THEN {i + 1}" for i in range(27)
    )
    w_arms = {
        f"m{side}": " ".join(
            f"WHEN {col} = {r} THEN CAST({2.0 ** -r!r} AS DOUBLE)"
            for r in range(29)
        )
        for side, col in (("a", "ma"), ("b", "mb"), ("u", "mu"))
        for col in (f"m{side}",)
    }
    return f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '|'
                 || CAST(CAST(ts AS DATE) AS VARCHAR)), 1, 8))::BIGINT AS h32
      FROM events),
    hr AS (
      SELECT event_type, h32 % 32 AS bucket,
             CAST(floor(CAST(h32 AS DOUBLE) / 32.0) AS BIGINT) AS rem
      FROM h),
    regs AS (
      SELECT event_type, bucket,
             MAX(CASE {rank_arms} ELSE 28 END) AS mx
      FROM hr GROUP BY event_type, bucket),
    ty AS (SELECT DISTINCT event_type FROM events),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM ty a JOIN ty b ON a.event_type < b.event_type),
    dense AS (
      SELECT pairs.ta, pairs.tb, g.bucket,
             COALESCE(ra.mx, 0) AS ma, COALESCE(rb.mx, 0) AS mb,
             GREATEST(COALESCE(ra.mx, 0), COALESCE(rb.mx, 0)) AS mu
      FROM pairs CROSS JOIN (SELECT unnest(range(0, 32)) AS bucket) g
      LEFT JOIN regs ra ON ra.event_type = pairs.ta AND ra.bucket = g.bucket
      LEFT JOIN regs rb ON rb.event_type = pairs.tb AND rb.bucket = g.bucket),
    sums AS (
      SELECT ta, tb,
             SUM(CASE {w_arms["ma"]} END) AS sa,
             SUM(CASE {w_arms["mb"]} END) AS sb,
             SUM(CASE {w_arms["mu"]} END) AS su
      FROM dense GROUP BY ta, tb)
    SELECT ta, tb,
           0.697 * 1024.0 / sa AS est_a,
           0.697 * 1024.0 / sb AS est_b,
           0.697 * 1024.0 / su AS est_union,
           (0.697 * 1024.0 / sa + 0.697 * 1024.0 / sb)
             - 0.697 * 1024.0 / su AS est_intersection
    FROM sums
    """


@_q("sketch_hll_audience_intersection", _hll32_sql())
def sketch_hll_audience_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from mergeable HyperLogLog sketches: per event-type
    pair, the estimated distinct active user-days of each type, of their
    union (element-wise MAX of registers) and of their intersection by
    inclusion-exclusion.

    Scale shape: one scan to (type, bucket) max-rank registers (a 32-row
    sketch per type, partial-aggregatable map-side), then all pair math on
    |types|^2 x 32 metadata rows; no distinct, no pairwise user join
    anywhere."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id", "ts")
    key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.col("ts").cast("date").cast("string"),
    )
    h32 = F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10).cast(
        "bigint"
    )
    rem = F.floor(h32.cast("double") / 32.0).cast("bigint")
    rank: F.Column = F.lit(28)
    for i in reversed(range(27)):  # build the CASE ladder bottom-up
        rank = F.when(rem >= (1 << (26 - i)), i + 1).otherwise(rank)
    hr = ev.select(
        "event_type", (h32 % 32).alias("bucket"), rank.alias("rank")
    )
    regs = hr.groupBy("event_type", "bucket").agg(F.max("rank").alias("mx"))
    ty = ev.select("event_type").distinct()
    pairs = (
        ty.select(F.col("event_type").alias("ta"))
        .join(
            ty.select(F.col("event_type").alias("tb")),
            F.col("ta") < F.col("tb"),
        )
    )
    g = spark.range(32).select(F.col("id").cast("bigint").alias("bucket"))
    ra = regs.select(
        F.col("event_type").alias("_ta"),
        F.col("bucket").alias("_ba"),
        F.col("mx").alias("_mxa"),
    )
    rb = regs.select(
        F.col("event_type").alias("_tb"),
        F.col("bucket").alias("_bb"),
        F.col("mx").alias("_mxb"),
    )
    dense = (
        pairs.crossJoin(F.broadcast(g))
        .join(
            ra,
            (F.col("_ta") == F.col("ta")) & (F.col("_ba") == F.col("bucket")),
            "left",
        )
        .join(
            rb,
            (F.col("_tb") == F.col("tb")) & (F.col("_bb") == F.col("bucket")),
            "left",
        )
        .select(
            "ta",
            "tb",
            F.coalesce(F.col("_mxa"), F.lit(0)).alias("ma"),
            F.coalesce(F.col("_mxb"), F.lit(0)).alias("mb"),
            F.greatest(
                F.coalesce(F.col("_mxa"), F.lit(0)),
                F.coalesce(F.col("_mxb"), F.lit(0)),
            ).alias("mu"),
        )
    )

    def _w(col: str) -> F.Column:
        expr = F.lit(None).cast("double")
        for r in reversed(range(29)):
            expr = F.when(F.col(col) == r, F.lit(2.0 ** -r)).otherwise(expr)
        return expr

    sums = dense.groupBy("ta", "tb").agg(
        F.sum(_w("ma")).alias("sa"),
        F.sum(_w("mb")).alias("sb"),
        F.sum(_w("mu")).alias("su"),
    )
    est = lambda s: F.lit(0.697) * F.lit(1024.0) / F.col(s)  # noqa: E731
    return sums.select(
        "ta",
        "tb",
        est("sa").alias("est_a"),
        est("sb").alias("est_b"),
        est("su").alias("est_union"),
        ((est("sa") + est("sb")) - est("su")).alias("est_intersection"),
    )


@_q(
    "ht_sampled_revenue_estimate",
    f"""
    WITH pop AS (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             CAST(floor(least(1.0, greatest(0.01,
                  l_extendedprice / 100000.0)) * 1000000.0) AS BIGINT)
               AS pmic,
             ('0x' || substr(md5('ht' || CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)), 1, 8))::BIGINT
               % 1000000 AS bucket
      FROM lineitem),
    s AS (SELECT *, CAST(pmic AS DOUBLE) / 1000000.0 AS pi
          FROM pop WHERE bucket < pmic),
    est AS (
      SELECT CAST(count(*) AS BIGINT) AS n_sampled,
             CAST(SUM(CAST(floor(l_extendedprice / pi * 1000.0) AS BIGINT))
                  AS BIGINT) AS htmic,
             CAST(SUM(CAST(floor((1.0 - pi) / (pi * pi)
                  * l_extendedprice * l_extendedprice) AS BIGINT))
                  AS BIGINT) AS varint
      FROM s),
    tru AS (
      SELECT CAST(count(*) AS BIGINT) AS n_population,
             {_dsum('l_extendedprice')} AS true_total
      FROM pop)
    SELECT tru.n_population, est.n_sampled, tru.true_total,
           CAST(est.htmic AS DOUBLE) / 1000.0 AS ht_estimate,
           (CAST(est.htmic AS DOUBLE) / 1000.0 - tru.true_total)
             / tru.true_total AS rel_error,
           sqrt(CAST(est.varint AS DOUBLE)) AS ht_se
    FROM est CROSS JOIN tru
    """,
)
def ht_sampled_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimate under deterministic Poisson PPS sampling:
    inclusion probability pi ~ price/1e5 clamped to [0.01, 1], decided by
    the md5 bucket against floor(pi * 1e6), with total sum(y/pi) and
    variance sum((1-pi)/pi^2 * y^2).

    Scale shape: one scan computes pi and the hash, the sample filter pushes
    to the scan, and BOTH aggregates are map-side-combinable scalars — the
    whole estimator is one pass, no shuffle beyond the final 1-row merge."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    pmic = F.floor(
        F.least(
            F.lit(1.0),
            F.greatest(F.lit(0.01), F.col("l_extendedprice") / 100000.0),
        )
        * 1000000.0
    ).cast("long")
    key = F.concat(
        F.lit("ht"),
        F.col("l_orderkey").cast("string"),
        F.lit("|"),
        F.col("l_linenumber").cast("string"),
    )
    bucket = (
        F.conv(F.substring(F.md5(key.cast("binary")), 1, 8), 16, 10).cast(
            "bigint"
        )
        % 1000000
    )
    pop = li.select(
        "l_extendedprice", pmic.alias("pmic"), bucket.alias("bucket")
    )
    s = pop.filter(F.col("bucket") < F.col("pmic")).withColumn(
        "pi", F.col("pmic").cast("double") / 1000000.0
    )
    est = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum(
            F.floor(F.col("l_extendedprice") / F.col("pi") * 1000.0).cast("long")
        )
        .cast("long")
        .alias("htmic"),
        F.sum(
            F.floor(
                (1.0 - F.col("pi"))
                / (F.col("pi") * F.col("pi"))
                * F.col("l_extendedprice")
                * F.col("l_extendedprice")
            ).cast("long")
        )
        .cast("long")
        .alias("varint"),
    )

    tru = pop.agg(
        F.count(F.lit(1)).cast("long").alias("n_population"),
        decimal_sum("l_extendedprice").alias("true_total"),
    )
    ht = F.col("htmic").cast("double") / 1000.0
    return est.crossJoin(F.broadcast(tru)).select(
        "n_population",
        "n_sampled",
        "true_total",
        ht.alias("ht_estimate"),
        ((ht - F.col("true_total")) / F.col("true_total")).alias("rel_error"),
        F.sqrt(F.col("varint").cast("double")).alias("ht_se"),
    )


@_q(
    "sketch_bottomk_quantile_sample",
    """
    WITH s AS (SELECT l_extendedprice
               FROM lineitem
               ORDER BY md5('kmv' || l_orderkey || '-' || l_linenumber),
                        l_orderkey, l_linenumber
               LIMIT 256),
    e AS (SELECT quantile_cont(l_extendedprice, 0.5) AS p50,
                 quantile_cont(l_extendedprice, 0.9) AS p90,
                 quantile_cont(l_extendedprice, 0.99) AS p99
          FROM s),
    x AS (SELECT quantile_cont(l_extendedprice, 0.5) AS p50,
                 quantile_cont(l_extendedprice, 0.9) AS p90,
                 quantile_cont(l_extendedprice, 0.99) AS p99
          FROM lineitem)
    SELECT CAST(256 AS BIGINT) AS k,
           e.p50 AS est_p50, e.p90 AS est_p90, e.p99 AS est_p99,
           x.p50 AS exact_p50, x.p90 AS exact_p90, x.p99 AS exact_p99
    FROM e CROSS JOIN x
    """,
)
def sketch_bottomk_quantile_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable bottom-k quantile sketch: the k rows with the smallest md5
    rank, a deterministic uniform sample whose union merges by taking the
    bottom-k again.

    Scale shape: one scan with a per-partition top-k (k rows out per
    partition), plus the exact-percentile aggregate for the comparison
    column (the one deliberately-global piece, itself a partial-merge
    aggregate, not a sort)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    rk = F.md5(
        F.concat(
            F.lit("kmv"),
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
        ).cast("binary")
    )
    sample = (
        li.select("l_extendedprice", rk.alias("rk"), "l_orderkey", "l_linenumber")
        .orderBy("rk", "l_orderkey", "l_linenumber")
        .limit(256)
    )
    # one array-percentile per side instead of three scalar aggregates: the
    # exact side's three separate calls each built their own value->count
    # map over the full column — the query's dominant cost; the array form
    # shares one map and interpolates identically (see agg_percentiles)
    est = sample.agg(
        F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").alias("_e")
    ).select(
        F.col("_e")[0].alias("est_p50"),
        F.col("_e")[1].alias("est_p90"),
        F.col("_e")[2].alias("est_p99"),
    )
    # the exact comparison column uses the size-gated driver order-statistic
    # kernel (bit-identical interpolation; see range_partition_boundaries and
    # aggregates.exact_percentiles_driver) instead of the full-column
    # value-map aggregate; above the gate the distributed aggregate runs

    xb = exact_percentiles_driver(
        li, "l_extendedprice", [0.5, 0.9, 0.99],
        row_bound=lineitem_row_count(sf_dir),
    )
    if xb is not None:
        exact = spark.createDataFrame(
            [tuple(xb)], "exact_p50 double, exact_p90 double, exact_p99 double"
        )
    else:
        exact = li.agg(
            F.expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").alias("_x")
        ).select(
            F.col("_x")[0].alias("exact_p50"),
            F.col("_x")[1].alias("exact_p90"),
            F.col("_x")[2].alias("exact_p99"),
        )
    return est.crossJoin(F.broadcast(exact)).select(
        F.lit(256).cast("long").alias("k"),
        "est_p50",
        "est_p90",
        "est_p99",
        "exact_p50",
        "exact_p90",
        "exact_p99",
    )


@_q(
    "sketch_kmv_distinct",
    """
    WITH h AS (SELECT DISTINCT
                 ('0x' || substr(md5('kmv' || user_id), 1, 8))::BIGINT AS hv
               FROM events),
    s AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
    kth AS (SELECT MAX(hv) AS hk, count(*) AS k FROM s),
    tru AS (SELECT count(DISTINCT user_id) AS true_distinct FROM events)
    SELECT CAST(kth.k AS BIGINT) AS k,
           CAST(kth.hk AS BIGINT) AS kth_hash,
           CAST(CASE WHEN kth.k < 256 THEN kth.k
                     ELSE (kth.k - 1) * 4294967296 // kth.hk
                END AS BIGINT) AS est_distinct,
           CAST(tru.true_distinct AS BIGINT) AS true_distinct
    FROM kth CROSS JOIN tru
    """,
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count estimator: keep the k=256 smallest distinct 32-bit
    key hashes and estimate |D| = (k-1) * 2^32 / h_(k).

    Scale shape: one scan -> distinct-hash aggregate (map-side partial) ->
    per-partition top-k merge (TakeOrdered, no global sort) -> 1-row
    scalars; the exact COUNT(DISTINCT) comparison column is the one
    deliberately-global piece."""
    ev = load_table(spark, sf_dir, "events")
    hv = _md5_u32(F.lit("kmv"), F.col("user_id").cast("string"))
    s = ev.select(hv.alias("hv")).distinct().orderBy("hv").limit(256)
    kth = s.agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("k"))
    tru = ev.agg(F.count_distinct("user_id").alias("true_distinct"))
    return kth.crossJoin(F.broadcast(tru)).select(
        F.col("k").cast("long").alias("k"),
        F.col("hk").cast("long").alias("kth_hash"),
        F.when(F.col("k") < 256, F.col("k"))
        .otherwise(F.expr("(k - 1) * 4294967296 DIV hk"))
        .cast("long")
        .alias("est_distinct"),
        F.col("true_distinct").cast("long").alias("true_distinct"),
    )
