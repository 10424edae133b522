"""TPC-H and relational queries: filters, joins, aggregates, windows, sets
and the data-quality audits over the TPC-H-ish tables."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import lineitem_row_count, load_table
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators import relational as R
from lvm_datapipe_spark.operators import validate as V
from lvm_datapipe_spark.operators.aggregates import (
    agg_state, exact_percentiles_driver, merge_agg_state
)
from lvm_datapipe_spark.operators.sampling import hash_bucket
from lvm_datapipe_spark.operators.scd import temporal_join
from lvm_datapipe_spark.queries._shared import _DECILE_PS, _dsum, _q


# ---------------------------------------------------------------------------
# Flagship: TPC-H Q1-style pricing summary (the reference's corpus-stats
# analog at scale: one full-table scan + 4-way aggregate, analyze_vids.py:42).
# ---------------------------------------------------------------------------


@_q(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum('l_quantity')} AS sum_qty,
           {_dsum('l_extendedprice')} AS sum_base_price,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {_dsum('l_quantity')} / COUNT(l_quantity) AS avg_qty,
           {_dsum('l_extendedprice')} / COUNT(l_extendedprice) AS avg_price,
           {_dsum('l_discount')} / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary -- the flagship scan+agg: decimal-exact
    sums and means of quantity, price, discounted price and charge per
    (returnflag, linestatus) after the ship-date filter."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("2000-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            A.decimal_sum("l_quantity").alias("sum_qty"),
            A.decimal_sum("l_extendedprice").alias("sum_base_price"),
            A.decimal_sum(disc_price).alias("sum_disc_price"),
            A.decimal_sum(charge).alias("sum_charge"),
            A.decimal_avg("l_quantity").alias("avg_qty"),
            A.decimal_avg("l_extendedprice").alias("avg_price"),
            A.decimal_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# F1 — pushdown filter before the expensive stage (coca_caption.py:72)
# ---------------------------------------------------------------------------


@_q(
    "f1_duration_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem WHERE l_quantity > 45.0
    """,
)
def f1_duration_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duration predicate (F1): keep rows with l_quantity > 45.0, the
    reference's minimum-clip-duration gate as a filter Catalyst pushes to
    the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_quantity") > 45.0).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


# ---------------------------------------------------------------------------
# F2/J1 — resume anti-join (aesthetic_score.py:98): orders with no 'R'
# lineitem are "not yet done".
# ---------------------------------------------------------------------------


@_q(
    "f2_resume_anti_join",
    """
    SELECT o_orderkey, o_totalprice, o_orderstatus
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    """,
)
def f2_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resume anti-join (F2/J1): drop already-processed keys via LEFT ANTI
    join so a re-run touches only unfinished work."""
    orders = load_table(spark, sf_dir, "orders")
    done = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    todo = orders.join(done.select("o_orderkey").distinct(), on="o_orderkey", how="left_anti")
    return todo.select("o_orderkey", "o_totalprice", "o_orderstatus")


# ---------------------------------------------------------------------------
# A1 — find_breakpoint (scene_cut.py:175-187): per-"video" duration
# completeness; orders=videos, lineitems=clips.
# ---------------------------------------------------------------------------


@_q(
    "a1_breakpoint",
    f"""
    WITH per AS (
      SELECT l.l_orderkey AS o_orderkey,
             MIN(o.o_totalprice) AS video_duration,
             {_dsum('l.l_extendedprice')} AS clips_duration
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY l.l_orderkey)
    SELECT o_orderkey, video_duration, clips_duration
    FROM per WHERE video_duration - clips_duration < 0.5
    """,
)
def a1_breakpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-video duration completeness (A1 find_breakpoint): flag videos
    whose clip durations nearly sum to the video duration (gap < 0.5);
    orders play videos, lineitems play clips."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    joined = li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey).select(
        "o_orderkey",
        F.col("o_totalprice").alias("video_duration"),
        F.col("l_extendedprice").alias("clip_duration"),
    )
    return A.find_breakpoint(joined)


# ---------------------------------------------------------------------------
# J2 — score-enrichment join (aesthetic_score.py:130-132): broadcast dim join
# + aggregate.
# ---------------------------------------------------------------------------


@_q(
    "j2_enrichment_join",
    f"""
    SELECT p.p_brand,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j2_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-enrichment join (J2): attach the part brand to every lineitem
    through an explicitly broadcast dimension table -- zero shuffle on the
    fact side."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            A.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# J4 — dimension-chain join (clip→video→category analog): revenue per region,
# TPC-H Q5 shape. All dims broadcast; the only shuffle is the final agg.
# ---------------------------------------------------------------------------


@_q(
    "j4_region_revenue",
    f"""
    SELECT r.r_name,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def j4_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimensional join chain (J4): lineitem -> orders -> customer ->
    nation -> region with size-gated broadcasts (exactly-2-hints plan-
    tested), revenue per region."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    # nation/region are constant-size dims — hint them.  customer GROWS
    # linearly with scale factor (~15 M rows at sf100): a forced broadcast
    # hint would override Spark's size check and OOM at 100× scale, so its
    # join is size-gated (planner stats + AQE pick broadcast vs shuffled
    # join) — asserted hint-free in tests/test_plan_quality.py.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            A.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# A5 — corpus stats (analyze_vids.py:42)
# ---------------------------------------------------------------------------


@_q(
    "a5_corpus_stats",
    f"""
    SELECT {_dsum('l_extendedprice')} AS total,
           {_dsum('l_extendedprice')} / COUNT(l_extendedprice) AS mean,
           MIN(l_extendedprice) AS min,
           MAX(l_extendedprice) AS max,
           COUNT(*) AS n
    FROM lineitem
    """,
)
def a5_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus summary stats (A5, reference analyze_vids.py:42): total /
    mean / min / max / count over a value column, with order-stable
    decimal_sum so the float total is bit-portable to the oracle."""
    return A.corpus_stats(load_table(spark, sf_dir, "lineitem"), "l_extendedprice")


# ---------------------------------------------------------------------------
# A6 — histogram with custom buckets (analyze_vids.py:43-51)
# ---------------------------------------------------------------------------

_QTY_BINS = [0.0, 5.0, 10.0, 20.0, 30.0, 40.0, 45.0]


@_q(
    "a6_histogram",
    """
    SELECT CASE
             WHEN l_quantity >= 0.0 AND l_quantity < 5.0 THEN 0
             WHEN l_quantity >= 5.0 AND l_quantity < 10.0 THEN 1
             WHEN l_quantity >= 10.0 AND l_quantity < 20.0 THEN 2
             WHEN l_quantity >= 20.0 AND l_quantity < 30.0 THEN 3
             WHEN l_quantity >= 30.0 AND l_quantity < 40.0 THEN 4
             WHEN l_quantity >= 40.0 AND l_quantity < 45.0 THEN 5
             WHEN l_quantity >= 45.0 THEN 6
           END AS bucket,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_quantity >= 0.0
    GROUP BY 1
    """,
)
def a6_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram with explicit bucket edges over l_quantity (A6, reference
    analyze_vids.py:43-51), replaying numpy.histogram's half-open bins
    (last bin closed)."""
    return A.histogram(load_table(spark, sf_dir, "lineitem"), "l_quantity", _QTY_BINS)


# ---------------------------------------------------------------------------
# A7 — value counts (analyze_vids.py:11-26)
# ---------------------------------------------------------------------------


@_q(
    "a7_value_counts",
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type",
)
def a7_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value counts (A7, reference analyze_vids.py:11-26): rows per
    event_type -- pandas value_counts() as a grouped count."""
    return A.value_counts(load_table(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# A8 — count-consistency check (check_secne.py:12-27)
# ---------------------------------------------------------------------------


@_q(
    "a8_count_consistency",
    """
    SELECT r.record_count, f.file_count,
           f.file_count - r.record_count AS delta,
           (f.file_count - r.record_count) BETWEEN 1 AND 3 AS ok
    FROM (SELECT COUNT(*) AS record_count FROM orders) r,
         (SELECT COUNT(*) AS file_count FROM lineitem) f
    """,
)
def a8_count_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-count consistency check between two tables (A8, reference
    check_secne.py:12-27): file_count - record_count must land in the
    tolerated 1..3 window."""
    return A.count_consistency(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "lineitem")
    )


# ---------------------------------------------------------------------------
# A9 — derived size column (macvid.py:29-30: num_of_objects = len(objects))
# ---------------------------------------------------------------------------


@_q(
    "a9_derived_size",
    """
    SELECT CAST(len(embedding) AS INTEGER) AS n_dims, COUNT(*) AS n
    FROM embeddings GROUP BY 1
    """,
)
def a9_derived_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived size column (A9, reference macvid.py:29-30 num_of_objects =
    len(objects)): group embeddings by len(embedding)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(F.size("embedding").alias("n_dims")).groupBy("n_dims").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# C1 + window — clip-id formatting over a per-group row_number
# (scene_cut.py:82: f'{video_id}_{idx:07d}' == row_number per video)
# ---------------------------------------------------------------------------


@_q(
    "w1_clip_numbering",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
                ORDER BY l_linenumber, l_partkey) AS INTEGER) AS clip_index,
           printf('%d_%07d', l_orderkey,
                  ROW_NUMBER() OVER (PARTITION BY l_orderkey
                  ORDER BY l_linenumber, l_partkey)) AS clip_id
    FROM lineitem
    """,
)
def w1_clip_numbering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip numbering (W1): deterministic row_number per order, ordered by
    (linenumber, partkey) -- the reference's per-video clip index as a
    bounded per-key window."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("clip_index"),
        F.format_string(
            "%d_%07d", F.col("l_orderkey"), F.row_number().over(w)
        ).alias("clip_id"),
    )


# ---------------------------------------------------------------------------
# top-k per group — best_ocr_only.json materialization (macvid.py:114)
# ---------------------------------------------------------------------------


@_q(
    "w2_best_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
            ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
)
def w2_best_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group (W2): each customer's highest-value order via
    operators.relational.best_per_group -- max-struct aggregation, no rank
    window."""
    orders = load_table(spark, sf_dir, "orders")
    return R.best_per_group(orders).select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# set ops — shard union (macvid.py:152-157) and finished-set difference
# (scene_cut.py:238)
# ---------------------------------------------------------------------------


@_q(
    "set_union_shards",
    """
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def set_union_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard union (S9 replacement): UNION of the per-priority order shards
    with duplicates removed -- the per-rank metadata merge re-expressed as
    a set op."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    shard1 = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    shard2 = orders.filter(F.col("o_orderpriority") == "2-HIGH")
    return R.union_shards(shard1, shard2)


@_q(
    "set_except_finished",
    """
    SELECT p_partkey FROM part
    EXCEPT
    SELECT l_partkey AS p_partkey FROM lineitem
    """,
)
def set_except_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (F3): parts never ordered = all parts EXCEPT ordered
    parts -- distinct left-anti keyed join, the finished-set subtraction
    pattern."""
    all_parts = load_table(spark, sf_dir, "part").select("p_partkey")
    ordered = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p_partkey")
    )
    return R.finished_set_difference(all_parts, ordered)


# ---------------------------------------------------------------------------
# sort + limit — top-k (debug limiter sum_caption_llama.py:108 + orderBy)
# ---------------------------------------------------------------------------


@_q(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + LIMIT top-k: highest-value orders via
    TakeOrderedAndProject -- per-partition heaps then a driver-side
    k-merge, never a full global sort."""
    orders = load_table(spark, sf_dir, "orders")
    return R.top_k(
        orders.select("o_orderkey", "o_totalprice"),
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        10,
    )


# ---------------------------------------------------------------------------
# Grouping-set aggregates + distinct aggregation (free in Catalyst; exposed
# per SURVEY.md §2.4's note — the reference has none of these)
# ---------------------------------------------------------------------------


@_q(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation over (l_returnflag, l_linestatus): hierarchical
    subtotals plus grand total, with counts and decimal-exact quantity
    sums."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), A.decimal_sum("l_quantity").alias("sum_qty")
    )


@_q(
    "agg_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n, {_dsum('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (l_returnflag, l_linestatus): all four
    grouping sets in one pass, with counts and decimal-exact quantity sums."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), A.decimal_sum("l_quantity").alias("sum_qty")
    )


@_q(
    "agg_distinct_count",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped COUNT(DISTINCT): distinct part keys and row counts per
    return flag -- the two-level expand+agg distinct plan."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_items"),
    )


# ---------------------------------------------------------------------------
# Additional relational coverage: Q3 shape, semi join, cumulative window,
# JSON extraction (C14 on real data)
# ---------------------------------------------------------------------------


@_q(
    "q3_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → joins → aggregate → top-k."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            A.decimal_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )
    return R.top_k(
        joined.select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority"),
        [F.desc("revenue"), F.asc("l_orderkey")],
        10,
    )


@_q(
    "semi_join_high_value_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 90000.0)
    """,
)
def semi_join_high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join — the EXISTS dual of the F2 anti-join."""
    orders = load_table(spark, sf_dir, "orders")
    big = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice") > 90000.0)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return orders.join(big, "o_orderkey", "left_semi").select("o_orderkey", "o_totalprice")


@_q(
    "q5_local_supplier_volume",
    f"""
    SELECT n_name, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-table join with a LOCAL-supplier equi-condition
    (customer and supplier share a nation)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("n_name")
        .agg(
            A.decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )


@_q(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter —
    selective fact filters, customer-side enrichment, top-k with a unique
    tie-break so the LIMIT is deterministic on both engines."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01 00:00:00")))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            A.decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    return R.top_k(agg, [F.desc("revenue"), F.asc("c_custkey")], 20)


@_q(
    "w4_running_total",
    f"""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_total
    FROM orders
    """,
)
def w4_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window aggregate (running per-customer spend)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(27,6)")).over(w).cast("double").alias("running_total"),
    )


@_q(
    "agg_pivot",
    """
    SELECT date_trunc('DAY', ts) AS day,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view
    FROM events GROUP BY 1
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-day event counts spread into one column per type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("DAY", F.col("ts")))
        .groupBy("day")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .count()
        .na.fill(0, ["click", "error", "purchase", "signup", "view"])
    )


@_q(
    "agg_collect_set",
    """
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses_csv
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collecting aggregation: distinct values gathered, sorted, and joined
    into a CSV string."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("l_linestatus"))).alias("statuses_csv"),
    )


@_q(
    "time_functions",
    """
    SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day,
           CAST(isodow(ts) - 1 AS INTEGER) AS weekday,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def time_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time extraction: hour-of-day and weekday (Monday=0, the one
    numbering Spark's weekday() and DuckDB's isodow-1 agree on — dayofweek
    uses different conventions per engine)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.hour("ts").alias("hour_of_day"), F.weekday("ts").alias("weekday")
    ).agg(F.count(F.lit(1)).alias("n"))


@_q(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.25) AS p25,
           quantile_cont(l_extendedprice, 0.5) AS median,
           quantile_cont(l_extendedprice, 0.9) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (verified bit-identical to DuckDB's
    quantile_cont — both linear-interpolate on the sorted values)."""
    li = load_table(spark, sf_dir, "lineitem")
    # one array-percentile aggregate instead of three scalar ones: each
    # Percentile expression maintains its own value->count map per group, so
    # separate calls triple the aggregation state and merge cost; the array
    # form sorts one shared map and interpolates each fraction with the
    # identical code path — bit-identical values
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr(
                "percentile(l_extendedprice, array(0.25D, 0.5D, 0.9D))"
            ).alias("_ps")
        )
        .select(
            "l_returnflag",
            F.col("_ps")[0].alias("p25"),
            F.col("_ps")[1].alias("median"),
            F.col("_ps")[2].alias("p90"),
        )
    )


@_q(
    "set_intersect",
    """
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT
    SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct set semantics): orders containing both returned
    and non-returned items."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    n = li.filter(F.col("l_returnflag") == "N").select("l_orderkey")
    return r.intersect(n)


@_q(
    "w5_deciles_bucketed",
    f"""
    WITH q AS (SELECT quantile_cont(n_chars, {_DECILE_PS}) AS t FROM documents),
    b AS (SELECT d.doc_id, d.n_chars,
                 1 + {' + '.join(f'(CASE WHEN d.n_chars < t[{i + 1}] THEN 1 ELSE 0 END)' for i in range(9))} AS decile
          FROM documents d CROSS JOIN q)
    SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM b GROUP BY decile
    """,
)
def w5_deciles_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length deciles from ONE exact-percentile aggregate broadcast back
    over the corpus and a literal comparison ladder: no global NTILE, no
    SinglePartition window (plan-asserted)."""
    docs = load_table(spark, sf_dir, "documents")
    th = docs.agg(F.percentile("n_chars", F.lit(_DECILE_PS)).alias("t"))
    decile = F.lit(1)
    for i in range(9):
        decile = decile + (F.col("n_chars") < F.element_at("t", i + 1)).cast("int")
    b = docs.crossJoin(F.broadcast(th)).select(
        "doc_id", "n_chars", decile.alias("decile")
    )
    return b.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@_q(
    "agg_grouping_sets",
    f"""
    SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY GROUPING SETS ((lang), (source), (lang, source))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS: per-lang, per-source and per-(lang,source)
    aggregates in ONE pass (one Expand, one scan, one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupingSets(
            [["lang"], ["source"], ["lang", "source"]], "lang", "source"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").cast("long").alias("chars"),
        )
    )


@_q(
    "w6_rolling_hour_value",
    """
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(27,6))) OVER (
                PARTITION BY user_id
                ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS hour_value
    FROM events
    """,
)
def w6_rolling_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window: per-user value sum over the trailing hour by
    event time, with the epoch floored to seconds on both engines so
    same-second rows are frame peers."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("timestamp").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(27,6)"))
        .over(w)
        .cast("double")
        .alias("hour_value"),
    )


@_q(
    "w7_rank_functions",
    """
    SELECT doc_id, lang,
           rank() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id)
             AS rnk,
           dense_rank() OVER (PARTITION BY lang ORDER BY n_chars DESC)
             AS drnk,
           CAST(percent_rank() OVER (PARTITION BY lang
                ORDER BY n_chars DESC, doc_id) AS DOUBLE) AS prank,
           CAST(cume_dist() OVER (PARTITION BY lang
                ORDER BY n_chars DESC, doc_id) AS DOUBLE) AS cdist
    FROM documents
    """,
)
def w7_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-function window family (rank / dense_rank / percent_rank /
    cume_dist) in one keyed window pass — corpus percentile labeling
    without a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wd = Window.partitionBy("lang").orderBy(F.desc("n_chars"))
    return docs.select(
        "doc_id",
        "lang",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(wd).alias("drnk"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@_q(
    "agg_median_langs",
    """
    SELECT lang,
           CAST(median(n_chars) AS DOUBLE) AS median_chars,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def agg_median_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median (Spark's native F.median — exact interpolated,
    not approx_percentile): even-count groups interpolate (a+b)/2, the same
    single double op on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.median("n_chars").cast("double").alias("median_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@_q(
    "w8_first_last_event",
    """
    SELECT DISTINCT user_id,
           first_value(value) OVER w AS first_value_seen,
           last_value(value) OVER w AS last_value_seen,
           CAST(count(*) OVER w AS BIGINT) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def w8_first_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over the full-partition frame: one row per
    user with entry and exit values, tie-broken by event_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("value").over(w).alias("first_value_seen"),
        F.last("value").over(w).alias("last_value_seen"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).distinct()


@_q(
    "agg_conditional",
    f"""
    SELECT lang,
           CAST(count(*) FILTER (WHERE n_chars > 300) AS BIGINT) AS n_long,
           CAST(count(*) FILTER (WHERE n_chars <= 300) AS BIGINT) AS n_short,
           {_dsum('n_chars')} AS total_chars,
           CAST(coalesce(SUM(CAST(n_chars AS DECIMAL(27,6)))
                FILTER (WHERE source = 'web'), 0) AS DOUBLE) AS web_chars
    FROM documents GROUP BY lang
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER-clause semantics) in one pass:
    count_if plus a filtered decimal sum — no per-condition scans."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count_if(F.col("n_chars") > 300).alias("n_long"),
        F.count_if(F.col("n_chars") <= 300).alias("n_short"),
        A.decimal_sum("n_chars").alias("total_chars"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("source") == "web",
                    F.col("n_chars").cast("decimal(27,6)"),
                )
            ),
            F.lit(0).cast("decimal(27,6)"),
        )
        .cast("double")
        .alias("web_chars"),
    )


@_q(
    "q14_promo_revenue",
    f"""
    SELECT {_dsum("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")} AS promo_revenue,
           {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from PROMO parts, a
    size-gated fact⋈dim equi-join and a conditional decimal aggregation."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-02-01 00:00:00")))
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            A.decimal_sum(promo).alias("promo_revenue"),
            A.decimal_sum(rev).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q18_large_orders",
    f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(27,6))) > 300)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {_dsum('l.l_quantity')} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): a group-by-HAVING over the
    fact yields a small key set that semi-joins back (two keyed shuffles and
    a broadcast semi-probe)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(A.decimal_sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 300)
        .select("l_orderkey")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    agg = (
        li.join(big.withColumnRenamed("l_orderkey", "_bk"), li.l_orderkey == F.col("_bk"), "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(A.decimal_sum("l_quantity").alias("sum_qty"))
    )
    return R.top_k(agg, [F.desc("o_totalprice"), F.asc("o_orderkey")], 20)


@_q(
    "w9_lead_lag",
    """
    SELECT event_id, user_id, value,
           value - lag(value) OVER w AS delta_value,
           lead(event_type) OVER w AS next_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w9_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD over per-user event streams (value delta + next action) —
    the per-entity sequential-context primitive behind session features."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta_value"),
        F.lead("event_type").over(w).alias("next_type"),
    )


# ---------------------------------------------------------------------------
# The classic join-shape family (TPC-H Q4/Q6/Q7/Q8/Q13/Q17/Q19/Q21/Q22
# analogs on the synthetic tables).  Columns the synthetic schema lacks
# (l_commitdate/l_receiptdate/l_shipmode, c_phone, p_container) are
# substituted with semantically-equivalent predicates on existing
# columns; the JOIN SHAPES — EXISTS/NOT-EXISTS correlation, scalar
# subqueries, outer-join distributions, disjunctive pushdown — are the
# point, not the constants.
# ---------------------------------------------------------------------------


@_q(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): correlated EXISTS as a LEFT
    SEMI join against pre-filtered lineitem, with the quarter filter on
    orders pushed to the scan."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01 00:00:00")))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "q6_forecast_revenue",
    f"""
    SELECT {_dsum('l_extendedprice * l_discount')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount >= CAST(0.05 AS DOUBLE)
      AND l_discount <= CAST(0.07 AS DOUBLE)
      AND l_quantity < CAST(24.0 AS DOUBLE)
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (revenue-change forecast): three range predicates and
    a two-column projection over the fact, then one global decimal sum.
    Plan-asserted: filters pushed, single exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            A.decimal_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q7_nation_volume",
    f"""
    SELECT supp_nation, cust_nation, l_year,
           {_dsum('volume')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (bi-directional volume shipping): the fact joins two
    INDEPENDENT dimension chains (supplier→nation, order→customer→nation)
    and the nation-pair disjunction filters both ends."""
    n_pair = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin("NATION_1", "NATION_2"))
        .select("n_nationkey", "n_name")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n_pair), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(n_pair), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
        )
        .select("l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            A.decimal_sum(volume).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q8_market_share",
    f"""
    SELECT o_year,
           {_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0.0 END")}
             AS nation_volume,
           {_dsum('volume')} AS total_volume,
           CAST(count(*) AS BIGINT) AS n_items
    FROM (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the longest dimension chain
    in the suite, with the share as conditional and total decimal sums in
    one pass (no decimal division)."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    region = (
        load_table(spark, sf_dir, "region")
        .filter(F.col("r_name") == "ASIA")
        .select("r_regionkey")
    )
    cust_asia = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                ).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01 00:00:00")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount"
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_asia, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            A.decimal_sum(nation_vol).alias("nation_volume"),
            A.decimal_sum(volume).alias("total_volume"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q13_order_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT OUTER join
    with a join-time predicate, so customers with only urgent orders appear
    with count 0, then a two-level aggregation."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "q17_small_quantity_revenue",
    f"""
    WITH brand_parts AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#23'),
    li_b AS (
      SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM brand_parts)),
    per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(l_quantity) AS avg_qty
      FROM li_b GROUP BY l_partkey)
    SELECT {_dsum('li_b.l_extendedprice')} / CAST(7.0 AS DOUBLE) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM li_b JOIN per_part ON li_b.l_partkey = per_part.l_partkey
    WHERE li_b.l_quantity < CAST(0.2 AS DOUBLE) * per_part.avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): a correlated scalar
    subquery (per-part average quantity) de-correlated into a group-by +
    self-join — the standard Catalyst rewrite, made explicit."""
    parts_b = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    li_b = li.join(parts_b, li.l_partkey == parts_b.p_partkey, "left_semi")
    per_part = li_b.groupBy("l_partkey").agg(
        A.decimal_avg("l_quantity").alias("avg_qty")
    )
    joined = li_b.join(
        per_part.withColumnRenamed("l_partkey", "_pk"),
        F.col("l_partkey") == F.col("_pk"),
    ).filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
    return joined.agg(
        (A.decimal_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_q(
    "q19_disjunctive_revenue",
    f"""
    SELECT {_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= CAST(1.0 AS DOUBLE) AND l.l_quantity <= CAST(11.0 AS DOUBLE))
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= CAST(10.0 AS DOUBLE) AND l.l_quantity <= CAST(20.0 AS DOUBLE))
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= CAST(20.0 AS DOUBLE) AND l.l_quantity <= CAST(30.0 AS DOUBLE))
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive predicates): an OR
    of three conjunctive brand/size/quantity windows across BOTH join sides."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15))
            | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25))
            | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35))
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_quantity") >= 1.0) & (F.col("l_quantity") <= 30.0))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    qty = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & (qty >= 1.0) & (qty <= 11.0))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & (qty >= 10.0) & (qty <= 20.0))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & (qty >= 20.0) & (qty <= 30.0))
    )
    return (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            A.decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_q(
    "q21_blocking_supplier",
    """
    WITH l1 AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_returnflag = 'R' AND o.o_orderstatus = 'F')
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def q21_blocking_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept waiting orders): an EXISTS and a
    NOT EXISTS against the same fact table with an inequality correlate
    (another supplier in the same order)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    orders_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders_f, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3"))
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("k2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    ).join(
        l3,
        (F.col("l_orderkey") == F.col("k3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        cand.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_q(
    "q22_inactive_balance",
    f"""
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(27,6))) AS DOUBLE)
               / COUNT(c_acctbal) AS a
      FROM customer WHERE c_acctbal > CAST(0.0 AS DOUBLE))
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS numcust,
           {_dsum('c.c_acctbal')} AS totacctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    CROSS JOIN avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY n.n_name
    """,
)
def q22_inactive_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-sales-opportunity): a global scalar subquery
    (average positive balance) broadcast as a one-row literal, a NOT EXISTS
    anti-join against filtered orders, and a broadcast nation dim."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(A.decimal_avg("c_acctbal").alias("a"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            A.decimal_sum("c_acctbal").alias("totacctbal"),
        )
    )


@_q(
    "dq_report",
    """
    WITH rowchecks AS (
      SELECT * FROM (
        SELECT 'orders_totalprice_nonneg' AS check,
               CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS violations,
               CAST(count(*) AS BIGINT) AS n_checked
        FROM orders
        UNION ALL
        SELECT 'orders_status_domain',
               CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(*) AS BIGINT)
        FROM orders)),
    uniq AS (
      SELECT 'lineitem_pk_unique' AS check,
             CAST(sum(c - 1) AS BIGINT) AS violations,
             CAST(sum(c) AS BIGINT) AS n_checked
      FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_orderkey, l_linenumber)),
    ref AS (
      SELECT 'orders_custkey_refs_customer' AS check,
             CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
             CAST(count(*) AS BIGINT) AS n_checked
      FROM orders o
      LEFT OUTER JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey)
    SELECT * FROM rowchecks
    UNION ALL SELECT * FROM uniq
    UNION ALL SELECT * FROM ref
    """,
)
def dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/validate.py): the
    dbt-test/Deequ shape — every check yields (check, violations,
    n_checked), the pipeline gates on violations = 0."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    rows = V.row_checks(
        orders,
        {
            "orders_totalprice_nonneg": F.col("o_totalprice") < 0,
            "orders_status_domain": ~F.col("o_orderstatus").isin("O", "F", "P"),
        },
    )
    uniq = V.unique_check(li, ["l_orderkey", "l_linenumber"], "lineitem_pk_unique")
    ref = V.ref_check(orders, cust)
    return V.dq_union(rows, uniq, ref)


@_q(
    "w10_share_of_group",
    """
    WITH s AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(value AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE)
               AS type_total
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type, e.value,
           e.value / s.type_total AS share_of_type
    FROM events e JOIN s ON e.event_type = s.event_type
    WHERE s.type_total <> 0.0
    """,
)
def w10_share_of_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report (share-of-group): each row's fraction of its group's
    total — the normalization behind mixture weights and traffic-share
    dashboards."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(27,6)")
    s = ev.groupBy("event_type").agg(
        F.sum(dec).cast("string").cast("double").alias("type_total")
    )
    return (
        ev.join(F.broadcast(s), "event_type")
        .filter(F.col("type_total") != 0.0)
        .select(
            "event_id",
            "event_type",
            "value",
            (F.col("value") / F.col("type_total")).alias("share_of_type"),
        )
    )


# ---------------------------------------------------------------------------
# The remaining TPC-H join shapes (Q2/Q9/Q11/Q12/Q15/Q16/Q20),
# adapted to the synthetic schema — the testdata has no partsupp table and no
# l_shipmode/l_commitdate/l_receiptdate columns, so each query keeps the
# ORIGINAL'S PLAN SHAPE (correlated min, global-scalar HAVING, nested
# semi-joins, conditional aggregation, scalar-max view, distinct-count with
# exclusion, multi-level quantity share) over the columns that exist.  The
# substitutions are named per query.
# ---------------------------------------------------------------------------


@_q(
    "q2_min_cost_supplier",
    """
    WITH parts_f AS (
      SELECT p_partkey, p_retailprice FROM part
      WHERE p_size = 5 AND p_type = 'STANDARD'),
    cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             MIN(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l
      WHERE l.l_partkey IN (SELECT p_partkey FROM parts_f)
      GROUP BY l.l_partkey, l.l_suppkey),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'),
    pc AS (
      SELECT c.l_partkey, c.unit_cost, eu.s_name, eu.s_acctbal, eu.n_name
      FROM cost c JOIN eu ON eu.s_suppkey = c.l_suppkey),
    best AS (
      SELECT l_partkey, MIN(unit_cost) AS best_cost
      FROM pc GROUP BY l_partkey)
    SELECT p.p_partkey, p.p_retailprice, pc.s_name, pc.s_acctbal, pc.n_name,
           pc.unit_cost AS supply_cost
    FROM pc
    JOIN best ON best.l_partkey = pc.l_partkey
             AND pc.unit_cost = best.best_cost
    JOIN parts_f p ON p.p_partkey = pc.l_partkey
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (minimum-cost supplier): the correlated-MIN subquery —
    for each qualifying part, the supplier(s) in one region achieving the
    minimum supply cost."""
    part_f = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") == 5) & (F.col("p_type") == "STANDARD"))
        .select("p_partkey", "p_retailprice")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    li_f = li.join(
        F.broadcast(part_f.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    cost = li_f.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey", "n_name")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    pc = cost.join(
        F.broadcast(eu), cost.l_suppkey == eu.s_suppkey
    ).select("l_partkey", "unit_cost", "s_name", "s_acctbal", "n_name")
    best = pc.groupBy("l_partkey").agg(F.min("unit_cost").alias("best_cost"))
    return (
        pc.join(
            best.withColumnRenamed("l_partkey", "_bk"),
            (F.col("l_partkey") == F.col("_bk"))
            & (F.col("unit_cost") == F.col("best_cost")),
        )
        .join(F.broadcast(part_f), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_retailprice",
            "s_name",
            "s_acctbal",
            "n_name",
            F.col("unit_cost").alias("supply_cost"),
        )
    )


@_q(
    "q9_nation_profit",
    f"""
    SELECT n.n_name, CAST(year(l.l_shipdate) AS BIGINT) AS o_year,
           {_dsum('(l.l_extendedprice * (1 - l.l_discount)) - ((CAST(0.6 AS DOUBLE) * p.p_retailprice) * l.l_quantity)')} AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name, year(l.l_shipdate)
    """,
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): fact × part
    (name pattern) × supplier × nation, with cost proxied as 60% of the
    part's retail price. Both dimension sides are broadcast; the only
    shuffle is the final (n_name, year) aggregate."""
    part_w = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "n_name")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate",
        "l_extendedprice", "l_discount", "l_quantity",
    )
    profit = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    ) - ((F.lit(0.6) * F.col("p_retailprice")) * F.col("l_quantity"))
    return (
        li.join(F.broadcast(part_w), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", F.year("l_shipdate").cast("long").alias("o_year"))
        .agg(A.decimal_sum(profit).alias("profit"))
    )


@_q(
    "q11_important_parts",
    f"""
    WITH nat_sup AS (
      SELECT s.s_suppkey FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3'),
    per_part AS (
      SELECT l.l_partkey, {_dsum('l.l_extendedprice')} AS part_value
      FROM lineitem l
      WHERE l.l_suppkey IN (SELECT s_suppkey FROM nat_sup)
      GROUP BY l.l_partkey),
    tot AS (
      SELECT CAST(SUM(CAST(part_value AS DECIMAL(27,6))) AS DOUBLE) AS t
      FROM per_part)
    SELECT per_part.l_partkey AS p_partkey, per_part.part_value
    FROM per_part CROSS JOIN tot
    WHERE per_part.part_value > CAST(0.001 AS DOUBLE) * tot.t
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock identification): a grouped aggregate
    filtered by a GLOBAL scalar fraction of the SAME aggregate — the
    HAVING-over-global-subquery pattern."""
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    nat_sup = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    per_part = (
        li.join(
            F.broadcast(nat_sup),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(A.decimal_sum("l_extendedprice").alias("part_value"))
    )
    tot = per_part.agg(A.decimal_sum("part_value").alias("t"))
    return (
        per_part.join(F.broadcast(tot))
        .filter(F.col("part_value") > F.lit(0.001) * F.col("t"))
        .select(F.col("l_partkey").alias("p_partkey"), "part_value")
    )


@_q(
    "q12_priority_by_returnflag",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: high- vs low-priority order counts per mode by
    conditional aggregation over a fact-to-fact join; l_returnflag plays the
    ship mode and a one-year shipdate window the late-shipment predicate."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
        )
        .select("l_orderkey", "l_returnflag")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@_q(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, {_dsum('l_extendedprice * (1 - l_discount)')} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey),
    mx AS (SELECT MAX(total_revenue) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, rev.total_revenue
    FROM rev
    CROSS JOIN mx
    JOIN supplier s ON s.s_suppkey = rev.l_suppkey
    WHERE rev.total_revenue = mx.m
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): every supplier whose quarterly
    revenue equals the maximum, ties included."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-04-01 00:00:00")))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = li.groupBy("l_suppkey").agg(
        A.decimal_sum(
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("m"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("m"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@_q(
    "q16_supplier_part_count",
    """
    WITH bad_sup AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < CAST(0.0 AS DOUBLE)),
    ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM bad_sup))
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#5' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_part_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute group
    over the (part, supplier) pairs seen in the fact, excluding
    negative-balance suppliers by a broadcast anti-join."""
    bad_sup = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select("s_suppkey")
    )
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(bad_sup),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .distinct()
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & (F.col("p_type") != "PROMO")
            & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@_q(
    "q20_excess_share_suppliers",
    f"""
    WITH parts_f AS (
      SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
    li97 AS (
      SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l_partkey IN (SELECT p_partkey FROM parts_f)),
    per_ps AS (
      SELECT l_partkey, l_suppkey, {_dsum('l_quantity')} AS qty
      FROM li97 GROUP BY l_partkey, l_suppkey),
    per_p AS (
      SELECT l_partkey, CAST(SUM(CAST(qty AS DECIMAL(27,6))) AS DOUBLE) AS tot
      FROM per_ps GROUP BY l_partkey),
    excess AS (
      SELECT DISTINCT per_ps.l_suppkey
      FROM per_ps JOIN per_p ON per_p.l_partkey = per_ps.l_partkey
      WHERE per_ps.qty > CAST(0.5 AS DOUBLE) * per_p.tot),
    asia_sup AS (
      SELECT s.s_suppkey FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'ASIA')
    SELECT s.s_suppkey, s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM excess)
      AND s.s_suppkey IN (SELECT s_suppkey FROM asia_sup)
    """,
)
def q20_excess_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one region
    shipping >50% of a name-filtered part's total 1997 quantity, by a
    two-level aggregation on one l_partkey shuffle and two semi-joins on the
    supplier dim."""
    parts_f = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    li97 = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit("1997-01-01 00:00:00")))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01 00:00:00")))
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(
            F.broadcast(parts_f),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
    )
    per_ps = li97.groupBy("l_partkey", "l_suppkey").agg(
        A.decimal_sum("l_quantity").alias("qty")
    )
    per_p = per_ps.groupBy("l_partkey").agg(
        A.decimal_sum("qty").alias("tot")
    )
    excess = (
        per_ps.join(
            F.broadcast(per_p.withColumnRenamed("l_partkey", "_pk")),
            F.col("l_partkey") == F.col("_pk"),
        )
        .filter(F.col("qty") > F.lit(0.5) * F.col("tot"))
        .select("l_suppkey")
        .distinct()
    )
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_sup = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey,
                ).select("n_nationkey")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("as_suppkey"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    return (
        supp.join(
            excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(
            F.broadcast(asia_sup),
            F.col("s_suppkey") == F.col("as_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )


@_q(
    "scd2_temporal_join",
    """
    WITH v0 AS (
      SELECT doc_id, md5('v0' || text) AS fp,
             TIMESTAMP '2023-01-01 00:00:00' AS valid_from,
             TIMESTAMP '2024-01-15 00:00:00' AS valid_to
      FROM documents WHERE doc_id % 5 <> 0),
    v1 AS (
      SELECT doc_id, md5(text) AS fp,
             TIMESTAMP '2024-01-15 00:00:00' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM documents),
    versions AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1),
    facts AS (
      SELECT event_id, ts, CAST(event_id % 97 AS BIGINT) AS doc_id
      FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.doc_id, v.fp
    FROM facts f
    LEFT JOIN versions v
      ON v.doc_id = f.doc_id
     AND f.ts >= v.valid_from
     AND (v.valid_to IS NULL OR f.ts < v.valid_to)
    """,
)
def scd2_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read side of SCD2 (scd.temporal_join): each fact joins the
    dimension version valid at its event time, by key equality plus a
    validity-window residual."""
    docs = load_table(spark, sf_dir, "documents")
    v0 = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.md5(F.concat(F.lit("v0"), F.col("text")).cast("binary")).alias("fp"),
        F.to_timestamp(F.lit("2023-01-01 00:00:00")).alias("valid_from"),
        F.to_timestamp(F.lit("2024-01-15 00:00:00")).alias("valid_to"),
    )
    v1 = docs.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fp"),
        F.to_timestamp(F.lit("2024-01-15 00:00:00")).alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    versions = v0.unionByName(v1)
    facts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "ts", (F.col("event_id") % 97).alias("doc_id"))
    )
    joined = temporal_join(facts, versions)
    return joined.select("event_id", "doc_id", "fp")


@_q(
    "agg_incremental_merge",
    f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           {_dsum('value')} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance
    (aggregates.agg_state/merge_agg_state): the per-type state over events
    before Jan 20 absorbs the later partition with ONE state-sized
    full-outer join."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-20 00:00:00"))
    state = agg_state(ev.filter(F.col("ts") < cut))
    delta = agg_state(ev.filter(F.col("ts") >= cut))
    merged = merge_agg_state(state, delta)
    return merged.select(
        "event_type",
        "n_rows",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@_q(
    "agg_mode_brand_per_type",
    """
    WITH c AS (
      SELECT p_type, p_brand, CAST(count(*) AS BIGINT) AS n
      FROM part GROUP BY p_type, p_brand),
    m AS (SELECT p_type, MAX(n) AS mx FROM c GROUP BY p_type)
    SELECT c.p_type, MIN(c.p_brand) AS mode_brand, MIN(c.n) AS n_parts
    FROM c JOIN m ON m.p_type = c.p_type AND c.n = m.mx
    GROUP BY c.p_type
    """,
)
def agg_mode_brand_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value) per group — the statistical
    mode with an EXPLICIT tie-break (max count, then lexicographically
    smallest value)."""
    part = load_table(spark, sf_dir, "part").select("p_type", "p_brand")
    c = part.groupBy("p_type", "p_brand").agg(F.count(F.lit(1)).alias("n"))
    m = c.groupBy("p_type").agg(F.max("n").alias("mx"))
    return (
        c.join(
            m.withColumnRenamed("p_type", "_t"),
            (F.col("p_type") == F.col("_t")) & (F.col("n") == F.col("mx")),
        )
        .groupBy("p_type")
        .agg(
            F.min("p_brand").alias("mode_brand"),
            F.min("n").alias("n_parts"),
        )
    )


@_q(
    "erasure_cascade_audit",
    """
    WITH blocked AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
    o_purged AS (
      SELECT o.o_orderkey FROM orders o
      JOIN blocked b ON o.o_custkey = b.c_custkey),
    audit AS (
      SELECT 'customer' AS table_name,
             (SELECT count(*) FROM blocked) AS n_purged,
             (SELECT count(*) FROM customer) -
               (SELECT count(*) FROM blocked) AS n_kept
      UNION ALL
      SELECT 'orders',
             (SELECT count(*) FROM o_purged),
             (SELECT count(*) FROM orders) -
               (SELECT count(*) FROM o_purged)
      UNION ALL
      SELECT 'lineitem',
             (SELECT count(*) FROM lineitem l
              JOIN o_purged p ON l.l_orderkey = p.o_orderkey),
             (SELECT count(*) FROM lineitem) -
               (SELECT count(*) FROM lineitem l
                JOIN o_purged p ON l.l_orderkey = p.o_orderkey))
    SELECT table_name, CAST(n_purged AS BIGINT) AS n_purged,
           CAST(n_kept AS BIGINT) AS n_kept
    FROM audit
    """,
)
def erasure_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: a deterministic customer
    blocklist propagates through customer -> orders -> lineitem, reporting
    purged and kept row counts per table.

    Scale shape: the blocklist and the purged-order keyset are both
    keyset-sized (ids only, no payload columns — column pruning keeps the
    scans narrow); each cascade level is one keyed semi-join; counts are
    map-side partial aggregates. At 100 TB the keysets broadcast."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    blocked = cust.filter(F.col("c_custkey") % 37 == 0).select("c_custkey")
    o_purged = orders.join(
        blocked, orders.o_custkey == blocked.c_custkey
    ).select("o_orderkey")
    l_purged = li.join(o_purged, li.l_orderkey == o_purged.o_orderkey)

    def _row(name: str, purged, total):
        return purged.agg(F.count(F.lit(1)).alias("n_purged")).crossJoin(
            total.agg(F.count(F.lit(1)).alias("n_total"))
        ).select(
            F.lit(name).alias("table_name"),
            F.col("n_purged").cast("bigint").alias("n_purged"),
            (F.col("n_total") - F.col("n_purged")).cast("bigint").alias("n_kept"),
        )

    return (
        _row("customer", blocked, cust)
        .unionAll(_row("orders", o_purged, orders))
        .unionAll(_row("lineitem", l_purged, li))
    )


#: oracle CTEs ``t`` and ``r``: the :func:`_nation_cum_revenue` mirror
_NATION_CUM_SQL = """WITH t AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS tot
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT c.c_nationkey, t.tot,
             SUM(t.tot) OVER (PARTITION BY c.c_nationkey
                              ORDER BY t.tot DESC, t.o_custkey) AS cum,
             SUM(t.tot) OVER (PARTITION BY c.c_nationkey) AS total
      FROM t JOIN customer c ON t.o_custkey = c.c_custkey)"""


def _nation_cum_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(c_nationkey, tot, cum, total)``: each customer's exact decimal
    order revenue ``tot``, the running sum ``cum`` over its nation's
    customers by revenue descending (custkey breaks ties) and the nation's
    ``total``. Scale shape: keyed aggregate on custkey, shuffle join to the
    customer dim on the same key, keyed windows per nation."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    t = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).alias("tot")
    )
    j = t.join(cust, t.o_custkey == cust.c_custkey)
    wc = Window.partitionBy("c_nationkey").orderBy(
        F.desc("tot"), F.asc("o_custkey")
    )
    wp = Window.partitionBy("c_nationkey")
    return j.select(
        "c_nationkey",
        "tot",
        F.sum("tot").over(wc).alias("cum"),
        F.sum("tot").over(wp).alias("total"),
    )


@_q(
    "pareto_half_revenue_customers",
    f"""
    {_NATION_CUM_SQL},
    s AS (
      SELECT c_nationkey,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(SUM(CASE WHEN 2 * cum < total THEN 1 ELSE 0 END) + 1
                  AS BIGINT) AS n_to_half
      FROM r GROUP BY c_nationkey)
    SELECT n.n_name, s.n_customers, s.n_to_half,
           CAST(s.n_to_half AS DOUBLE) / CAST(s.n_customers AS DOUBLE)
             AS half_share
    FROM s JOIN nation n ON s.c_nationkey = n.n_nationkey
    """,
)
def pareto_half_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto coverage: per nation, how many of its highest-revenue
    customers it takes to cover half the nation's total revenue, and the
    share of the customer base that is."""
    nation = load_table(spark, sf_dir, "nation")
    r = _nation_cum_revenue(spark, sf_dir)
    s = r.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers"),
        (
            F.sum(F.when(F.lit(2) * F.col("cum") < F.col("total"), 1).otherwise(0))
            + F.lit(1)
        )
        .cast("bigint")
        .alias("n_to_half"),
    )
    return (
        s.join(F.broadcast(nation), s.c_nationkey == nation.n_nationkey)
        .select(
            "n_name",
            F.col("n_customers").cast("bigint").alias("n_customers"),
            "n_to_half",
            (
                F.col("n_to_half").cast("double")
                / F.col("n_customers").cast("double")
            ).alias("half_share"),
        )
    )


@_q(
    "partition_skew_report",
    """
    WITH b AS (
      SELECT ('0x' || substr(md5('pt' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 32
               AS bucket
      FROM documents),
    c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket)
    SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           CAST(MIN(n) AS BIGINT) AS min_bucket,
           CAST(MAX(n) * count(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
             AS skew_ratio
    FROM c
    """,
)
def partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew diagnostic: the corpus bucketed by the
    samplers' md5 hash family (32 buckets), reporting the max/mean imbalance
    factor."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(hash_bucket("doc_id", 32, "pt").alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count(F.lit(1)).alias("n"))
    return c.agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.max("n").cast("bigint").alias("max_bucket"),
        F.min("n").cast("bigint").alias("min_bucket"),
        (
            (F.max("n") * F.count(F.lit(1))).cast("double")
            / F.sum("n").cast("double")
        ).alias("skew_ratio"),
    )


@_q(
    "weighted_median_price_by_brand",
    """
    WITH j AS (
      SELECT p.p_brand, l.l_extendedprice AS price,
             CAST(l.l_quantity AS BIGINT) AS w
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    g AS (
      SELECT p_brand, price, CAST(SUM(w) AS BIGINT) AS w
      FROM j GROUP BY p_brand, price),
    c AS (
      SELECT p_brand, price, w,
             SUM(w) OVER (PARTITION BY p_brand ORDER BY price) AS cum,
             SUM(w) OVER (PARTITION BY p_brand) AS tot
      FROM g)
    SELECT p_brand, CAST(MAX(tot) AS BIGINT) AS total_qty,
           MIN(CASE WHEN 2 * cum >= tot THEN price END) AS wmedian_price
    FROM c GROUP BY p_brand
    """,
)
def weighted_median_price_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted (lower) median: per part brand, the smallest price at
    which the cumulative quantity reaches half the brand's total quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "p_brand",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    g = j.groupBy("p_brand", "price").agg(F.sum("w").cast("bigint").alias("w"))
    wc = Window.partitionBy("p_brand").orderBy("price")
    wp = Window.partitionBy("p_brand")
    c = g.select(
        "p_brand",
        "price",
        "w",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wp).alias("tot"),
    )
    return c.groupBy("p_brand").agg(
        F.max("tot").cast("bigint").alias("total_qty"),
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("tot"), F.col("price"))
        ).alias("wmedian_price"),
    )


@_q(
    "referential_integrity_audit",
    """
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN p.o_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphans
    FROM lineitem c LEFT JOIN orders p ON c.l_orderkey = p.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem c LEFT JOIN part p ON c.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem c LEFT JOIN supplier p ON c.l_suppkey = p.s_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders c LEFT JOIN customer p ON c.o_custkey = p.c_custkey
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation p ON c.c_nationkey = p.n_nationkey
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM supplier c LEFT JOIN nation p ON c.s_nationkey = p.n_nationkey
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.r_regionkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM nation c LEFT JOIN region p ON c.n_regionkey = p.r_regionkey
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY audit across every TPC-H foreign key — the
    cross-table data-quality gate (dq's not-null/unique checks are
    single-table; orphaned keys need joins).

    Scale shape: seven independent keyed left joins, each aggregating
    map-side to a single row — dims broadcast under AQE, the two fact-fact
    joins shuffle on their key."""
    t = {n: load_table(spark, sf_dir, n) for n in
         ("lineitem", "orders", "part", "supplier", "customer", "nation", "region")}

    def edge(label, child, ckey, parent, pkey):
        return (
            t[child]
            .join(
                t[parent].select(pkey),
                F.col(ckey) == F.col(pkey),
                "left",
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(F.when(F.col(pkey).isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(F.lit(label).alias("fk"), "n_rows", "n_orphans")
        )

    edges = [
        edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
        edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
        edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionAll(e)
    return out


@_q(
    "share_hierarchy_revenue",
    f"""
    WITH base AS (SELECT r.r_name, n.n_name, o.o_totalprice
                  FROM orders o
                  JOIN customer c ON o.o_custkey = c.c_custkey
                  JOIN nation n ON c.c_nationkey = n.n_nationkey
                  JOIN region r ON n.n_regionkey = r.r_regionkey),
    nat AS (SELECT r_name, n_name, {_dsum('o_totalprice')} AS revenue
            FROM base GROUP BY r_name, n_name),
    reg AS (SELECT r_name, {_dsum('o_totalprice')} AS region_revenue
            FROM base GROUP BY r_name),
    tot AS (SELECT {_dsum('o_totalprice')} AS total_revenue FROM base)
    SELECT nat.r_name, nat.n_name, nat.revenue,
           reg.region_revenue, tot.total_revenue,
           nat.revenue / reg.region_revenue AS nation_share_of_region,
           reg.region_revenue / tot.total_revenue AS region_share_of_total
    FROM nat JOIN reg ON reg.r_name = nat.r_name CROSS JOIN tot
    """,
)
def share_hierarchy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL share-of-parent — revenue decomposed along region <-
    nation with each level's share of its parent (the drill-down treemap
    readout; [[w10_share_of_group]] gives one level, this composes two).

    Scale shape: one 3-dim broadcast join chain over orders, then three
    keyed aggregates of descending cardinality; nation and region tables are
    broadcast-sized by construction."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    base = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("r_name", "n_name", "o_totalprice")
    )
    nat = base.groupBy("r_name", "n_name").agg(
        A.decimal_sum("o_totalprice").alias("revenue")
    )
    reg = base.groupBy("r_name").agg(
        A.decimal_sum("o_totalprice").alias("region_revenue")
    )
    tot = base.agg(A.decimal_sum("o_totalprice").alias("total_revenue"))
    return (
        nat.join(F.broadcast(reg), "r_name")
        .crossJoin(F.broadcast(tot))
        .select(
            "r_name",
            "n_name",
            "revenue",
            "region_revenue",
            "total_revenue",
            (F.col("revenue") / F.col("region_revenue")).alias(
                "nation_share_of_region"
            ),
            (F.col("region_revenue") / F.col("total_revenue")).alias(
                "region_share_of_total"
            ),
        )
    )


_RFM_HI_PS = [0.8, 0.6, 0.4, 0.2]


@_q(
    "rfm_segments",
    f"""
    WITH c AS (SELECT o_custkey,
                      CAST(max(o_orderdate) AS DATE) AS last_order,
                      CAST(count(*) AS BIGINT) AS frequency,
                      {_dsum('o_totalprice')} AS monetary
               FROM orders GROUP BY o_custkey),
    mx AS (SELECT CAST(max(o_orderdate) AS DATE) AS ref_day FROM orders),
    r AS (SELECT c.o_custkey,
                 CAST(mx.ref_day - c.last_order AS BIGINT) AS recency_days,
                 c.frequency, c.monetary
          FROM c CROSS JOIN mx),
    q AS (SELECT quantile_cont(recency_days, {_RFM_HI_PS}) AS rt,
                 quantile_cont(frequency, {_RFM_HI_PS}) AS ft,
                 quantile_cont(monetary, {_RFM_HI_PS}) AS mt
          FROM r),
    s AS (SELECT r.o_custkey, r.recency_days, r.frequency, r.monetary,
                 CAST(1 + {' + '.join(f'(CASE WHEN CAST(r.recency_days AS DOUBLE) < q.rt[{i + 1}] THEN 1 ELSE 0 END)' for i in range(4))}
                      AS BIGINT) AS r_score,
                 CAST(1 + {' + '.join(f'(CASE WHEN CAST(r.frequency AS DOUBLE) > q.ft[{i + 1}] THEN 1 ELSE 0 END)' for i in range(4))}
                      AS BIGINT) AS f_score,
                 CAST(1 + {' + '.join(f'(CASE WHEN r.monetary > q.mt[{i + 1}] THEN 1 ELSE 0 END)' for i in range(4))}
                      AS BIGINT) AS m_score
          FROM r CROSS JOIN q)
    SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           r_score * 100 + f_score * 10 + m_score AS rfm
    FROM s
    """,
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency, frequency and exact decimal monetary value
    per customer, each scored 1-5 against quintile boundaries from ONE
    broadcast exact-percentile aggregate.

    Scale shape: one customer-keyed aggregate, a 1-row quantile broadcast, a
    scan-shaped ladder — no window over corpus rows."""
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        A.decimal_sum("o_totalprice").alias("monetary"),
    )
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_day"))
    r = c.crossJoin(F.broadcast(mx)).select(
        "o_custkey",
        F.datediff("ref_day", "last_order").cast("long").alias("recency_days"),
        "frequency",
        "monetary",
    )
    ps = F.lit(_RFM_HI_PS)
    q = r.agg(
        F.percentile(F.col("recency_days").cast("double"), ps).alias("rt"),
        F.percentile(F.col("frequency").cast("double"), ps).alias("ft"),
        F.percentile("monetary", ps).alias("mt"),
    )
    rs, fs, ms = F.lit(1), F.lit(1), F.lit(1)
    for i in range(4):
        rs = rs + (
            F.col("recency_days").cast("double") < F.element_at("rt", i + 1)
        ).cast("int")
        fs = fs + (
            F.col("frequency").cast("double") > F.element_at("ft", i + 1)
        ).cast("int")
        ms = ms + (F.col("monetary") > F.element_at("mt", i + 1)).cast("int")
    s = r.crossJoin(F.broadcast(q)).select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        rs.cast("long").alias("r_score"),
        fs.cast("long").alias("f_score"),
        ms.cast("long").alias("m_score"),
    )
    return s.select(
        "*",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm"),
    )


@_q(
    "parts_in_all_regions",
    """
    WITH pr AS (SELECT DISTINCT l.l_partkey AS partkey, n.n_regionkey AS rk
                FROM lineitem l
                JOIN supplier s ON l.l_suppkey = s.s_suppkey
                JOIN nation n ON s.s_nationkey = n.n_nationkey),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_regions FROM region),
    c AS (SELECT partkey, CAST(count(*) AS BIGINT) AS n_covered
          FROM pr GROUP BY partkey)
    SELECT c.partkey AS p_partkey, p.p_name, c.n_covered
    FROM c CROSS JOIN t
    JOIN part p ON p.p_partkey = c.partkey
    WHERE c.n_covered = t.n_regions
    """,
)
def parts_in_all_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division: parts shipped from suppliers in EVERY region, as
    distinct (part, region) coverage == |regions|.

    Scale shape: lineitem joins two broadcast dims, one distinct + one keyed
    count, a 1-row region-count broadcast, and a final keyed join to part
    for the name."""
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    na = load_table(spark, sf_dir, "nation")
    re = load_table(spark, sf_dir, "region")
    pa = load_table(spark, sf_dir, "part")
    pr = (
        li.join(su, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("l_partkey").alias("partkey"), F.col("n_regionkey").alias("rk"))
        .dropDuplicates()
    )
    t = re.agg(F.count(F.lit(1)).cast("long").alias("n_regions"))
    c = pr.groupBy("partkey").agg(F.count(F.lit(1)).cast("long").alias("n_covered"))
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("n_covered") == F.col("n_regions"))
        .join(pa, F.col("partkey") == F.col("p_partkey"))
        .select(F.col("partkey").alias("p_partkey"), "p_name", "n_covered")
    )


@_q(
    "set_intersect_all",
    """
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each part key appears min(count_R,
    count_N) times.

    Scale shape: two filtered scans + one keyed intersect shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    n = li.filter(F.col("l_returnflag") == "N").select("l_partkey")
    return r.intersectAll(n)


@_q(
    "orders_pareto_skyline",
    """
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
    FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM orders d
      WHERE d.o_totalprice >= o.o_totalprice
        AND d.o_orderdate >= o.o_orderdate
        AND (d.o_totalprice > o.o_totalprice
             OR d.o_orderdate > o.o_orderdate))
    """,
)
def orders_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier) operator: orders not dominated on
    (o_totalprice, o_orderdate) -- no other order is at least as high-value
    AND at least as recent with a strict improvement in one dimension."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    return R.pareto_skyline_2d(o)


@_q(
    "customer_order_regularity",
    """
    WITH gaps AS (
      SELECT o_custkey,
             CAST(datediff('day',
                  LAG(CAST(o_orderdate AS DATE)) OVER w,
                  CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
    st AS (
      SELECT o_custkey,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(gap) AS BIGINT) AS s1,
             CAST(SUM(gap * gap) AS BIGINT) AS s2
      FROM gaps WHERE gap IS NOT NULL GROUP BY o_custkey
      HAVING count(*) >= 2 AND SUM(gap) > 0),
    cv AS (
      SELECT o_custkey, n, s1,
             sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                  / (n - 1))
               / (CAST(s1 AS DOUBLE) / n) AS cv
      FROM st),
    seg AS (
      SELECT CASE WHEN cv < CAST(0.5 AS DOUBLE) THEN 'regular'
                  WHEN cv < CAST(1.0 AS DOUBLE) THEN 'mixed'
                  ELSE 'sporadic' END AS segment,
             n, s1
      FROM cv)
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(s1) AS DOUBLE) / SUM(n) AS avg_gap_days
    FROM seg GROUP BY segment
    """,
)
def customer_order_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-rhythm segmentation: per customer, the coefficient of
    variation of inter-order day gaps classifies buying as regular (<0.5),
    mixed or sporadic (>=1.0), with customers and average gap per segment.

    Scale shape: one customer-partitioned window (lag), one customer
    aggregate, one 3-row segment aggregate."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        )
        .cast("long")
        .alias("gap"),
    ).filter(F.col("gap").isNotNull())
    st = (
        gaps.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("gap").cast("long").alias("s1"),
            F.sum(F.col("gap") * F.col("gap")).cast("long").alias("s2"),
        )
        .filter((F.col("n") >= 2) & (F.col("s1") > 0))
    )
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    cv = F.sqrt((s2d - s1d * F.col("s1") / F.col("n")) / (F.col("n") - 1)) / (
        s1d / F.col("n")
    )
    seg = st.select(
        F.when(cv < 0.5, "regular")
        .when(cv < 1.0, "mixed")
        .otherwise("sporadic")
        .alias("segment"),
        "n",
        "s1",
    )
    return seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("s1").cast("double") / F.sum("n")).alias("avg_gap_days"),
    )


@_q(
    "range_partition_boundaries",
    """
    WITH s AS (
      SELECT list(l_extendedprice ORDER BY l_extendedprice) AS arr,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem)
    SELECT CAST(u.i AS INTEGER) AS boundary_idx,
           CASE u.i
             WHEN 1 THEN (CASE WHEN (('0.03125'::DOUBLE) * (n - 1)) = floor((('0.03125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.03125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.03125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.03125'::DOUBLE) * (n - 1))) + 1.0) - (('0.03125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.03125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.03125'::DOUBLE) * (n - 1)) - floor((('0.03125'::DOUBLE) * (n - 1)))) END)
             WHEN 2 THEN (CASE WHEN (('0.0625'::DOUBLE) * (n - 1)) = floor((('0.0625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.0625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.0625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.0625'::DOUBLE) * (n - 1))) + 1.0) - (('0.0625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.0625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.0625'::DOUBLE) * (n - 1)) - floor((('0.0625'::DOUBLE) * (n - 1)))) END)
             WHEN 3 THEN (CASE WHEN (('0.09375'::DOUBLE) * (n - 1)) = floor((('0.09375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.09375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.09375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.09375'::DOUBLE) * (n - 1))) + 1.0) - (('0.09375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.09375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.09375'::DOUBLE) * (n - 1)) - floor((('0.09375'::DOUBLE) * (n - 1)))) END)
             WHEN 4 THEN (CASE WHEN (('0.125'::DOUBLE) * (n - 1)) = floor((('0.125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.125'::DOUBLE) * (n - 1))) + 1.0) - (('0.125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.125'::DOUBLE) * (n - 1)) - floor((('0.125'::DOUBLE) * (n - 1)))) END)
             WHEN 5 THEN (CASE WHEN (('0.15625'::DOUBLE) * (n - 1)) = floor((('0.15625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.15625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.15625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.15625'::DOUBLE) * (n - 1))) + 1.0) - (('0.15625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.15625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.15625'::DOUBLE) * (n - 1)) - floor((('0.15625'::DOUBLE) * (n - 1)))) END)
             WHEN 6 THEN (CASE WHEN (('0.1875'::DOUBLE) * (n - 1)) = floor((('0.1875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.1875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.1875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.1875'::DOUBLE) * (n - 1))) + 1.0) - (('0.1875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.1875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.1875'::DOUBLE) * (n - 1)) - floor((('0.1875'::DOUBLE) * (n - 1)))) END)
             WHEN 7 THEN (CASE WHEN (('0.21875'::DOUBLE) * (n - 1)) = floor((('0.21875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.21875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.21875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.21875'::DOUBLE) * (n - 1))) + 1.0) - (('0.21875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.21875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.21875'::DOUBLE) * (n - 1)) - floor((('0.21875'::DOUBLE) * (n - 1)))) END)
             WHEN 8 THEN (CASE WHEN (('0.25'::DOUBLE) * (n - 1)) = floor((('0.25'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.25'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.25'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.25'::DOUBLE) * (n - 1))) + 1.0) - (('0.25'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.25'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.25'::DOUBLE) * (n - 1)) - floor((('0.25'::DOUBLE) * (n - 1)))) END)
             WHEN 9 THEN (CASE WHEN (('0.28125'::DOUBLE) * (n - 1)) = floor((('0.28125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.28125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.28125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.28125'::DOUBLE) * (n - 1))) + 1.0) - (('0.28125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.28125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.28125'::DOUBLE) * (n - 1)) - floor((('0.28125'::DOUBLE) * (n - 1)))) END)
             WHEN 10 THEN (CASE WHEN (('0.3125'::DOUBLE) * (n - 1)) = floor((('0.3125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.3125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.3125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.3125'::DOUBLE) * (n - 1))) + 1.0) - (('0.3125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.3125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.3125'::DOUBLE) * (n - 1)) - floor((('0.3125'::DOUBLE) * (n - 1)))) END)
             WHEN 11 THEN (CASE WHEN (('0.34375'::DOUBLE) * (n - 1)) = floor((('0.34375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.34375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.34375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.34375'::DOUBLE) * (n - 1))) + 1.0) - (('0.34375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.34375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.34375'::DOUBLE) * (n - 1)) - floor((('0.34375'::DOUBLE) * (n - 1)))) END)
             WHEN 12 THEN (CASE WHEN (('0.375'::DOUBLE) * (n - 1)) = floor((('0.375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.375'::DOUBLE) * (n - 1))) + 1.0) - (('0.375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.375'::DOUBLE) * (n - 1)) - floor((('0.375'::DOUBLE) * (n - 1)))) END)
             WHEN 13 THEN (CASE WHEN (('0.40625'::DOUBLE) * (n - 1)) = floor((('0.40625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.40625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.40625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.40625'::DOUBLE) * (n - 1))) + 1.0) - (('0.40625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.40625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.40625'::DOUBLE) * (n - 1)) - floor((('0.40625'::DOUBLE) * (n - 1)))) END)
             WHEN 14 THEN (CASE WHEN (('0.4375'::DOUBLE) * (n - 1)) = floor((('0.4375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.4375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.4375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.4375'::DOUBLE) * (n - 1))) + 1.0) - (('0.4375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.4375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.4375'::DOUBLE) * (n - 1)) - floor((('0.4375'::DOUBLE) * (n - 1)))) END)
             WHEN 15 THEN (CASE WHEN (('0.46875'::DOUBLE) * (n - 1)) = floor((('0.46875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.46875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.46875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.46875'::DOUBLE) * (n - 1))) + 1.0) - (('0.46875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.46875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.46875'::DOUBLE) * (n - 1)) - floor((('0.46875'::DOUBLE) * (n - 1)))) END)
             WHEN 16 THEN (CASE WHEN (('0.5'::DOUBLE) * (n - 1)) = floor((('0.5'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.5'::DOUBLE) * (n - 1))) + 1.0) - (('0.5'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.5'::DOUBLE) * (n - 1)) - floor((('0.5'::DOUBLE) * (n - 1)))) END)
             WHEN 17 THEN (CASE WHEN (('0.53125'::DOUBLE) * (n - 1)) = floor((('0.53125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.53125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.53125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.53125'::DOUBLE) * (n - 1))) + 1.0) - (('0.53125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.53125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.53125'::DOUBLE) * (n - 1)) - floor((('0.53125'::DOUBLE) * (n - 1)))) END)
             WHEN 18 THEN (CASE WHEN (('0.5625'::DOUBLE) * (n - 1)) = floor((('0.5625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.5625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.5625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.5625'::DOUBLE) * (n - 1))) + 1.0) - (('0.5625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.5625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.5625'::DOUBLE) * (n - 1)) - floor((('0.5625'::DOUBLE) * (n - 1)))) END)
             WHEN 19 THEN (CASE WHEN (('0.59375'::DOUBLE) * (n - 1)) = floor((('0.59375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.59375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.59375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.59375'::DOUBLE) * (n - 1))) + 1.0) - (('0.59375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.59375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.59375'::DOUBLE) * (n - 1)) - floor((('0.59375'::DOUBLE) * (n - 1)))) END)
             WHEN 20 THEN (CASE WHEN (('0.625'::DOUBLE) * (n - 1)) = floor((('0.625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.625'::DOUBLE) * (n - 1))) + 1.0) - (('0.625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.625'::DOUBLE) * (n - 1)) - floor((('0.625'::DOUBLE) * (n - 1)))) END)
             WHEN 21 THEN (CASE WHEN (('0.65625'::DOUBLE) * (n - 1)) = floor((('0.65625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.65625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.65625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.65625'::DOUBLE) * (n - 1))) + 1.0) - (('0.65625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.65625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.65625'::DOUBLE) * (n - 1)) - floor((('0.65625'::DOUBLE) * (n - 1)))) END)
             WHEN 22 THEN (CASE WHEN (('0.6875'::DOUBLE) * (n - 1)) = floor((('0.6875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.6875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.6875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.6875'::DOUBLE) * (n - 1))) + 1.0) - (('0.6875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.6875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.6875'::DOUBLE) * (n - 1)) - floor((('0.6875'::DOUBLE) * (n - 1)))) END)
             WHEN 23 THEN (CASE WHEN (('0.71875'::DOUBLE) * (n - 1)) = floor((('0.71875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.71875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.71875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.71875'::DOUBLE) * (n - 1))) + 1.0) - (('0.71875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.71875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.71875'::DOUBLE) * (n - 1)) - floor((('0.71875'::DOUBLE) * (n - 1)))) END)
             WHEN 24 THEN (CASE WHEN (('0.75'::DOUBLE) * (n - 1)) = floor((('0.75'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.75'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.75'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.75'::DOUBLE) * (n - 1))) + 1.0) - (('0.75'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.75'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.75'::DOUBLE) * (n - 1)) - floor((('0.75'::DOUBLE) * (n - 1)))) END)
             WHEN 25 THEN (CASE WHEN (('0.78125'::DOUBLE) * (n - 1)) = floor((('0.78125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.78125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.78125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.78125'::DOUBLE) * (n - 1))) + 1.0) - (('0.78125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.78125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.78125'::DOUBLE) * (n - 1)) - floor((('0.78125'::DOUBLE) * (n - 1)))) END)
             WHEN 26 THEN (CASE WHEN (('0.8125'::DOUBLE) * (n - 1)) = floor((('0.8125'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.8125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.8125'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.8125'::DOUBLE) * (n - 1))) + 1.0) - (('0.8125'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.8125'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.8125'::DOUBLE) * (n - 1)) - floor((('0.8125'::DOUBLE) * (n - 1)))) END)
             WHEN 27 THEN (CASE WHEN (('0.84375'::DOUBLE) * (n - 1)) = floor((('0.84375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.84375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.84375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.84375'::DOUBLE) * (n - 1))) + 1.0) - (('0.84375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.84375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.84375'::DOUBLE) * (n - 1)) - floor((('0.84375'::DOUBLE) * (n - 1)))) END)
             WHEN 28 THEN (CASE WHEN (('0.875'::DOUBLE) * (n - 1)) = floor((('0.875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.875'::DOUBLE) * (n - 1))) + 1.0) - (('0.875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.875'::DOUBLE) * (n - 1)) - floor((('0.875'::DOUBLE) * (n - 1)))) END)
             WHEN 29 THEN (CASE WHEN (('0.90625'::DOUBLE) * (n - 1)) = floor((('0.90625'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.90625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.90625'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.90625'::DOUBLE) * (n - 1))) + 1.0) - (('0.90625'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.90625'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.90625'::DOUBLE) * (n - 1)) - floor((('0.90625'::DOUBLE) * (n - 1)))) END)
             WHEN 30 THEN (CASE WHEN (('0.9375'::DOUBLE) * (n - 1)) = floor((('0.9375'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.9375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.9375'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.9375'::DOUBLE) * (n - 1))) + 1.0) - (('0.9375'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.9375'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.9375'::DOUBLE) * (n - 1)) - floor((('0.9375'::DOUBLE) * (n - 1)))) END)
             WHEN 31 THEN (CASE WHEN (('0.96875'::DOUBLE) * (n - 1)) = floor((('0.96875'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.96875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.96875'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.96875'::DOUBLE) * (n - 1))) + 1.0) - (('0.96875'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.96875'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.96875'::DOUBLE) * (n - 1)) - floor((('0.96875'::DOUBLE) * (n - 1)))) END)
           END AS boundary_value
    FROM s CROSS JOIN (SELECT unnest(range(1, 32)) AS i) u
    """,
)
def range_partition_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 31 interior boundaries that split the sort key into 32 equal-row
    range partitions, computed exactly.

    Scale shape: below aggregates.DRIVER_PCT_MAX_ROWS the 31 order
    statistics come from one Arrow column collect + numpy sort on the driver
    (aggregates.exact_percentiles_driver, bit-identical IEEE interpolation),
    gated on lineitem's parquet footer row count, so the build is that one
    collect job. Above the gate: ONE percentile aggregate over the corpus
    (partial merge, no sort, no window) returning a 31-element array."""
    # no rebalance: the driver kernel collects the one column, so the
    # round-robin repartition would be a shuffle (and a job) of pure cost
    li = load_table(spark, sf_dir, "lineitem", rebalance=False)
    fractions = [x / 32.0 for x in range(1, 32)]
    bounds = exact_percentiles_driver(
        li, "l_extendedprice", fractions,
        row_bound=lineitem_row_count(sf_dir),
    )
    if bounds is not None:
        return spark.createDataFrame(
            [(i + 1, v) for i, v in enumerate(bounds)],
            "boundary_idx int, boundary_value double",
        )
    fracs = ", ".join(repr(f) for f in fractions)
    q = li.agg(
        F.expr(f"percentile(l_extendedprice, array({fracs}))").alias("bounds")
    )
    return q.select(
        F.posexplode(F.col("bounds")).alias("pos0", "boundary_value")
    ).select(
        (F.col("pos0") + 1).cast("int").alias("boundary_idx"),
        "boundary_value",
    )


@_q(
    "ship_latency_by_priority",
    """
    WITH lat AS (
      SELECT o.o_orderpriority,
             CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS BIGINT)
               AS latency_days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    , s AS (SELECT o_orderpriority,
                 list(latency_days ORDER BY latency_days) AS arr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(MAX(latency_days) AS BIGINT) AS max_days
          FROM lat GROUP BY o_orderpriority)
    SELECT o_orderpriority,
           n AS n_lineitems,
           (CASE WHEN (('0.5'::DOUBLE) * (n - 1)) = floor((('0.5'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.5'::DOUBLE) * (n - 1))) + 1.0) - (('0.5'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.5'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.5'::DOUBLE) * (n - 1)) - floor((('0.5'::DOUBLE) * (n - 1)))) END) AS p50_days,
           (CASE WHEN (('0.9'::DOUBLE) * (n - 1)) = floor((('0.9'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.9'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.9'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.9'::DOUBLE) * (n - 1))) + 1.0) - (('0.9'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.9'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.9'::DOUBLE) * (n - 1)) - floor((('0.9'::DOUBLE) * (n - 1)))) END) AS p90_days,
           (CASE WHEN (('0.99'::DOUBLE) * (n - 1)) = floor((('0.99'::DOUBLE) * (n - 1))) THEN CAST(arr[CAST(floor((('0.99'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) ELSE CAST(arr[CAST(floor((('0.99'::DOUBLE) * (n - 1))) AS BIGINT) + 1] AS DOUBLE) * ((floor((('0.99'::DOUBLE) * (n - 1))) + 1.0) - (('0.99'::DOUBLE) * (n - 1))) + CAST(arr[CAST(floor((('0.99'::DOUBLE) * (n - 1))) AS BIGINT) + 2] AS DOUBLE) * ((('0.99'::DOUBLE) * (n - 1)) - floor((('0.99'::DOUBLE) * (n - 1)))) END) AS p99_days,
           max_days
    FROM s
    """,
)
def ship_latency_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-TO-SHIP latency SLA readout: days from order placement to each
    line item's ship date, p50/p90/p99 + max per order priority -- the
    does-priority-actually-mean-faster check.

    Scale shape: the lineitem-orders equi-join shuffles on orderkey
    (AQE-sized, no forced broadcast of the growing orders side), then one
    percentile aggregate per priority -- partial-merged, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("latency_days"),
    )
    # one array-percentile per group instead of three scalar aggregates —
    # one shared value->count map, bit-identical interpolation (see
    # agg_percentiles)
    return (
        lat.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.expr(
                "percentile(latency_days, array(0.5D, 0.9D, 0.99D))"
            ).alias("_ps"),
            F.max("latency_days").cast("long").alias("max_days"),
        )
        .select(
            "o_orderpriority",
            "n_lineitems",
            F.col("_ps")[0].alias("p50_days"),
            F.col("_ps")[1].alias("p90_days"),
            F.col("_ps")[2].alias("p99_days"),
            "max_days",
        )
    )


@_q(
    "skyline_dominance_counts",
    """
    WITH sky AS (
      SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
      FROM orders o
      WHERE NOT EXISTS (
        SELECT 1 FROM orders d
        WHERE d.o_totalprice >= o.o_totalprice
          AND d.o_orderdate >= o.o_orderdate
          AND (d.o_totalprice > o.o_totalprice
               OR d.o_orderdate > o.o_orderdate)))
    SELECT s.o_orderkey, s.o_totalprice, s.o_orderdate,
           CAST(count(*) AS BIGINT) AS n_dominated
    FROM sky s JOIN orders r
      ON r.o_totalprice <= s.o_totalprice
     AND r.o_orderdate <= s.o_orderdate
     AND r.o_orderkey <> s.o_orderkey
    GROUP BY s.o_orderkey, s.o_totalprice, s.o_orderdate
    """,
)
def skyline_dominance_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominance score of each skyline point: how many other orders it
    weakly dominates (<= in both dimensions).

    Scale shape: skyline plan (bucketed, pruned) + one broadcast-range join
    + a frontier-sized aggregate."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    sky = R.pareto_skyline_2d(o).select(
        F.col("o_orderkey").alias("s_key"),
        F.col("o_totalprice").alias("s_price"),
        F.col("o_orderdate").alias("s_date"),
    )
    j = o.join(
        F.broadcast(sky),
        (F.col("o_totalprice") <= F.col("s_price"))
        & (F.col("o_orderdate") <= F.col("s_date"))
        & (F.col("o_orderkey") != F.col("s_key")),
    )
    return j.groupBy("s_key", "s_price", "s_date").agg(
        F.count(F.lit(1)).cast("long").alias("n_dominated")
    ).select(
        F.col("s_key").alias("o_orderkey"),
        F.col("s_price").alias("o_totalprice"),
        F.col("s_date").alias("o_orderdate"),
        "n_dominated",
    )


@_q(
    "join_coverage_report",
    """
    SELECT 'customer_has_order' AS relationship,
           (SELECT CAST(count(*) AS BIGINT) FROM customer) AS n_left,
           (SELECT CAST(count(*) AS BIGINT) FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey)) AS n_matched,
           (SELECT CAST(count(*) AS DOUBLE) FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey))
             / (SELECT count(*) FROM customer) AS coverage
    UNION ALL
    SELECT 'supplier_has_lineitem',
           (SELECT CAST(count(*) AS BIGINT) FROM supplier),
           (SELECT CAST(count(*) AS BIGINT) FROM supplier s
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_suppkey = s.s_suppkey)),
           (SELECT CAST(count(*) AS DOUBLE) FROM supplier s
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_suppkey = s.s_suppkey))
             / (SELECT count(*) FROM supplier)
    UNION ALL
    SELECT 'part_ever_ordered',
           (SELECT CAST(count(*) AS BIGINT) FROM part),
           (SELECT CAST(count(*) AS BIGINT) FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_partkey = p.p_partkey)),
           (SELECT CAST(count(*) AS DOUBLE) FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_partkey = p.p_partkey))
             / (SELECT count(*) FROM part)
    """,
)
def join_coverage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join coverage: for each dimension->fact relationship, the fraction of
    dimension rows that participates (customers with an order, suppliers
    with a shipment, parts ever ordered).

    Scale shape: three key-distinct semi-joins (the fact side reduces to its
    distinct keys before the join), three dimension counts."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def row(name, left, left_key, fact, fact_key):
        # one LAZY aggregate per relationship instead of two eager driver
        # count() jobs: left-join the distinct fact keys with a hit flag
        # (distinct right side ⇒ no row duplication, so count(_hit) is
        # exactly the old semi-join count) and fold both counts into a
        # single pass over the dimension.  The whole report is then ONE
        # action of three parallel branches instead of six synchronized
        # jobs at build time.
        flagged = left.select(left_key).join(
            fact.select(F.col(fact_key).alias(left_key))
            .distinct()
            .withColumn("_hit", F.lit(1)),
            left_key,
            "left",
        )
        return flagged.agg(
            F.count(F.lit(1)).cast("long").alias("n_left"),
            F.count("_hit").cast("long").alias("n_matched"),
        ).select(
            F.lit(name).alias("relationship"),
            "n_left",
            "n_matched",
            F.when(
                F.col("n_left") > 0,
                F.col("n_matched").cast("double") / F.col("n_left").cast("double"),
            ).alias("coverage"),
        )

    return (
        row("customer_has_order", c, "c_custkey", o, "o_custkey")
        .unionAll(row("supplier_has_lineitem", s, "s_suppkey", li, "l_suppkey"))
        .unionAll(row("part_ever_ordered", p, "p_partkey", li, "l_partkey"))
    )


@_q(
    "order_concentration_hhi_by_nation",
    """
    WITH oc AS (
      SELECT n.n_name, o.o_custkey, CAST(count(*) AS BIGINT) AS c
      FROM orders o
      JOIN customer cu ON cu.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = cu.c_nationkey
      GROUP BY n.n_name, o.o_custkey)
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(c) AS BIGINT) AS total_orders,
           CAST(SUM(c * c) AS DOUBLE) / (SUM(c) * SUM(c)) AS hhi,
           CAST(1 AS DOUBLE) / count(*) AS hhi_floor
    FROM oc GROUP BY n_name
    """,
)
def order_concentration_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of order volume within each
    nation: HHI = sum(c^2)/(sum c)^2 over customer order counts.

    Scale shape: custkey-keyed aggregate, broadcastable nation/customer
    dims, |nations|-sized final aggregate."""
    o = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    oc = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(F.broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return oc.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("c").cast("long").alias("total_orders"),
        (
            F.sum(F.col("c") * F.col("c")).cast("double")
            / (F.sum("c") * F.sum("c"))
        ).alias("hhi"),
        (F.lit(1).cast("double") / F.count(F.lit(1))).alias("hhi_floor"),
    )


@_q(
    "abc_classification_by_nation",
    f"""
    {_NATION_CUM_SQL},
    cls AS (
      SELECT c_nationkey, tot, total,
             CASE WHEN 5 * cum <= 4 * total THEN 'A'
                  WHEN 20 * cum <= 19 * total THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM r)
    SELECT n.n_name, cls.abc_class,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(cls.tot) AS DOUBLE) / CAST(MAX(cls.total) AS DOUBLE)
             AS revenue_share
    FROM cls JOIN nation n ON n.n_nationkey = cls.c_nationkey
    GROUP BY n.n_name, cls.abc_class
    """,
)
def abc_classification_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (80/15/5) customer classification per nation: A covers the first
    80% of cumulative revenue, B the next 15%, C the tail.

    Scale shape: the [[pareto_half_revenue_customers]] plan -- custkey
    aggregate, nation-partitioned cumulative windows, broadcast nation join,
    |nations|x3 output."""
    nation = load_table(spark, sf_dir, "nation")
    r = _nation_cum_revenue(spark, sf_dir)
    cls = r.select(
        "c_nationkey",
        "tot",
        "total",
        F.when(5 * F.col("cum") <= 4 * F.col("total"), "A")
        .when(20 * F.col("cum") <= 19 * F.col("total"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return (
        cls.join(F.broadcast(nation), cls.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            (
                F.sum("tot").cast("double") / F.max("total").cast("double")
            ).alias("revenue_share"),
        )
    )


@_q(
    "repeat_rate_by_first_basket",
    """
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey),
    firstkey AS (
      SELECT o.o_custkey, MIN(o.o_orderkey) AS first_key
      FROM orders o JOIN firsts f
        ON f.o_custkey = o.o_custkey AND o.o_orderdate = f.first_dt
      GROUP BY o.o_custkey),
    basket AS (
      SELECT fk.o_custkey,
             CAST(count(*) AS BIGINT) AS first_basket_lines
      FROM firstkey fk JOIN lineitem l ON l.l_orderkey = fk.first_key
      GROUP BY fk.o_custkey),
    repeat AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey),
    j AS (
      SELECT CASE WHEN b.first_basket_lines <= 2 THEN '1-2'
                  WHEN b.first_basket_lines <= 4 THEN '3-4'
                  ELSE '5+' END AS basket_band,
             CASE WHEN r.n_orders > 1 THEN 1 ELSE 0 END AS repeated
      FROM basket b JOIN repeat r ON r.o_custkey = b.o_custkey)
    SELECT basket_band,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(SUM(repeated) AS BIGINT) AS n_repeat,
           CAST(SUM(repeated) AS DOUBLE) / count(*) AS repeat_rate
    FROM j GROUP BY basket_band
    """,
)
def repeat_rate_by_first_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate by first-order basket size band, the first order
    being the earliest date with min orderkey as the tie-break.

    Scale shape: two custkey-keyed aggregates, one orderkey-keyed join to
    lineitem for the first basket only, a 3-row band aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    firstkey = (
        o.join(firsts, "o_custkey")
        .filter(F.col("o_orderdate") == F.col("first_dt"))
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("first_key"))
    )
    basket = (
        firstkey.join(li, firstkey.first_key == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("first_basket_lines"))
    )
    rep = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    band = (
        F.when(F.col("first_basket_lines") <= 2, "1-2")
        .when(F.col("first_basket_lines") <= 4, "3-4")
        .otherwise("5+")
    )
    j = basket.join(rep, "o_custkey").select(
        band.alias("basket_band"),
        F.when(F.col("n_orders") > 1, 1).otherwise(0).alias("repeated"),
    )
    return j.groupBy("basket_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("repeated").cast("long").alias("n_repeat"),
        (F.sum("repeated").cast("double") / F.count(F.lit(1))).alias(
            "repeat_rate"
        ),
    )


@_q(
    "price_realization_by_brand",
    """
    WITH j AS (
      SELECT p.p_brand,
             CAST(l.l_extendedprice AS DECIMAL(14,2)) AS ext,
             CAST(l.l_quantity AS DECIMAL(9,2))
               * CAST(p.p_retailprice AS DECIMAL(12,2)) AS list_value
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(ext) AS DOUBLE) AS realized_value,
           CAST(SUM(list_value) AS DOUBLE) AS list_value,
           CAST(SUM(ext) AS DOUBLE) / CAST(SUM(list_value) AS DOUBLE)
             AS realization_rate
    FROM j GROUP BY p_brand
    HAVING CAST(SUM(list_value) AS DOUBLE) > 0
    """,
)
def price_realization_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price realization per brand: transacted revenue over list-price value
    (quantity x retail price).

    Scale shape: one partkey-keyed join, one brand-keyed aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ext = F.col("l_extendedprice").cast("decimal(14,2)")
    listv = F.col("l_quantity").cast("decimal(9,2)") * F.col(
        "p_retailprice"
    ).cast("decimal(12,2)")
    j = li.join(p, li.l_partkey == p.p_partkey).select(
        "p_brand", ext.alias("ext"), listv.alias("list_value")
    )
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lineitems"),
            F.sum("ext").cast("double").alias("realized_value"),
            F.sum("list_value").cast("double").alias("list_value"),
            (
                F.sum("ext").cast("double")
                / F.sum("list_value").cast("double")
            ).alias("realization_rate"),
        )
        .filter(F.col("list_value") > 0)
    )


@_q(
    "catalog_table_counts",
    """
    SELECT 'region' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM region
    UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT) FROM nation
    UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT) FROM customer
    UNION ALL SELECT 'supplier', CAST(count(*) AS BIGINT) FROM supplier
    UNION ALL SELECT 'part', CAST(count(*) AS BIGINT) FROM part
    UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT) FROM orders
    UNION ALL SELECT 'lineitem', CAST(count(*) AS BIGINT) FROM lineitem
    UNION ALL SELECT 'events', CAST(count(*) AS BIGINT) FROM events
    UNION ALL SELECT 'documents', CAST(count(*) AS BIGINT) FROM documents
    UNION ALL SELECT 'embeddings', CAST(count(*) AS BIGINT) FROM embeddings
    """,
)
def catalog_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row counts for every table in the warehouse directory.

    Scale shape: ten metadata-cheap count aggregates unioned."""
    # one LAZY action of ten parallel count branches instead of ten
    # eager driver-synchronized count() jobs at build time
    out = None
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        one = (
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
        out = one if out is None else out.unionAll(one)
    return out


@_q(
    "order_linenumber_gaps",
    """
    WITH per AS (
      SELECT l_orderkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(MAX(l_linenumber) AS BIGINT) AS max_ln,
             CAST(MIN(l_linenumber) AS BIGINT) AS min_ln,
             CAST(count(DISTINCT l_linenumber) AS BIGINT) AS n_distinct
      FROM lineitem GROUP BY l_orderkey)
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE min_ln <> 1) AS BIGINT)
             AS n_bad_start,
           CAST(count(*) FILTER (WHERE max_ln <> n_lines) AS BIGINT)
             AS n_gapped,
           CAST(count(*) FILTER (WHERE n_distinct <> n_lines) AS BIGINT)
             AS n_duplicated,
           CAST(count(*) FILTER (WHERE min_ln = 1 AND max_ln = n_lines
                                   AND n_distinct = n_lines) AS DOUBLE)
             / count(*) AS contiguous_rate
    FROM per
    """,
)
def order_linenumber_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-integrity check: line numbers within each order must be
    exactly 1..n (min=1, max=n, all distinct).

    Scale shape: one orderkey-keyed aggregate, single-row readout."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.max("l_linenumber").cast("long").alias("max_ln"),
        F.min("l_linenumber").cast("long").alias("min_ln"),
        F.count_distinct("l_linenumber").cast("long").alias("n_distinct"),
    )
    ok = (
        (F.col("min_ln") == 1)
        & (F.col("max_ln") == F.col("n_lines"))
        & (F.col("n_distinct") == F.col("n_lines"))
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count_if(F.col("min_ln") != 1).cast("long").alias("n_bad_start"),
        F.count_if(F.col("max_ln") != F.col("n_lines"))
        .cast("long")
        .alias("n_gapped"),
        F.count_if(F.col("n_distinct") != F.col("n_lines"))
        .cast("long")
        .alias("n_duplicated"),
        (F.count_if(ok).cast("double") / F.count(F.lit(1))).alias(
            "contiguous_rate"
        ),
    )


@_q(
    "dq_functional_dependencies",
    """
    WITH checks AS (
      SELECT 'nation' AS table_name, 'n_nationkey' AS lhs, 'n_regionkey' AS rhs,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups
      FROM (SELECT n_nationkey, count(DISTINCT n_regionkey) AS nd
            FROM nation GROUP BY n_nationkey)
      UNION ALL
      SELECT 'part', 'p_brand', 'p_type',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT p_brand, count(DISTINCT p_type) AS nd
            FROM part GROUP BY p_brand)
      UNION ALL
      SELECT 'customer', 'c_nationkey', 'c_mktsegment',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT c_nationkey, count(DISTINCT c_mktsegment) AS nd
            FROM customer GROUP BY c_nationkey)
      UNION ALL
      SELECT 'orders', 'o_orderstatus', 'o_orderpriority',
             CAST(count(*) AS BIGINT),
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT o_orderstatus, count(DISTINCT o_orderpriority) AS nd
            FROM orders GROUP BY o_orderstatus))
    SELECT table_name, lhs, rhs, n_groups, n_violating_groups,
           n_violating_groups = 0 AS holds
    FROM checks
    """,
)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate rule lhs -> rhs, the
    number of lhs groups carrying more than one distinct rhs value.

    Scale shape: one keyed count-distinct aggregate per candidate FD (each
    over its own table), each reduced to one summary row before the 4-row
    union — violations never leave the executors."""
    out = []
    specs = [
        ("nation", "n_nationkey", "n_regionkey"),
        ("part", "p_brand", "p_type"),
        ("customer", "c_nationkey", "c_mktsegment"),
        ("orders", "o_orderstatus", "o_orderpriority"),
    ]
    for table, lhs, rhs in specs:
        t = load_table(spark, sf_dir, table)
        g = t.groupBy(lhs).agg(F.count_distinct(rhs).alias("nd"))
        out.append(
            g.agg(
                F.lit(table).alias("table_name"),
                F.lit(lhs).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("n_violating_groups"),
            )
        )
    rows = out[0]
    for x in out[1:]:
        rows = rows.unionAll(x)
    return rows.select(
        "table_name",
        "lhs",
        "rhs",
        "n_groups",
        "n_violating_groups",
        (F.col("n_violating_groups") == 0).alias("holds"),
    )


@_q(
    "orders_duplicate_payment_audit",
    """
    WITH p AS (
      SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b
      FROM orders a JOIN orders b
        ON b.o_custkey = a.o_custkey
       AND b.o_totalprice = a.o_totalprice
       AND b.o_orderkey > a.o_orderkey
       AND abs(date_diff('day', CAST(a.o_orderdate AS DATE),
                         CAST(b.o_orderdate AS DATE))) <= 7),
    f AS (SELECT key_a AS k FROM p UNION SELECT key_b FROM p)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_orders,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_candidate_pairs,
           CAST(count(*) AS BIGINT) AS n_flagged_orders,
           CAST(count(*) AS DOUBLE)
             / (SELECT count(*) FROM orders) AS flagged_rate
    FROM f
    """,
)
def orders_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: order pairs of the same customer with the
    same total amount within 7 days.

    Scale shape: one self-equi-join keyed on (custkey, amount) — no range
    join, no cartesian; pair fan-out bounded by per-key group size; three
    scalar aggregates."""
    o = load_table(spark, sf_dir, "orders")
    b = o.select(
        F.col("o_custkey").alias("_c"),
        F.col("o_totalprice").alias("_p"),
        F.col("o_orderkey").alias("key_b"),
        F.col("o_orderdate").alias("_d"),
    )
    p = o.join(
        b,
        (F.col("_c") == F.col("o_custkey"))
        & (F.col("_p") == F.col("o_totalprice"))
        & (F.col("key_b") > F.col("o_orderkey"))
        & (
            F.abs(
                F.datediff(F.col("_d").cast("date"), F.col("o_orderdate").cast("date"))
            )
            <= 7
        ),
    ).select(F.col("o_orderkey").alias("key_a"), "key_b")
    f = (
        p.select(F.col("key_a").alias("k"))
        .union(p.select(F.col("key_b").alias("k")))
        .distinct()
    )
    n_orders = o.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    n_pairs = p.agg(F.count(F.lit(1)).cast("long").alias("n_candidate_pairs"))
    n_flag = f.agg(F.count(F.lit(1)).cast("long").alias("n_flagged_orders"))
    return (
        n_orders.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_flag))
        .select(
            "n_orders",
            "n_candidate_pairs",
            "n_flagged_orders",
            (
                F.col("n_flagged_orders").cast("double") / F.col("n_orders")
            ).alias("flagged_rate"),
        )
    )


@_q(
    "price_round_number_bias",
    """
    WITH c AS (
      SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) % 100 AS cents
      FROM orders),
    g AS (
      SELECT CASE WHEN cents = 0 THEN 'dollar_exact'
                  WHEN cents = 50 THEN 'half_dollar'
                  WHEN cents % 10 = 0 THEN 'dime_exact'
                  ELSE 'other' END AS cents_class,
             CAST(count(*) AS BIGINT) AS n
      FROM c GROUP BY 1),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
    SELECT g.cents_class, g.n,
           CAST(g.n AS DOUBLE) / t.total AS observed_share,
           CASE g.cents_class WHEN 'dollar_exact' THEN CAST(0.01 AS DOUBLE)
                              WHEN 'half_dollar' THEN CAST(0.01 AS DOUBLE)
                              WHEN 'dime_exact' THEN CAST(0.08 AS DOUBLE)
                              ELSE CAST(0.90 AS DOUBLE) END AS uniform_share,
           CAST(g.n AS DOUBLE) / t.total
             / CASE g.cents_class WHEN 'dollar_exact' THEN CAST(0.01 AS DOUBLE)
                                  WHEN 'half_dollar' THEN CAST(0.01 AS DOUBLE)
                                  WHEN 'dime_exact' THEN CAST(0.08 AS DOUBLE)
                                  ELSE CAST(0.90 AS DOUBLE) END AS excess_ratio
    FROM g CROSS JOIN t
    """,
)
def price_round_number_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-number bias over order amounts: the share of totals on exact
    dollars, half-dollars and dimes against the uniform-cents expectation.

    Scale shape: one scan + one 4-row keyed aggregate + a broadcast scalar."""
    o = load_table(spark, sf_dir, "orders")
    cents = (
        F.floor(F.col("o_totalprice") * F.lit(100.0) + F.lit(0.5)).cast("long")
        % 100
    )
    cls = (
        F.when(cents == 0, "dollar_exact")
        .when(cents == 50, "half_dollar")
        .when(cents % 10 == 0, "dime_exact")
        .otherwise("other")
    )
    g = o.select(cls.alias("cents_class")).groupBy("cents_class").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = g.agg(F.sum("n").cast("long").alias("total"))
    uniform = (
        F.when(F.col("cents_class") == "dollar_exact", F.lit(0.01))
        .when(F.col("cents_class") == "half_dollar", F.lit(0.01))
        .when(F.col("cents_class") == "dime_exact", F.lit(0.08))
        .otherwise(F.lit(0.90))
    )
    return g.crossJoin(F.broadcast(t)).select(
        "cents_class",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("observed_share"),
        uniform.alias("uniform_share"),
        (F.col("n").cast("double") / F.col("total") / uniform).alias(
            "excess_ratio"
        ),
    )
