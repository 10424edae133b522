"""Hot-basket guard (graph.cap_baskets) — VERDICT r7 item 1.

Two contracts:

1. EQUIVALENCE on the declared corpus: TPC-H orders carry <= 7 lines, so
   every capped co-occurrence query must return bit-identical results with
   the guard on vs off.  Pinned here for the four VERDICT-named queries by
   rebuilding each pair plan from an uncapped basket table and comparing.
2. The guard actually GUARDS: a planted hot basket above the cap is
   dropped, every normal basket survives, and the pair build's row count
   is bounded by n_normal * size**2 instead of exploding on the hot key.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators.graph import cap_baskets

SF = "/root/testdata/sf0.001"


def _basket(spark, table: str, item: str):
    return (
        load_table(spark, SF, table).select("l_orderkey", item).distinct()
    )


def test_corpus_baskets_all_under_cap(spark):
    """The precondition the equivalence rests on: no declared-corpus
    basket is anywhere near the cap (the synthetic lineitem peaks at
    ~17 distinct parts per order across the three SFs)."""
    b = _basket(spark, "lineitem", "l_partkey")
    mx = b.groupBy("l_orderkey").count().agg(F.max("count")).collect()[0][0]
    assert mx < 64


def test_cap_is_identity_on_declared_corpus(spark):
    b = _basket(spark, "lineitem", "l_partkey")
    capped = cap_baskets(b, "l_orderkey", 64)
    assert capped.count() == b.count()
    assert capped.exceptAll(b).count() == 0


def _pairs(b, item: str):
    x = b.select("l_orderkey", F.col(item).alias("p1"))
    y = b.select("l_orderkey", F.col(item).alias("p2"))
    return (
        x.join(y, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )


def test_capped_pair_build_equals_uncapped(spark):
    """The pair aggregate — shared edge source of basket_part_lift,
    item_item_cosine, graph_triangle_counts, graph_kcore_parts — is
    bit-identical with and without the guard at the declared corpus."""
    b = _basket(spark, "lineitem", "l_partkey")
    with_cap = _pairs(cap_baskets(b, "l_orderkey", 64), "l_partkey")
    without = _pairs(b, "l_partkey")
    assert with_cap.exceptAll(without).count() == 0
    assert without.exceptAll(with_cap).count() == 0


def test_supplier_edge_source_equivalence(spark):
    b = _basket(spark, "lineitem", "l_suppkey")
    with_cap = _pairs(cap_baskets(b, "l_orderkey", 64), "l_suppkey")
    without = _pairs(b, "l_suppkey")
    assert with_cap.exceptAll(without).count() == 0
    assert without.exceptAll(with_cap).count() == 0


def test_declared_queries_match_uncapped_history(spark):
    """End-to-end: the four VERDICT-named declared queries produce the
    same rows as their pre-r8 (uncapped) forms on the declared corpus."""
    from lvm_datapipe_spark import queries as Q

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    b = li.distinct()
    # uncapped replica of basket_part_lift's pair+lift plan
    n = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    pair = _pairs(b, "l_partkey").filter(F.col("co") >= 3)
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("c1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("c2"))
    lift = (F.col("co").cast("double") * F.col("n_orders").cast("double")) / (
        F.col("c1").cast("double") * F.col("c2").cast("double")
    )
    uncapped = (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .join(F.broadcast(n))
        .select("p1", "p2", "co", lift.alias("lift"))
    )
    declared = Q.QUERIES["basket_part_lift"](spark, SF)
    assert declared.exceptAll(uncapped).count() == 0
    assert uncapped.exceptAll(declared).count() == 0


def test_hot_basket_is_dropped_and_fanout_bounded(spark):
    """A planted 500-item basket (B^2/2 = 125k pair rows on one key) is
    deleted by the guard; the 50 normal 4-item baskets pass through and
    the pair build stays at exactly 50 * C(4,2) rows."""
    rows = [(o, f"item_{o}_{i}") for o in range(50) for i in range(4)]
    rows += [(999, f"hot_{i}") for i in range(500)]
    df = spark.createDataFrame(rows, ["l_orderkey", "item"])

    capped = cap_baskets(df, "l_orderkey", 64)
    kept_baskets = {r[0] for r in capped.select("l_orderkey").distinct().collect()}
    assert 999 not in kept_baskets
    assert kept_baskets == set(range(50))

    pairs = _pairs(capped, "item")
    assert pairs.count() == 50 * 6  # C(4,2) per surviving basket

    # and without the guard the hot key dominates: 500*499/2 extra rows
    unguarded = _pairs(df, "item")
    assert unguarded.count() == 50 * 6 + 500 * 499 // 2


def test_cap_boundary_inclusive(spark):
    """Baskets of exactly max_basket_size survive (the guard is >, not >=)."""
    rows = [(1, f"a{i}") for i in range(8)] + [(2, f"b{i}") for i in range(9)]
    df = spark.createDataFrame(rows, ["l_orderkey", "item"])
    kept = cap_baskets(df, "l_orderkey", 8)
    ks = {r[0] for r in kept.select("l_orderkey").distinct().collect()}
    assert ks == {1}


def test_null_basket_rows_survive_the_cap(spark):
    """Rows with a NULL basket key are kept whatever their number, as
    under the offender anti-join (a NULL key never matches an offender);
    non-NULL baskets above the cap are still dropped."""
    rows = (
        [(1, f"a{i}") for i in range(3)]
        + [(2, f"b{i}") for i in range(9)]
        + [(None, f"n{i}") for i in range(12)]
    )
    df = spark.createDataFrame(rows, "l_orderkey long, item string")
    kept = cap_baskets(df, "l_orderkey", 8)
    assert kept.schema == df.schema
    got = sorted((str(r.l_orderkey), r.item) for r in kept.collect())
    want = sorted((str(o), i) for o, i in rows if o != 2)
    assert got == want
