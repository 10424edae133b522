"""Bloom-filter join pruning: exactness (never drops a matching row),
pruning effectiveness, and the plan shape — the bloom filter must run
inside the fact scan stage, below the semi-join exchange."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import bloom as B


def test_bitmap_has_no_false_negatives(spark, monkeypatch):
    monkeypatch.setattr(B, "BLOOM_M_BITS", 1 << 14)
    dim = spark.range(0, 500).select((F.col("id") * 7 + 3).alias("c_custkey"))
    bm = B.bloom_bitmap(dim)
    assert len(bm) == (1 << 14) // 64
    hits = (
        dim.withColumnRenamed("c_custkey", "o_custkey")
        .filter(B.bloom_might_contain(bm))
        .count()
    )
    assert hits == 500  # every inserted key must test positive


def test_false_positive_rate_is_bounded(spark):
    dim = spark.range(0, 1000).select(F.col("id").alias("c_custkey"))
    bm = B.bloom_bitmap(dim)
    # probe 10k keys disjoint from the inserted range
    probes = spark.range(1_000_000, 1_010_000).select(F.col("id").alias("o_custkey"))
    fp = probes.filter(B.bloom_might_contain(bm)).count()
    # theoretical fp ~ (1 - e^{-kn/m})^k ~ 0.01% here; allow 100x slack
    assert fp < 100


def test_prefiltered_semi_join_equals_plain_semi_join(spark):
    fact = spark.range(0, 20_000).select(
        (F.col("id") % 4096).alias("o_custkey"), F.col("id").alias("v")
    )
    dim = spark.range(0, 4096).filter(F.col("id") % 37 == 0).select(
        F.col("id").alias("c_custkey")
    )
    got = B.bloom_prefiltered_semi_join(fact, dim)
    want = fact.join(dim, fact.o_custkey == dim.c_custkey, "left_semi")
    assert sorted(got.collect()) == sorted(want.collect())


def test_bloom_filter_runs_below_the_join_exchange(spark):
    from lvm_datapipe_spark.queries import QUERIES

    df = QUERIES["bloom_pruned_semi_join"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # the xxhash64 membership test must appear in a Filter, and that filter
    # must be attached to the fact scan side (below any Exchange in the
    # string dump = appears after the last Exchange line it feeds)
    assert "xxhash64" in plan
    fact_scan = plan.split("parquet")[0]
    # no cartesian anywhere, bitmap is a literal (no extra join to ship it)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bitmap_word_layout(spark, monkeypatch):
    # a single known key sets exactly n_hashes bits (or fewer on collision),
    # and the membership test reads the same constants back
    monkeypatch.setattr(B, "BLOOM_M_BITS", 1 << 10)
    dim = spark.range(0, 1).select(F.lit(12345).alias("c_custkey"))
    probe = dim.withColumnRenamed("c_custkey", "o_custkey")
    for n_hashes in (1, 3):
        monkeypatch.setattr(B, "BLOOM_N_HASHES", n_hashes)
        bm = B.bloom_bitmap(dim)
        set_bits = sum(bin(w & (2**64 - 1)).count("1") for w in bm)
        assert 1 <= set_bits <= n_hashes
        assert len(bm) == (1 << 10) // 64
        assert probe.filter(B.bloom_might_contain(bm)).count() == 1
