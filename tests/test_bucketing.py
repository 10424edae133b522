"""Bucketed co-located join tests: same-bucketed tables must join without a
shuffle on either side."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.plans.bucketing import count_exchanges, write_bucketed


@pytest.fixture()
def bucketed_tables(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("clip_id"), "l_extendedprice", "l_quantity"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("clip_id"), "o_totalprice"
    )
    write_bucketed(li, "b_lineitem", n_buckets=8)
    write_bucketed(orders, "b_orders", n_buckets=8)
    yield "b_lineitem", "b_orders"
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_bucketed_join_is_shuffle_free(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    joined = spark.table(lt).join(spark.table(rt).hint("merge"), "clip_id")
    assert count_exchanges(joined) == 0  # co-located: no Exchange on either side
    # and it computes the same result as the plain shuffled join
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    want = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert joined.count() == want


def test_unbucketed_join_shuffles(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", rebalance=False)
    orders = load_table(spark, sf_dir, "orders", rebalance=False).withColumnRenamed(
        "o_orderkey", "l_orderkey"
    )
    # force a non-broadcast join for comparison
    joined = li.hint("merge").join(orders.hint("merge"), "l_orderkey")
    assert count_exchanges(joined) >= 2  # both sides shuffle without buckets
