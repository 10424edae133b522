"""Data-quality checks: violation counting on constructed dirty data, and
the one-scan shape for row-level checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import validate as V


def test_row_checks_one_scan_counts_violations(spark):
    df = spark.createDataFrame(
        [(1, 10.0, "O"), (2, -5.0, "O"), (3, 0.0, "X"), (4, -1.0, "Y")],
        "id long, price double, status string",
    )
    rep = V.row_checks(
        df,
        {
            "price_nonneg": F.col("price") < 0,
            "status_domain": ~F.col("status").isin("O", "F", "P"),
        },
    )
    got = {r["check"]: (r["violations"], r["n_checked"]) for r in rep.collect()}
    assert got == {"price_nonneg": (2, 4), "status_domain": (2, 4)}
    # one scan: a single aggregate, no join, no repeated source
    plan = rep._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_unique_check_counts_extra_rows(spark):
    df = spark.createDataFrame(
        [(1, 1), (1, 1), (1, 1), (2, 1), (3, 1)], "a long, b long"
    )
    r = V.unique_check(df, ["a", "b"], "pk").first()
    assert (r["check"], r["violations"], r["n_checked"]) == ("pk", 2, 5)


def test_ref_check_counts_orphans(spark):
    fact = spark.createDataFrame([(1,), (2,), (9,), (9,)], "o_custkey long")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "c_custkey long")
    r = V.ref_check(fact, dim).first()
    assert (r["violations"], r["n_checked"]) == (2, 4)
    plan = (
        V.ref_check(fact, dim)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
