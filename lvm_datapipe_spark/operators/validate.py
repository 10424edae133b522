"""Declarative data-quality checks — the dbt-test/Deequ shape for corpus
pipelines: assert properties of a table, get one row per check with a
violation count, gate the pipeline on zero.

Scale discipline: ALL row-level predicates over one table aggregate in a
SINGLE scan (conditional sums unpivoted to rows — k checks cost one
pass, not k jobs); uniqueness is one keyed aggregate; referential
integrity is one anti join.  Each check result is (check, violations,
n_checked), so the report unions into one small frame regardless of
corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["row_checks", "unique_check", "ref_check", "dq_union"]


def row_checks(df: DataFrame, checks: dict[str, Column]) -> DataFrame:
    """Evaluate row-level VIOLATION predicates in one scan.

    ``checks`` maps a check name to a boolean column that is true when
    the row VIOLATES the check.  One aggregate computes every count
    map-side; a stack() unpivot turns the single result row into one row
    per check."""
    aggs = [
        F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"v_{i}")
        for i, cond in enumerate(checks.values())
    ]
    wide = df.agg(*aggs, F.count(F.lit(1)).alias("n"))
    pairs = ", ".join(
        f"'{name}', v_{i}" for i, name in enumerate(checks)
    )
    return wide.selectExpr(
        f"stack({len(checks)}, {pairs}) AS (check, violations)", "n AS n_checked"
    )


def unique_check(df: DataFrame, cols: list[str], name: str) -> DataFrame:
    """Key-uniqueness check: violations = rows beyond the first per
    duplicated key (0 when the key is unique).  One keyed aggregate with
    map-side partials."""
    per = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("_c"))
    return per.agg(
        F.lit(name).alias("check"),
        F.sum(F.col("_c") - 1).cast("long").alias("violations"),
        F.sum("_c").cast("long").alias("n_checked"),
    ).select("check", "violations", "n_checked")


def ref_check(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Referential-integrity check ``orders_custkey_refs_customer``:
    violations = orders whose ``o_custkey`` has no match among the
    customers' ``c_custkey``.  ONE left-outer join with a match marker
    + one aggregate — fully plan-composable (no build-time action), and
    the dim key set broadcasts when it fits."""
    keys = dim.select(F.col("c_custkey").alias("o_custkey")).distinct().withColumn(
        "_hit", F.lit(1)
    )
    j = fact.select("o_custkey").join(keys, "o_custkey", "left_outer")
    return j.agg(
        F.lit("orders_custkey_refs_customer").alias("check"),
        F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("violations"),
        F.count(F.lit(1)).cast("long").alias("n_checked"),
    ).select("check", "violations", "n_checked")


def dq_union(*reports: DataFrame) -> DataFrame:
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out
