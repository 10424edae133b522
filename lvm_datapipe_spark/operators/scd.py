"""Slowly-changing-dimension (type 2) merge — versioned upsert for corpus
metadata tables.

A training-data pipeline re-ingests sources repeatedly; downstream debug
("which version of this document did run X train on?") needs the old
attribute values, not just the newest.  SCD2 keeps one row per VERSION of
a key: an open row (``valid_to`` NULL) per live key plus closed rows for
every superseded version.  The merge of an incoming snapshot is:

- key in both, fingerprint changed  → close the open row at the batch
  timestamp AND insert a fresh open row;
- key in both, fingerprint equal    → keep the open row untouched;
- key only in the update snapshot   → insert a fresh open row;
- key only in the current table     → keep the open row (upsert
  semantics: an absent key is "no news", not a delete);
- closed history rows               → pass through unchanged.

Distributed shape: ONE full-outer equi-join of the open rows against the
update snapshot on the key (the same single-keyed-shuffle pattern as
relational.snapshot_diff), then each joined row emits its 1–2 output
versions through an inline array-explode — no second pass, no window.
History rows union in without a shuffle.  At 100 TB both sides bucketed
on the key make the join Exchange-free; the output is append-friendly
(closed rows never change again), which is what makes SCD2 the
incremental-pipeline-safe layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["scd2_merge"]


def scd2_merge(current: DataFrame, updates: DataFrame) -> DataFrame:
    """Merge the 2024-06-01 update snapshot into an SCD2 table.

    ``current`` columns: doc_id, fingerprint, valid_from, valid_to
    (valid_to NULL = open row).  ``updates`` columns: doc_id, fingerprint.
    Returns the merged SCD2 table with the same four columns.  Validity
    bounds are ISO date STRINGS — engine- and timezone-portable, lexically
    ordered.
    """
    key = "doc_id"
    batch_date = "2024-06-01"
    fp = "fingerprint"
    from_col = "valid_from"
    to_col = "valid_to"
    open_rows = current.filter(F.col(to_col).isNull())
    hist = current.filter(F.col(to_col).isNotNull()).select(
        key, fp, from_col, to_col
    )
    o = open_rows.select(
        F.col(key).alias("_k"),
        F.col(fp).alias("_ofp"),
        F.col(from_col).alias("_ofrom"),
    )
    u = updates.select(F.col(key).alias("_uk"), F.col(fp).alias("_ufp"))
    j = o.join(u, o["_k"] == u["_uk"], "full_outer")

    nstr = F.lit(None).cast("string")
    old_open = F.struct(
        F.col("_k").alias(key),
        F.col("_ofp").alias(fp),
        F.col("_ofrom").alias(from_col),
        nstr.alias(to_col),
    )
    closed_old = F.struct(
        F.col("_k").alias(key),
        F.col("_ofp").alias(fp),
        F.col("_ofrom").alias(from_col),
        F.lit(batch_date).alias(to_col),
    )
    new_open = F.struct(
        F.coalesce(F.col("_uk"), F.col("_k")).alias(key),
        F.col("_ufp").alias(fp),
        F.lit(batch_date).alias(from_col),
        nstr.alias(to_col),
    )
    changed = (
        F.col("_k").isNotNull()
        & F.col("_uk").isNotNull()
        & (F.col("_ofp") != F.col("_ufp"))
    )
    new_key = F.col("_k").isNull()
    rows = (
        F.when(changed, F.array(closed_old, new_open))
        .when(new_key, F.array(new_open))
        .otherwise(F.array(old_open))
    )
    merged = (
        j.select(F.explode(rows).alias("_r"))
        .select(
            F.col(f"_r.{key}").alias(key),
            F.col(f"_r.{fp}").alias(fp),
            F.col(f"_r.{from_col}").alias(from_col),
            F.col(f"_r.{to_col}").alias(to_col),
        )
    )
    return hist.unionByName(merged)


def temporal_join(facts: DataFrame, versions: DataFrame) -> DataFrame:
    """Join facts to the dimension VERSION valid at each fact's timestamp —
    the read side of SCD2 (the write side is :func:`scd2_merge`).

    Condition: ``doc_id`` equality + ``valid_from <= ts < valid_to`` with a NULL
    ``valid_to`` meaning "still open".  Because the key equality is part
    of the condition, Spark keeps this a plain hash/sort-merge EQUI join
    with the validity window as a cheap post-join residual — one keyed
    shuffle at any scale, never a nested loop (the keyless variant is
    ``asof.binned_range_join``).  SCD2 well-formedness (non-overlapping
    versions per key) guarantees at most one match per fact, so the join
    cannot fan out.

    A LEFT join: facts whose timestamp precedes the first version keep
    null dimension columns — the common backfill case.
    """
    f, v = facts.alias("f"), versions.alias("v")
    cond = (
        (F.col("f.doc_id") == F.col("v.doc_id"))
        & (F.col("f.ts") >= F.col("v.valid_from"))
        & (F.col("v.valid_to").isNull() | (F.col("f.ts") < F.col("v.valid_to")))
    )
    joined = f.join(v, cond, "left_outer")
    return joined.select(
        "f.*", *[F.col(f"v.{c}").alias(c) for c in versions.columns if c != "doc_id"]
    )
