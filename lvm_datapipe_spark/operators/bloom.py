"""Bloom-filter join pruning — the runtime-filter primitive for selective
fact ⋈ dim joins at 100 TB.

When a dimension-side predicate keeps only a small fraction of join keys,
shuffling the ENTIRE fact table into the join wastes almost all of the
shuffle: most fact rows match nothing.  The classic fix (Spark's own
runtime row-level filtering, Trino/Velox dynamic filters) is to build a
fixed-size Bloom bitmap over the qualifying dim keys, ship it to every
fact scan task, and drop non-matching rows BEFORE the exchange.  The
bitmap is metadata-sized (m bits regardless of key count — 64 Kbit covers
tens of thousands of keys at ~1% FP), so the build-side aggregate +
driver collect is the same bounded-metadata pattern as the IVF probe-cell
collect (similarity.py): the thing collected cannot grow with the corpus.

False positives only COST, never corrupt: the exact semi join still runs
above the pre-filter, so the result is bit-identical to the unfiltered
semi join (which is exactly what the DuckDB oracle replays).  The k hash
positions come from Spark's xxhash64 (JVM codegen, no UDF) with the hash
index mixed in as an extra hashed column; the whole membership test is
ONE parsed SQL expression (the sql_fold trick from similarity.py — no
py4j round-trip per bitmap word), so whole-stage codegen keeps it inside
the scan stage.

The reference has no runtime-filter analog (single-process scripts scan
what they're given — e.g. video_split_ffmpeg.py walks its whole input
dir); this is the Spark-first shape the same workload needs on a cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_bitmap",
    "bloom_might_contain",
    "bloom_prefiltered_semi_join",
]

_WORD = 64
#: bitmap size in bits (a multiple of 64) and hash count; the functions
#: read them at call time
BLOOM_M_BITS = 1 << 16
BLOOM_N_HASHES = 3


def _position_sql(key_sql: str, i: int, m_bits: int) -> str:
    """SQL text for the i-th bit position of a key: xxhash64(key, i) mod m."""
    return f"pmod(xxhash64({key_sql}, {i}), {m_bits})"


def bloom_bitmap(dim: DataFrame) -> list[int]:
    """Aggregate the dim side's qualifying ``c_custkey`` keys into an
    m-bit (``BLOOM_M_BITS``) Bloom bitmap with k (``BLOOM_N_HASHES``)
    positions per key, returned as a list of m/64 longs.

    Distributed shape: each key row emits its k bit positions (narrow),
    then ONE keyed aggregate ORs the per-word masks together — map-side
    partial bit_or means each executor sends at most m/64 rows.  The
    collect is bounded by m (a build constant), never by the key count.
    """
    m_bits = BLOOM_M_BITS
    n_words = m_bits // _WORD
    pos_arr = ",".join(
        _position_sql("c_custkey", i, m_bits) for i in range(BLOOM_N_HASHES)
    )
    words = (
        dim.selectExpr(f"explode(array({pos_arr})) AS p")
        .selectExpr(
            f"CAST(p / {_WORD} AS INT) AS w",
            f"shiftleft(CAST(1 AS BIGINT), CAST(p % {_WORD} AS INT)) AS m",
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("word"))
        .collect()
    )
    bitmap = [0] * n_words
    for r in words:
        bitmap[r["w"]] = r["word"]
    return bitmap


def bloom_might_contain(bitmap: list[int]) -> Column:
    """Membership test of ``o_custkey`` against a literal bitmap — pure JVM
    expression.  The bitmap folds into one array literal inside a single
    F.expr parse; each of the k (``BLOOM_N_HASHES``) positions checks its
    bit with shiftright/AND.
    """
    m_bits = len(bitmap) * _WORD
    arr = "array(" + ",".join(f"CAST({w} AS BIGINT)" for w in bitmap) + ")"
    checks = []
    for i in range(BLOOM_N_HASHES):
        p = _position_sql("o_custkey", i, m_bits)
        word = f"element_at({arr}, CAST(({p}) / {_WORD} AS INT) + 1)"
        checks.append(
            f"(shiftright({word}, CAST(({p}) % {_WORD} AS INT)) & 1) = 1"
        )
    return F.expr(" AND ".join(checks))


def bloom_prefiltered_semi_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Exact left-semi join of orders on customers with a Bloom pre-filter
    on the fact side.

    Result is IDENTICAL to ``fact.join(dim, fact.o_custkey ==
    dim.c_custkey, "left_semi")`` — the Bloom stage only prunes rows that
    cannot match, so false positives are removed by the exact semi join
    that follows.  What changes is the shuffle volume: only fact rows whose
    key might be in the dim survive to the exchange.
    """
    pre = fact.filter(bloom_might_contain(bloom_bitmap(dim)))
    return pre.join(dim, pre["o_custkey"] == dim["c_custkey"], "left_semi")


