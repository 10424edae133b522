"""Lexical ranking and hybrid retrieval fusion.

The reference engine exposes no retrieval surface; this module adds the
standard search-side operators a training-data pipeline needs when the
corpus doubles as a retrieval index (dedup mining, eval-set construction,
RAG corpus curation):

- :func:`bm25_scores` — BM25 term-saturation scoring (Robertson et al.)
  with a LOG-FREE linear idf: the same bit-portability rationale as
  ``queries.tfidf_top_terms`` (no ``ln`` means every score is a chain of
  exact-integer casts, one multiply and two divides — identical bits on
  Spark and the DuckDB oracle).
- :func:`ranked_topk` — global top-k + dense rank over the SURVIVORS
  only: ``orderBy().limit(k)`` compiles to TakeOrderedAndProject (each
  task keeps a k-row heap, the driver merges — no global sort shuffle),
  and the ROW_NUMBER window that assigns ranks sees at most k rows by
  construction, so the single-partition window is bounded, not a
  corpus-sized scale hazard.
- :func:`rrf_fuse` — reciprocal-rank fusion (Cormack et al., 2009) of two
  bounded candidate lists via one full-outer join on the id.  RRF needs
  only ranks, never score calibration, which is why it is the standard
  lexical+vector hybrid: ``1/(k0+rank)`` is exact integer arithmetic
  followed by one divide.

Scale shape: scoring is posting-list style — the token stream is filtered
to the query's terms BEFORE any shuffle, so the (doc, term) aggregate is
sized by the query terms' posting lists, not the corpus token count; df
and the corpus scalars broadcast.  Fusion joins two ≤k-row lists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.text import tokens


#: the BM25 query: distinct lowercase terms (tokens are lowercased before
#: matching), combined in this order; read at call time
BM25_TERMS = ("window", "merge", "stream")


def bm25_scores(docs: DataFrame) -> DataFrame:
    """Per-document BM25 score for the fixed bag of query terms
    ``BM25_TERMS``.

    Returns ``(doc_id, score)`` for every document matching at least one
    term.  Per-term scores combine in the FIXED textual order of the
    terms (conditional-max pivot + coalesce chain), never through an
    order-sensitive float SUM aggregate — the oracle replays the same
    chain, so the result is bit-identical.

    The idf is the linear Robertson/Sparck-Jones core without the log:
    ``(N - df + 0.5) / (df + 0.5)``.  Log is strictly monotone per term,
    so single-term rankings are unchanged; multi-term mixes weight rare
    terms more strongly than log-BM25 — that spec choice is the price of
    cross-engine bit determinism (documented, mirrored in the oracle).
    """
    k1 = 1.2
    b = 0.75
    terms = BM25_TERMS
    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    n = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_toks"),
    )
    tf = (
        tok.filter(F.col("token").isin(list(terms)))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avgdl = F.col("total_toks").cast("double") / F.col("n_docs").cast("double")
    idf = (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tfd = F.col("tf").cast("double")
    s = idf * (tfd * F.lit(k1 + 1.0)) / (
        tfd + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token", s.alias("s"))
    )
    combined: Column = F.lit(0.0)
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("token") == t, F.col("s"))).alias(f"s_{i}")
            for i, t in enumerate(terms)
        ]
    )
    for i in range(len(terms)):
        combined = combined + F.coalesce(F.col(f"s_{i}"), F.lit(0.0))
    return per_term.select("doc_id", combined.alias("score"))


def ranked_topk(
    scored: DataFrame,
    score_col: str,
    id_col: str,
    k: int,
) -> DataFrame:
    """Global top-``k`` by ``(score desc, id asc)`` with a 1-based rank.

    The limit runs FIRST (TakeOrderedAndProject — per-task k-row heaps,
    no sort shuffle); the rank window then sees ≤ k rows, so its single
    partition is bounded by the candidate-list size, never the corpus.
    """
    top = scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return top.select(id_col, score_col).withColumn(
        "rank", F.row_number().over(w)
    )


def rrf_fuse(left: DataFrame, right: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion of two ranked ``(doc_id, rank)`` candidate
    lists.

    ``rrf = 1/(k0 + rank_left) + 1/(k0 + rank_right)`` with a missing
    side contributing exactly ``0.0`` (full-outer join + coalesce).  Both
    inputs are ≤ candidate-list-sized by contract (see
    :func:`ranked_topk`), so the join is broadcast-trivial at any corpus
    scale."""
    k0 = 60
    a = left.select(F.col("doc_id").alias("_ida"), F.col("rank").alias("_ra"))
    bdf = right.select(F.col("doc_id").alias("_idb"), F.col("rank").alias("_rb"))
    j = a.join(bdf, a["_ida"] == bdf["_idb"], "full_outer")
    contrib_a = F.lit(1.0) / (F.lit(k0) + F.col("_ra")).cast("double")
    contrib_b = F.lit(1.0) / (F.lit(k0) + F.col("_rb")).cast("double")
    return j.select(
        F.coalesce(F.col("_ida"), F.col("_idb")).alias("doc_id"),
        (F.coalesce(contrib_a, F.lit(0.0)) + F.coalesce(contrib_b, F.lit(0.0))).alias(
            "rrf"
        ),
    )
