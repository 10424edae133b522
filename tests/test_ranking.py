"""Unit tests for lexical ranking / hybrid fusion (operators/ranking.py)
and skip-gram pair shaping (operators/text.py).

The DuckDB parity of the declared queries (bm25_topk, hybrid_rank_fusion,
skipgram_pairs) is covered by tools/census.py --correctness; these tests pin
the operator semantics on hand-computed corpora.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import ranking as RK
from lvm_datapipe_spark.operators import text as X


@pytest.fixture(scope="module")
def tiny_docs(spark):
    return spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog fish"), (3, "bird")],
        ["doc_id", "text"],
    )


def _bm25_expected(tf: int, df: int, dl: int, n_docs: int, avgdl: float) -> float:
    # same association order as bm25_scores / the oracle SQL
    idf = (float(n_docs) - float(df) + 0.5) / (float(df) + 0.5)
    return idf * (float(tf) * 2.2) / (
        float(tf) + 1.2 * (0.25 + 0.75 * (float(dl) / avgdl))
    )


def test_bm25_scores_hand_computed(spark, tiny_docs, monkeypatch):
    monkeypatch.setattr(RK, "BM25_TERMS", ("cat", "dog"))
    got = {
        r["doc_id"]: r["score"]
        for r in RK.bm25_scores(tiny_docs).collect()
    }
    avgdl = 6.0 / 3.0
    exp1 = _bm25_expected(2, 1, 3, 3, avgdl) + _bm25_expected(1, 2, 3, 3, avgdl)
    exp2 = _bm25_expected(1, 2, 2, 3, avgdl)
    # bit-exact: the Python fold above replays the Column expression order
    assert got == {1: exp1, 2: exp2}
    assert 3 not in got  # no matching term -> no row


def test_bm25_tf_saturation_and_length_norm(spark, tiny_docs, monkeypatch):
    monkeypatch.setattr(RK, "BM25_TERMS", ("dog",))
    got = {
        r["doc_id"]: r["score"]
        for r in RK.bm25_scores(tiny_docs).collect()
    }
    # doc 2 is shorter than doc 1 with the same tf=1 -> higher score
    assert got[2] > got[1]


def test_ranked_topk_bounds_and_ties(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, 7.0), (3, 5.0), (4, 1.0)], ["doc_id", "score"]
    )
    rows = RK.ranked_topk(df, "score", "doc_id", 3).collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(2, 1), (1, 2), (3, 3)]


def test_rrf_fuse_full_outer_semantics(spark):
    a = spark.createDataFrame([(1, 1), (2, 2)], ["doc_id", "rank"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["doc_id", "rank"])
    got = {r["doc_id"]: r["rrf"] for r in RK.rrf_fuse(a, b).collect()}
    assert got == {
        1: 1.0 / 61.0 + 0.0,
        2: 1.0 / 62.0 + 1.0 / 61.0,
        3: 0.0 + 1.0 / 62.0,
    }


def test_skipgram_pairs_hand_computed(spark, monkeypatch):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    monkeypatch.setattr(X, "SKIPGRAM_WINDOW", 1)
    got = {
        (r["center"], r["context"]): r["cnt"]
        for r in X.skipgram_pairs(docs, min_count=1).collect()
    }
    assert got == {("a", "b"): 1, ("b", "a"): 1, ("b", "c"): 1, ("c", "b"): 1}


def test_skipgram_window2_includes_distance2_pairs(spark):
    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    got = {
        (r["center"], r["context"]): r["cnt"]
        for r in X.skipgram_pairs(docs, min_count=1).collect()
    }
    assert got[("a", "c")] == 1 and got[("c", "a")] == 1
    assert len(got) == 6


def test_skipgram_min_count_floor_and_empty_text(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "x y x y x y"), (2, ""), (3, "z")], ["doc_id", "text"]
    )
    monkeypatch.setattr(X, "SKIPGRAM_WINDOW", 1)
    out = X.skipgram_pairs(docs, min_count=3)
    got = {(r["center"], r["context"]): r["cnt"] for r in out.collect()}
    # x<->y adjacencies occur 5 times each direction; z has no neighbors
    assert got == {("x", "y"): 5, ("y", "x"): 5}


def test_fusion_query_plan_has_no_corpus_sort(spark):
    """The candidate legs must compile to TakeOrderedAndProject (top-k
    heaps), never a global Sort over the corpus."""
    from lvm_datapipe_spark.queries import QUERIES

    plan = QUERIES["hybrid_rank_fusion"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_hashed_features_unit_norm_and_determinism(spark, monkeypatch):
    docs = spark.createDataFrame(
        [(1, "cat dog cat fish"), (2, "cat"), (3, "")], ["doc_id", "text"]
    )
    monkeypatch.setattr(X, "HASH_DIM", 8)
    monkeypatch.setattr(X, "HASH_SALT", "t")
    rows = X.hashed_features(docs).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append((r["bucket"], r["weight"]))
    # L2 norm is 1 for every doc with surviving buckets
    for doc, feats in by_doc.items():
        assert abs(sum(w * w for _, w in feats) - 1.0) < 1e-12
    # single-token doc -> exactly one bucket at weight +-1
    assert len(by_doc[2]) == 1 and abs(abs(by_doc[2][0][1]) - 1.0) < 1e-15
    # empty doc -> no rows
    assert 3 not in by_doc
    # stable under repartition (pure hash of content)
    again = X.hashed_features(docs.repartition(7)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hashed_features_signs_cancel(spark, monkeypatch):
    # two tokens in the same bucket with opposite signs must cancel and
    # drop the bucket; synthesize by brute-force searching token pairs
    from lvm_datapipe_spark.operators.sampling import hash_bucket

    cand = spark.createDataFrame(
        [(f"w{i}",) for i in range(300)], ["token"]
    ).select(
        "token",
        hash_bucket("token", 4, "t").alias("b"),
        (
            F.lit(1)
            - F.lit(2)
            * (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit("t"), F.col("token")).cast("binary")),
                        9,
                        1,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            )
        ).alias("s"),
    )
    rows = cand.collect()
    pos = {(r["b"], r["s"]): r["token"] for r in rows}
    pair = None
    for b in range(4):
        if (b, 1) in pos and (b, -1) in pos:
            pair = (pos[(b, 1)], pos[(b, -1)], b)
            break
    assert pair, "no cancelling pair among 300 tokens (hash badly skewed?)"
    docs = spark.createDataFrame([(1, f"{pair[0]} {pair[1]}")], ["doc_id", "text"])
    monkeypatch.setattr(X, "HASH_DIM", 4)
    monkeypatch.setattr(X, "HASH_SALT", "t")
    out = X.hashed_features(docs).collect()
    assert all(r["bucket"] != pair[2] for r in out)



def test_sparse_cosine_matches_dense_numpy_reference(spark):
    """The inverted-index sparse dot (sparse_cosine_topk) must rank
    exactly like an independent dense cosine over the same hashed
    vectors — numpy is the reference implementation here, not DuckDB."""
    import numpy as np

    from lvm_datapipe_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    counts = X.hashed_counts(spark.read.parquet(f"{sf}/documents.parquet")).collect()
    vecs = {}
    for r in counts:
        vecs.setdefault(r["doc_id"], np.zeros(64))[r["bucket"]] = r["w"]
    q = vecs[0] / np.linalg.norm(vecs[0])
    sims = sorted(
        (
            (float(q @ (v / np.linalg.norm(v))), doc)
            for doc, v in vecs.items()
            if doc != 0
        ),
        key=lambda t: (-t[0], t[1]),
    )[:10]
    want = [doc for _, doc in sims]
    got_rows = QUERIES["sparse_cosine_topk"](spark, sf).collect()
    got = [r["doc_id"] for r in got_rows]
    assert got == want
    for (s, _), r in zip(sims, got_rows):
        assert abs(r["cos_sim"] - s) < 1e-9


def test_rbo_identities_and_identical_rankings_normalize_to_one(spark):
    """RBO invariants on the driver corpus: overlaps are monotone in depth,
    bounded by d, contributions recompute from (w, overlap, d), and the
    total matches the per-depth sum; a synthetic identical-rankings corpus
    (vector leg == lexical leg) is the rbo_norm == 1 fixture checked via
    the pure-python formula."""
    import pytest

    from lvm_datapipe_spark.queries import QUERIES
    from lvm_datapipe_spark.queries.ann import _RBO_DEPTHS

    rows = sorted(
        QUERIES["rbo_lex_vs_vector"](spark, "/root/testdata/sf0.001").collect(),
        key=lambda r: r["d"],
    )
    assert [r["d"] for r in rows] == list(range(1, 11))
    prev = 0
    total = 0.0
    weights = dict(_RBO_DEPTHS)
    for r in rows:
        assert 0 <= r["n_overlap"] <= r["d"]
        assert r["n_overlap"] >= prev
        prev = r["n_overlap"]
        assert r["weight"] == weights[r["d"]]
        assert r["contrib"] == pytest.approx(
            r["weight"] * r["n_overlap"] / r["d"], abs=0
        )
        total += r["contrib"]
    assert rows[0]["rbo_at_10"] == pytest.approx(total, rel=1e-12)
    assert rows[0]["rbo_norm"] == pytest.approx(
        rows[0]["rbo_at_10"] / 0.6513215599, abs=0
    )
    # identical rankings -> every depth fully overlaps -> rbo_norm == 1
    full = sum(w for _, w in _RBO_DEPTHS)
    assert full / 0.6513215599 == pytest.approx(1.0, rel=1e-12)
