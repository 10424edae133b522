"""Unit tests for dedup + similarity operators: planted duplicates must be
found, scale-path variants must agree with exact baselines."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import dedup as D
from lvm_datapipe_spark.operators import similarity as V
from lvm_datapipe_spark.session import query_scope

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "completely different content about spark query optimization plans"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "short text"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_duplicate_groups(spark):
    out = D.exact_duplicate_groups(_docs(spark)).collect()
    groups = {r.canonical_id: r.n_copies for r in out}
    assert groups[1] == 2  # docs 1 and 4 share a fingerprint
    assert len(out) == 4  # 5 docs, one merged pair


def test_exact_dedup_normalizes_whitespace_and_case(spark):
    df = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "other")], ["doc_id", "text"]
    )
    out = D.exact_duplicate_groups(df).collect()
    assert len(out) == 2


def test_ngram_jaccard_finds_near_dup(spark, monkeypatch):
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.5)
    pairs = D.ngram_jaccard_pairs(_docs(spark)).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got and (1, 4) in got and (2, 4) in got
    assert all(0.0 <= r.jaccard <= 1.0 for r in pairs)
    exact = [r for r in pairs if (r.id_a, r.id_b) == (1, 4)]
    assert exact[0].jaccard == 1.0


def test_ngram_jaccard_stop_shingle_cap(spark, monkeypatch):
    # with a frequency cap of 1, every shared shingle is dropped → no pairs
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.1)
    monkeypatch.setattr(D, "MAX_SHINGLE_FREQ", 1)
    pairs = D.ngram_jaccard_pairs(_docs(spark))
    assert pairs.count() == 0


def test_shingle_intersections_restrict_pairs_equivalence(spark):
    """restrict_pairs must equal the full kernel filtered to the pair set —
    same n_common on every retained pair, no extra pairs — on both the
    capped and uncapped paths."""
    ex = D.shingle_rows(_docs(spark), hashed=True).persist()
    want = {(1, 2), (2, 4)}
    rp = spark.createDataFrame(sorted(want), ["id_a", "id_b"])
    for cap in (1000, None):
        full = {
            (r.id_a, r.id_b): r.n_common
            for r in D.shingle_intersections(ex, "doc_id", cap).collect()
        }
        restricted = {
            (r.id_a, r.id_b): r.n_common
            for r in D.shingle_intersections(
                ex, "doc_id", cap, restrict_pairs=rp
            ).collect()
        }
        assert restricted == {
            p: n for p, n in full.items() if p in want
        }, f"cap={cap}"
    ex.unpersist()


def test_shingle_intersections_restrict_keeps_global_cap(spark):
    """The stop-shingle cap counts over ALL docs even under restriction: a
    shingle shared by 3 docs is dropped at cap=2 although the restricted
    pair set only ever sees 2 of those docs."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma epsilon"),
            (3, "alpha beta gamma zeta"),
        ],
        ["doc_id", "text"],
    )
    ex = D.shingle_rows(df, hashed=True).persist()
    rp = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    full = {
        (r.id_a, r.id_b): r.n_common
        for r in D.shingle_intersections(ex, "doc_id", 2).collect()
    }
    restricted = {
        (r.id_a, r.id_b): r.n_common
        for r in D.shingle_intersections(ex, "doc_id", 2, restrict_pairs=rp).collect()
    }
    # 'alpha beta gamma' appears in all 3 docs -> dropped by cap=2 globally;
    # the restricted run must agree with the full run on pair (1, 2).
    assert restricted == {p: n for p, n in full.items() if p == (1, 2)}
    ex.unpersist()


def test_minhash_lsh_candidates(spark):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 4) in pairs  # exact dup always collides (identical signature)
    assert (1, 2) in pairs  # jaccard ~0.86 -> P(candidate) ~ 1-(1-0.86^4)^4 ~ 0.93
    assert (1, 3) not in pairs and (3, 5) not in pairs


def test_minhash_signature_shape(spark):
    sig = D.minhash_signatures(_docs(spark)).collect()
    assert all(len(r.sig) == 16 for r in sig)
    assert all(all(len(h) == 32 for h in r.sig) for r in sig)  # md5 hex strings


def test_simhash_exact_dup_distance_zero(spark):
    rows = {r.doc_id: r.simhash for r in D.simhash_docs(_docs(spark)).collect()}
    assert rows[1] == rows[4]
    assert len(rows[1]) == 32 and set(rows[1]) <= {"0", "1"}
    pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_pairs(_docs(spark)).collect()}
    assert pairs[(1, 4)] == 0


def test_simhash_banding_matches_bruteforce(spark):
    """The banded equi-join must be exactly the brute-force pair set for
    hamming <= bands-1 (pigeonhole)."""
    sh = {r.doc_id: r.simhash for r in D.simhash_docs(_docs(spark)).collect()}
    brute_pairs = {
        (a, b)
        for a in sh
        for b in sh
        if a < b and sum(x != y for x, y in zip(sh[a], sh[b])) <= 3
    }
    banded_pairs = {(r.id_a, r.id_b) for r in D.simhash_pairs(_docs(spark)).collect()}
    assert banded_pairs == brute_pairs


EMB = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.99, 0.1, 0.0, 0.0]),  # near-dup of 1
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.0, 1.0, 0.0]),
    (5, [-1.0, 0.0, 0.0, 0.0]),  # antipode of 1
]


def _emb(spark):
    return spark.createDataFrame(EMB, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )


def test_cosine_math(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], ["a", "b"])
    out = [r.c for r in df.select(V.cosine(F.col("a"), F.col("b")).alias("c")).collect()]
    assert abs(out[0]) < 1e-12 and abs(out[1] - 1.0) < 1e-12


def test_brute_force_topk(spark, monkeypatch):
    emb = _emb(spark)
    queries = emb.filter(F.col("vec_id") == 1)
    monkeypatch.setattr(V, "TOPK", 2)
    out = V.brute_force_topk(emb, queries).collect()
    ranked = sorted(out, key=lambda r: r.rank)
    assert [r.neighbor_id for r in ranked] == [2, 3]  # 2 closest, then orthogonal-tie by id


def test_embedding_near_dup_pairs(spark):
    pairs = {(r.id_a, r.id_b) for r in V.embedding_near_dup_pairs(_emb(spark), threshold=0.9).collect()}
    assert pairs == {(1, 2)}


def test_lsh_recall_on_driver_data(spark):
    """The LSH scale path must recover a healthy fraction of the exact
    near-dup pairs on the real embeddings table."""
    from lvm_datapipe_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id_a, r.id_b) for r in V.embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    approx = {(r.id_a, r.id_b) for r in V.lsh_near_dup_pairs(emb, threshold=0.4).collect()}
    assert approx <= exact  # verify step makes precision exact
    assert len(exact) > 0
    assert len(approx) / len(exact) >= 0.5  # recall floor with 4 planes x 8 tables


def test_declared_dedup_form_recall_vs_quadratic_oracle(spark):
    """The DECLARED dedup_embedding_cosine operator (12-table LSH since r5)
    judged against the demoted quadratic all-pairs recall oracle: precision
    stays exact, the candidate set strictly contains the 8-table
    primitive's (tables 0-7 share seeds), and recall clears a higher bar."""
    from lvm_datapipe_spark.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {(r.id_a, r.id_b) for r in V.embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    t8 = {(r.id_a, r.id_b) for r in V.lsh_near_dup_pairs(emb, threshold=0.4).collect()}
    t12 = {(r.id_a, r.id_b) for r in V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12).collect()}
    assert t8 <= t12 <= exact
    assert len(t12) / len(exact) >= 0.7  # recall floor with 4 planes x 12 tables


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_ivf_topk_recall(spark, monkeypatch):
    """IVF with n_probe cells must recover most of the exact top-k, and
    full-probe IVF must equal the exact ranking."""
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators.similarity import brute_force_topk, ivf_topk

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries).collect()}
    monkeypatch.setattr(V, "IVF_CELLS", 8)
    monkeypatch.setattr(V, "IVF_PROBES", 3)
    approx = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, queries).collect()}
    assert len(approx & exact) / len(exact) >= 0.6  # probing 3/8 cells
    monkeypatch.setattr(V, "IVF_PROBES", 8)
    full = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, queries).collect()}
    assert full == exact  # probe-all == exact


def test_ngram_jaccard_cap_default_equivalent_on_test_corpus(spark, sf_dir, monkeypatch):
    """The default stop-shingle cap (1000) must not change results on the
    driver corpus — no shingle there reaches the cap, so capped and exact
    forms are bit-identical (the cap only bites on pathological skew)."""
    from lvm_datapipe_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    with query_scope(spark):
        capped = D.ngram_jaccard_pairs(docs)
        monkeypatch.setattr(D, "MAX_SHINGLE_FREQ", None)  # the exact self-join
        exact = D.ngram_jaccard_pairs(docs)
        got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in capped.collect()}
        want = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in exact.collect()}
    assert got == want and got  # non-empty: corpus has planted near-dups


def _dequantize():
    """Approximate doubles back from the int codes: ``q_i * scale``."""
    return F.transform("q", lambda x: x.cast("double") * F.col("scale"))


def test_quantize_roundtrip_error_bounded(spark):
    """Dequantized vectors must be within half a quantization step of the
    original in every coordinate, and zero vectors must be guarded."""
    from lvm_datapipe_spark.operators.similarity import quantize_embeddings

    rows = [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0]), (3, [-2.0, 2.0, 1.0, -1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = quantize_embeddings(emb)
    out = {r.vec_id: r for r in q.select("vec_id", "scale", _dequantize().alias("d")).collect()}
    orig = dict((i, v) for i, v in rows)
    for vid, r in out.items():
        if vid == 2:
            assert r.scale == 0.0 and all(x == 0.0 for x in r.d)
            continue
        step = r.scale
        for a, b in zip(orig[vid], r.d):
            assert abs(a - b) <= step / 2 + 1e-12


def test_quantize_codes_in_range(spark):
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators.similarity import quantize_embeddings

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    q = quantize_embeddings(emb)
    mm = q.select(
        F.array_min("q").alias("lo"), F.array_max("q").alias("hi")
    ).agg(F.min("lo"), F.max("hi")).collect()[0]
    assert -127 <= mm[0] and mm[1] <= 127
    # abs-max element must quantize to exactly ±127
    has_127 = q.filter(F.array_contains(F.transform("q", lambda x: F.abs(x)), 127)).count()
    assert has_127 == q.count()


def test_quantized_ann_recall(spark):
    """Top-k over int8-dequantized vectors must closely match the exact
    float ranking — the quality bar for persisting quantized embeddings."""
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators.similarity import (
        brute_force_topk,
        quantize_embeddings,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, queries).collect()}
    deq = quantize_embeddings(emb).select(
        "vec_id", _dequantize().alias("embedding")
    )
    deq_q = deq.filter(F.col("vec_id") < 5)
    approx = {(r.query_id, r.neighbor_id) for r in brute_force_topk(deq, deq_q).collect()}
    assert len(approx & exact) / len(exact) >= 0.9


# --- r5: product quantization ------------------------------------------------


def test_pq_encode_matches_numpy_model(spark):
    """The PQ encode ``pq_adc_topk`` and ``ivfpq_topk`` run
    (``_pq_codes_sql``) is the per-subspace argmin of a numpy model."""
    import numpy as np

    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings").limit(50)
    rows = emb.select("vec_id", "embedding").collect()
    m, ksub, dim, seed = 32, 8, 64, 7
    dsub = dim // m
    cbs = V.pq_codebooks(m, ksub, dsub, seed)
    codes = emb.select(
        "vec_id", V.as_double().alias("nv")
    ).select("vec_id", F.expr(V._pq_codes_sql(cbs, m, dsub)).alias("codes"))
    got = {r["vec_id"]: list(r["codes"]) for r in codes.collect()}
    for r in rows:
        v = np.array(r["embedding"], dtype=np.float64)
        want = []
        for j in range(m):
            sub = v[j * dsub : (j + 1) * dsub]
            d = ((sub[None, :] - cbs[j]) ** 2).sum(axis=1)
            want.append(int(np.argmin(d)))  # first index on ties
        assert got[r["vec_id"]] == want, r["vec_id"]


def test_pq_adc_recall_floor(spark):
    """ADC ranking through 8-byte codes must still recover a meaningful
    share of the exact L2 top-10 (random Gaussian codebooks on the
    synthetic corpus — a floor, not a benchmark)."""
    import numpy as np

    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter("vec_id < 10")
    approx = V.pq_adc_topk(emb, queries)
    got = {}
    for r in approx.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    data = {r["vec_id"]: np.array(r["embedding"], np.float64) for r in emb.collect()}
    hits = total = 0
    for qid in got:
        qv = data[qid]
        d = sorted(
            (float(((qv - v) ** 2).sum()), nid)
            for nid, v in data.items()
            if nid != qid
        )[:10]
        exact = {nid for _, nid in d}
        hits += len(exact & got[qid])
        total += 10
    assert hits / total >= 0.3, hits / total  # measured 0.41 at m=32/ksub=8


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_ivfpq_subset_of_pq_candidates_and_recall(spark, monkeypatch):
    """IVF-PQ returns ADC ranking restricted to probed cells: every result
    pair must also appear in the probe-all variant's candidate set, and
    recall vs exact L2 stays above a floor despite the cell pruning."""
    import numpy as np

    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    queries = emb.filter("vec_id < 10")
    got = {}
    for r in V.ivfpq_topk(emb, queries).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # probe-all == plain PQ/ADC over the full corpus (cells prune nothing)
    all_cells = {}
    with monkeypatch.context() as m:
        m.setattr(V, "IVF_PROBES", V.IVF_CELLS)
        for r in V.ivfpq_topk(emb, queries).collect():
            all_cells.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    pq_only = {}
    for r in V.pq_adc_topk(emb, queries).collect():
        pq_only.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert all_cells == pq_only  # composition sanity: probe-all == PQ

    data = {r["vec_id"]: np.array(r["embedding"], np.float64) for r in emb.collect()}
    hits = total = 0
    for qid, approx in got.items():
        qv = data[qid]
        d = sorted(
            (float(((qv - v) ** 2).sum()), nid)
            for nid, v in data.items()
            if nid != qid
        )[:10]
        hits += len({nid for _, nid in d} & approx)
        total += 10
    assert hits / total >= 0.2, hits / total  # pruned recall floor


def test_ivfpq_plan_cell_keyed_no_cartesian(spark):
    from lvm_datapipe_spark.queries import QUERIES

    df = QUERIES["ann_ivfpq_topk"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # probe side broadcasts on cell


def test_ppjoin_equals_brute_force(spark):
    """The prefix-filter theorem in practice: the PPJoin candidate path
    must return EXACTLY the pairs a brute-force all-pairs Jaccard finds
    at the same rational threshold."""
    import itertools

    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators.dedup import ppjoin_pairs

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").limit(120)
    got = {
        (r.id_a, r.id_b): r.jaccard for r in ppjoin_pairs(docs).collect()
    }
    sets = {
        r.doc_id: set(x for x in r.text.split() if x)
        for r in docs.select("doc_id", "text").collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 10 * inter >= 9 * union:
            want[(a, b)] = inter / union
    assert got == want


def test_ppjoin_positional_filter_prunes_but_stays_exact(spark, monkeypatch):
    """The positional filter (the "PP") at a threshold where it actively
    prunes: t = 2/3 on hand-built 6-token docs gives prefix length 3 and
    alpha = ceil(2*(n_a+n_b)/5); a collision at ranks (1, 3) bounds overlap
    by 1 + min(n_a-1, n_b-3) which can fall below alpha.  Results must
    still equal brute force EXACTLY (the bound holds at every shared
    prefix token of a qualifying pair)."""
    import itertools

    from lvm_datapipe_spark.operators import dedup
    from lvm_datapipe_spark.operators.dedup import ppjoin_pairs

    monkeypatch.setattr(dedup, "PPJOIN_THRESHOLD", (2, 3))
    rng = __import__("random").Random(7)
    vocab = [f"t{i:02d}" for i in range(40)]
    rows = []
    for d in range(80):
        k = rng.choice([5, 6, 7])
        rows.append((d, " ".join(rng.sample(vocab, k))))
    # seed some true near-dups: copies differing by one token
    for d in range(80, 100):
        base = rows[d - 80][1].split()
        base[-1] = rng.choice(vocab)
        rows.append((d, " ".join(base)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(docs).collect()
    }
    sets = {d: set(t.split()) for d, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 3 * inter >= 2 * union:
            want[(a, b)] = inter / union
    assert want, "fixture must contain qualifying pairs"
    assert got == want


def test_ppjoin_wide_vocab_generic_path_equals_brute_force(spark, monkeypatch):
    """Vocabularies wider than 64 tokens cannot pack into one bitmask, so
    the verify falls back to the generic array_intersect path — pin that
    path against brute force too (the small-vocab tests above exercise
    the popcount fast path; this corpus draws from 120 tokens)."""
    import itertools

    from lvm_datapipe_spark.operators import dedup
    from lvm_datapipe_spark.operators.dedup import ppjoin_pairs

    monkeypatch.setattr(dedup, "PPJOIN_THRESHOLD", (2, 3))
    rng = __import__("random").Random(11)
    vocab = [f"w{i:03d}" for i in range(120)]
    rows = []
    for d in range(60):
        rows.append((d, " ".join(rng.sample(vocab, rng.choice([8, 9, 10])))))
    for d in range(60, 80):  # near-dups: one token swapped
        base = rows[d - 60][1].split()
        base[0] = rng.choice(vocab)
        rows.append((d, " ".join(base)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in ppjoin_pairs(docs).collect()
    }
    sets = {d: set(t.split()) for d, t in rows}
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if union and 3 * inter >= 2 * union:
            want[(a, b)] = inter / union
    assert want, "fixture must contain qualifying pairs"
    assert got == want


def test_ppjoin_plan_keyed_joins_only(spark):
    from lvm_datapipe_spark.queries import QUERIES

    df = QUERIES["dedup_ppjoin_pairs"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auto_n_planes_sizing_rule():
    # SCALE_BENCH §1: planes ≈ log2(n/100), floored at the fixture default
    from lvm_datapipe_spark.operators.similarity import auto_n_planes

    assert auto_n_planes(0) == 4
    assert auto_n_planes(1_000) == 4
    assert auto_n_planes(5_000) == 6
    assert auto_n_planes(20_000) == 8
    assert auto_n_planes(50_000) == 9
    assert auto_n_planes(100_000) == 10
    # capped at p_max (16 by default — the oracle embeds p_max plane
    # literals, so the cap bounds the SQL size); override to go higher
    assert auto_n_planes(100_000_000) == 16
    # boundary exactness of the integer rule: 2^p * 100 >= n
    assert auto_n_planes(1_600) == 4
    assert auto_n_planes(1_601) == 5


def test_adaptive_plane_rule_sql_matches_python():
    """The DuckDB np CTE in _lsh_near_dup_adaptive_sql replays
    similarity.auto_n_planes bit-for-bit: same integer rule
    (min p>=4 with (1<<p)*100 >= n, capped at p_max=16), including the
    floor, every power-of-two boundary, and the cap fallback."""
    import duckdb

    from lvm_datapipe_spark.operators.similarity import auto_n_planes

    con = duckdb.connect()
    boundary = [0, 1, 100, 1599, 1600, 1601, 3200, 3201]
    big = [10**k for k in range(2, 10)] + [(1 << p) * 100 for p in range(4, 18)]
    for n in sorted(set(boundary + big + [v + d for v in big for d in (-1, 1)])):
        if n < 0:
            continue
        got = con.execute(
            f"""SELECT COALESCE(MIN(p), 16) FROM range(4, 17) t(p)
                WHERE (1::BIGINT << p) * 100 >= {n}"""
        ).fetchone()[0]
        assert got == auto_n_planes(n), f"n={n}: sql={got} py={auto_n_planes(n)}"


def test_lsh_candidates_auto_planes_match_explicit(spark):
    # n_planes=None derives the plane budget from the corpus count and is
    # bit-identical to passing the derived number explicitly
    from lvm_datapipe_spark.operators.similarity import (
        auto_n_planes,
        lsh_near_dup_pairs,
    )

    emb = _emb(spark)
    n = emb.count()
    with query_scope(spark):
        auto = lsh_near_dup_pairs(emb, n_planes=None)
        explicit = lsh_near_dup_pairs(emb, n_planes=auto_n_planes(n))
        got = {(r.id_a, r.id_b, r.cos_sim) for r in auto.collect()}
        want = {(r.id_a, r.id_b, r.cos_sim) for r in explicit.collect()}
    assert got == want


def test_containment_catches_quote_jaccard_misses(spark):
    """A short doc fully quoted inside a long one: containment 1.0, while
    Jaccard at the same corpus stays below its 0.6 threshold."""
    from lvm_datapipe_spark.operators import dedup as D

    quote = "the quick brown fox jumps over the lazy dog"
    filler = " ".join(f"w{i}" for i in range(120))
    df = spark.createDataFrame(
        [(1, quote), (2, filler + " " + quote + " " + filler.upper())],
        "doc_id long, text string",
    )
    got = D.containment_pairs(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["cont_a"] == 1.0  # every shingle of the quote is in the container
    assert r["cont_b"] < 0.1
    assert D.ngram_jaccard_pairs(df).count() == 0


def test_containment_matches_bruteforce_sets(spark, sf_dir):
    """Containment pairs on the real corpus equal a pure-python set model."""
    import duckdb

    from lvm_datapipe_spark.operators import dedup as D
    from lvm_datapipe_spark.queries import QUERIES

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).df()

    def shingles(t):
        toks = [x for x in (t or "").split() if x]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {r.doc_id: shingles(r.text) for r in docs.itertuples()}
    sets = {k: v for k, v in sets.items() if v}
    expected = {}
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            common = len(sets[a] & sets[b])
            if not common:
                continue
            ca, cb = common / len(sets[a]), common / len(sets[b])
            if ca >= 0.8 or cb >= 0.8:
                expected[(a, b)] = (common, ca, cb)
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["cont_a"], r["cont_b"])
        for r in QUERIES["dedup_containment_pairs"](spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for k, (n, ca, cb) in expected.items():
        gn, gca, gcb = got[k]
        assert gn == n
        assert gca == pytest.approx(ca, abs=0) and gcb == pytest.approx(cb, abs=0)


def test_source_overlap_matches_bruteforce_sets(spark, sf_dir):
    import duckdb

    from lvm_datapipe_spark.queries import QUERIES

    docs = duckdb.sql(
        f"SELECT source, text FROM '{sf_dir}/documents.parquet' "
        "WHERE source IS NOT NULL"
    ).df()

    def shingles(t):
        toks = [x for x in (t or "").split() if x]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    per_src = {}
    for r in docs.itertuples():
        per_src.setdefault(r.source, set()).update(shingles(r.text))
    per_src = {k: v for k, v in per_src.items() if v}
    got = {
        (r["src_a"], r["src_b"]): r
        for r in QUERIES["source_shingle_overlap"](spark, sf_dir).collect()
    }
    srcs = sorted(per_src)
    n_expected = 0
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(per_src[a] & per_src[b])
            if not shared:
                continue
            n_expected += 1
            r = got[(a, b)]
            assert r["n_shared"] == shared
            assert r["overlap_coef"] == pytest.approx(
                shared / min(len(per_src[a]), len(per_src[b])), abs=0
            )
            assert r["jaccard"] == pytest.approx(
                shared / (len(per_src[a]) + len(per_src[b]) - shared), abs=0
            )
    assert len(got) == n_expected


def test_mmr_matches_independent_python_model(spark, sf_dir):
    """The operator's picks equal an independent numpy MMR replay (argmax of
    lambda*rel - (1-lambda)*maxsim per round), and the seed of every cell is
    its most relevant point."""
    import duckdb
    import numpy as np

    from lvm_datapipe_spark.operators.similarity import (
        MMR_LAMBDA,
        MMR_ONE_MINUS_LAMBDA,
        ivf_fixed_centroids,
    )
    from lvm_datapipe_spark.queries import QUERIES

    emb = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE embedding IS NOT NULL"
    ).df()
    cents = np.array(ivf_fixed_centroids())
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    got = {}
    for r in QUERIES["mmr_diverse_selection"](spark, sf_dir).collect():
        got.setdefault(r["cell"], []).append((r["pos"], r["vec_id"]))
    by_cell = {}
    for r in emb.itertuples():
        v = np.asarray(list(r.embedding), dtype=float)
        vn = v / np.linalg.norm(v)
        sims = cn @ vn
        cell = int(np.argmax(sims))
        by_cell.setdefault(cell, []).append((int(r.vec_id), vn, float(np.max(sims))))
    for cell, pts in by_cell.items():
        ids = [p[0] for p in pts]
        vecs = {p[0]: p[1] for p in pts}
        rel = {p[0]: p[2] for p in pts}
        seed = min(
            (i for i in ids),
            key=lambda i: (-rel[i], i),
        )
        chosen = [seed]
        maxsim = {
            i: float(vecs[seed] @ vecs[i]) for i in ids if i != seed
        }
        while maxsim and len(chosen) < 8:
            best = min(
                maxsim,
                key=lambda c: (
                    -(MMR_LAMBDA * rel[c] - MMR_ONE_MINUS_LAMBDA * maxsim[c]),
                    c,
                ),
            )
            chosen.append(best)
            del maxsim[best]
            for c in maxsim:
                s = float(vecs[best] @ vecs[c])
                if s > maxsim[c]:
                    maxsim[c] = s
        picks = [v for _, v in sorted(got.pop(cell))]
        # float summation order differs between numpy dot and the operator's
        # left fold, so allow score-tie reorderings only if sets agree
        assert picks == chosen
    assert not got


def test_mmr_diversifies_beyond_pure_relevance(spark, sf_dir):
    """Somewhere, the MMR order must depart from descending-relevance order
    (otherwise the redundancy term is dead code at this lambda)."""
    import duckdb
    import numpy as np

    from lvm_datapipe_spark.operators.similarity import ivf_fixed_centroids
    from lvm_datapipe_spark.queries import QUERIES

    emb = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        "WHERE embedding IS NOT NULL"
    ).df()
    cents = np.array(ivf_fixed_centroids())
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    rel, cell_of = {}, {}
    for r in emb.itertuples():
        v = np.asarray(list(r.embedding), dtype=float)
        vn = v / np.linalg.norm(v)
        sims = cn @ vn
        rel[int(r.vec_id)] = float(np.max(sims))
        cell_of[int(r.vec_id)] = int(np.argmax(sims))
    per_cell = {}
    for r in QUERIES["mmr_diverse_selection"](spark, sf_dir).collect():
        per_cell.setdefault(r["cell"], []).append((r["pos"], r["vec_id"]))
    departed = False
    for cell, picks in per_cell.items():
        order = [v for _, v in sorted(picks)]
        top_by_rel = sorted(
            (i for i in rel if cell_of[i] == cell), key=lambda i: (-rel[i], i)
        )[: len(order)]
        if order != top_by_rel:
            departed = True
    assert departed


def test_prebuilt_shingle_rows_paths_match_default(spark, monkeypatch):
    """ngram_jaccard_pairs and minhash_lsh_pairs fed a prebuilt distinct
    (id, shingle) table (the dedup_method_agreement sharing path) must
    emit exactly the pairs of their self-building defaults — including
    under a stop-shingle cap, whose frequency count must see the same
    distinct rows either way."""
    docs = _docs(spark)
    shingles = D.shingle_rows(docs).persist()
    monkeypatch.setattr(D, "JACCARD_THRESHOLD", 0.1)
    try:
        for cap in (D.MAX_SHINGLE_FREQ, 1):
            monkeypatch.setattr(D, "MAX_SHINGLE_FREQ", cap)
            a = {
                (r.id_a, r.id_b, round(r.jaccard, 9))
                for r in D.ngram_jaccard_pairs(docs).collect()
            }
            b = {
                (r.id_a, r.id_b, round(r.jaccard, 9))
                for r in D.ngram_jaccard_pairs(docs, shingle_rows_df=shingles).collect()
            }
            assert a == b and (cap == 1 or len(a) > 0)
        mh_a = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_pairs(docs).collect()
        }
        mh_b = {
            (r.id_a, r.id_b)
            for r in D.minhash_lsh_pairs(
                docs, shingle_rows_df=shingles
            ).collect()
        }
        assert mh_a == mh_b and len(mh_a) > 0
    finally:
        shingles.unpersist()
