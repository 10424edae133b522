"""Deterministic fixtures for three audit queries (beyond the sf0.01
oracle sweep): hand-computed expectations on corpora small enough to
reason about exactly.

* ``pack_split_stats`` — a two-language corpus whose split/span counts
  are computable by hand, plus the structural invariants that must hold
  on ANY corpus (extra_spans == sum(n_packs) - n_docs, fill <= 1,
  gapless packs_used == ceil(total/ctx)).
* ``mixture_lang_source_lift`` — a 2x2 source/lang grid with known
  token counts; shares and lift checked against exact fractions.
* ``minhash_jaccard_error`` — identical docs must read est == true == 1
  and err == 0 (the estimator is exact on equal signatures); every
  row's err must equal est - true by construction.
"""

from __future__ import annotations

import pytest

from lvm_datapipe_spark.queries import QUERIES

DOC_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(rows, DOC_SCHEMA).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_pack_split_stats_hand_computed(spark, tmp_path):
    # lang 'a': token counts 400, 200, 500 -> cumsum offsets 0, 400, 600
    #   doc1 spans windows 0 (400 <= 512, no split)
    #   doc2 starts at 400, ends 599 -> windows 0..1 (SPLIT, 2 packs)
    #   doc3 starts at 600, ends 1099 -> windows 1..2 (SPLIT, 2 packs)
    #   total 1100 -> packs_used ceil(1100/512) = 3
    # lang 'b': token counts 100 -> one doc, one window, no split
    rows = [
        (1, " ".join(["w"] * 400), "a", "s1", 0),
        (2, " ".join(["w"] * 200), "a", "s1", 0),
        (3, " ".join(["w"] * 500), "a", "s2", 0),
        (4, " ".join(["w"] * 100), "b", "s1", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r.lang: r for r in QUERIES["pack_split_stats"](spark, sf).collect()}
    a = got["a"]
    assert (a.n_docs, a.total_tokens, a.packs_used) == (3, 1100, 3)
    assert (a.n_split_docs, a.extra_spans) == (2, 2)
    assert a.split_rate == pytest.approx(2 / 3)
    assert a.fill_rate == pytest.approx(1100 / (3 * 512))
    b = got["b"]
    assert (b.n_docs, b.n_split_docs, b.packs_used) == (1, 0, 1)
    assert b.fill_rate == pytest.approx(100 / 512)


def test_pack_split_stats_invariants_on_declared_corpus(spark):
    rows = QUERIES["pack_split_stats"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        # gapless packing: windows used is exactly ceil(total/512)
        assert r.packs_used == -(-r.total_tokens // 512)
        assert 0.0 <= r.fill_rate <= 1.0
        assert 0.0 <= r.split_rate <= 1.0
        assert r.n_split_docs <= r.n_docs
        # every split contributes at least one extra span
        assert r.extra_spans >= r.n_split_docs


def test_mixture_lift_hand_computed(spark, tmp_path):
    # source s1: lang a 300 tokens, lang b 100; source s2: lang a 100.
    # corpus: a 400/500, b 100/500.
    rows = [
        (1, " ".join(["w"] * 300), "a", "s1", 0),
        (2, " ".join(["w"] * 100), "b", "s1", 0),
        (3, " ".join(["w"] * 100), "a", "s2", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        (r.source, r.lang): r
        for r in QUERIES["mixture_lang_source_lift"](spark, sf).collect()
    }
    r = got[("s1", "a")]
    assert r.n_tokens == 300
    assert r.share_in_source == pytest.approx(300 / 400)
    assert r.corpus_share == pytest.approx(400 / 500)
    assert r.mixture_lift == pytest.approx((300 / 400) / (400 / 500))
    r2 = got[("s2", "a")]
    assert r2.share_in_source == pytest.approx(1.0)
    assert r2.mixture_lift == pytest.approx(1.0 / (400 / 500))


def test_minhash_error_zero_on_identical_docs(spark, tmp_path):
    text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, text, "en", "s1", 0),
        (2, text, "en", "s1", 0),
        # an unrelated doc that shares no shingle with the twins
        (3, "one two three four five six seven eight nine", "en", "s1", 0),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = QUERIES["minhash_jaccard_error"](spark, sf).collect()
    twins = [r for r in out if (r.id_a, r.id_b) == (1, 2)]
    assert len(twins) == 1, out
    t = twins[0]
    assert t.est_jaccard == 1.0 and t.true_jaccard == 1.0 and t.err == 0.0
    for r in out:
        assert r.err == pytest.approx(r.est_jaccard - r.true_jaccard)
        assert 0.0 <= r.est_jaccard <= 1.0
        assert 0.0 <= r.true_jaccard <= 1.0
