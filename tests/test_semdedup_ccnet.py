"""Unit semantics for the r6 additions: SemDeDup (similarity.semdedup_keep)
and the CCNet-style bigram-LM surprisal (text.bigram_lm_surprisal) — the
declared queries are oracle-checked end to end; these tests pin the operator
semantics on hand-built corpora where the expected answer is computable by
hand."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from lvm_datapipe_spark.operators import similarity as V


def _emb_df(spark, vecs):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )


class TestSemDeDup:
    def test_duplicate_pair_keeps_low_centroid_sim(self, spark, monkeypatch):
        from lvm_datapipe_spark.operators.similarity import (
            ivf_fixed_centroids,
            semdedup_keep,
        )

        dim = 8
        monkeypatch.setattr(V, "IVF_CELLS", 4)
        monkeypatch.setattr(V, "DEFAULT_DIM", dim)
        cents = ivf_fixed_centroids()
        # two near-identical vectors (cos ~ 1) plus one unrelated
        base = [1.0, 0.5, -0.25, 2.0, 0.0, 0.0, 1.0, -1.0]
        near = [x * 1.001 + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
        other = [-5.0, 4.0, 3.0, -2.0, 1.0, 6.0, -7.0, 0.5]
        monkeypatch.setattr(V, "SEMDEDUP_EPS", 0.95)
        out = semdedup_keep(_emb_df(spark, [base, near, other])).collect()
        rows = {r.vec_id: r for r in out}
        assert rows[2].keep  # unrelated vector untouched
        # exactly one of the near-dup pair survives; the survivor has the
        # LOWER centroid similarity (SemDeDup's keep-far-from-centroid rule)
        pair = [rows[0], rows[1]]
        assert sorted(r.keep for r in pair) == [False, True]
        kept = next(r for r in pair if r.keep)
        dropped = next(r for r in pair if not r.keep)
        if kept.cell == dropped.cell:
            assert (kept.centroid_sim, kept.vec_id) <= (
                dropped.centroid_sim,
                dropped.vec_id,
            )
        # centroid_sim is the true max-cosine against the seeded centroids
        def cos(a, b):
            num = sum(x * y for x, y in zip(a, b))
            return num / (
                math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
            )

        expected = max(cos(base, c) for c in cents)
        assert rows[0].centroid_sim == pytest.approx(expected, rel=1e-12)

    def test_eps_above_one_keeps_everything(self, spark, monkeypatch):
        from lvm_datapipe_spark.operators.similarity import semdedup_keep

        dim = 8
        vecs = [[float(i + 1)] * dim for i in range(5)]  # all cos == 1 pairs
        monkeypatch.setattr(V, "SEMDEDUP_EPS", 1.01)
        monkeypatch.setattr(V, "IVF_CELLS", 4)
        monkeypatch.setattr(V, "DEFAULT_DIM", dim)
        out = semdedup_keep(_emb_df(spark, vecs))
        assert out.filter(~F.col("keep")).count() == 0

    def test_colinear_group_keeps_exactly_one(self, spark, monkeypatch):
        from lvm_datapipe_spark.operators.similarity import semdedup_keep

        dim = 8
        v = [2.0, -1.0, 0.5, 3.0, -2.0, 1.0, 0.25, -0.5]
        vecs = [[x * s for x in v] for s in (1.0, 2.0, 3.0)]  # cos == 1 chain
        monkeypatch.setattr(V, "SEMDEDUP_EPS", 0.99)
        monkeypatch.setattr(V, "IVF_CELLS", 4)
        monkeypatch.setattr(V, "DEFAULT_DIM", dim)
        rows = semdedup_keep(_emb_df(spark, vecs)).collect()
        kept = [r for r in rows if r.keep]
        # colinear vectors share a cell; exactly one survives — the minimum
        # by (centroid_sim, vec_id).  (Scaling a vector wobbles its cosine in
        # the last ULP, so the winner is the FP-exact minimum, not always the
        # lowest id.)
        assert len(kept) == 1
        assert (kept[0].centroid_sim, kept[0].vec_id) == min(
            (r.centroid_sim, r.vec_id) for r in rows
        )


class TestBigramLM:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id bigint, lang string, text string")

    def test_hand_computed_surprisal(self, spark):
        from lvm_datapipe_spark.operators.text import bigram_lm_surprisal

        # corpus: "a b a b" and "a c"
        # bigrams: (a,b)x2, (b,a)x1, (a,c)x1 ; prefix counts: a->3, b->1
        # vocab V = 3 (a, b, c)
        docs = self._docs(spark, [(1, "en", "a b a b"), (2, "en", "a c")])
        out = {r.doc_id: r for r in bigram_lm_surprisal(docs).collect()}

        def blen(x):
            return x.bit_length()

        # doc 1: bigrams (a,b),(b,a),(a,b)
        s_ab = blen(3 + 3) - blen(2 + 1)  # cp(a)=3, V=3, cb(a,b)=2
        s_ba = blen(1 + 3) - blen(1 + 1)  # cp(b)=1, cb(b,a)=1
        assert out[1].n_bigrams == 3
        assert out[1].surprisal_sum == 2 * s_ab + s_ba
        # doc 2: bigram (a,c): cp(a)=3, cb(a,c)=1
        s_ac = blen(3 + 3) - blen(1 + 1)
        assert out[2].n_bigrams == 1
        assert out[2].surprisal_sum == s_ac

    def test_short_docs_excluded(self, spark):
        from lvm_datapipe_spark.operators.text import bigram_lm_surprisal

        docs = self._docs(
            spark, [(1, "en", "single"), (2, "en", ""), (3, "en", "two tokens")]
        )
        out = bigram_lm_surprisal(docs).collect()
        assert [r.doc_id for r in out] == [3]

    def test_tertile_buckets_are_discrete_quantiles(self, spark):
        from lvm_datapipe_spark.queries import QUERIES

        out = QUERIES["ccnet_perplexity_buckets"](
            spark, "/root/testdata/sf0.001"
        ).toPandas()
        for lang, grp in out.groupby("lang"):
            n = len(grp)
            k1, k2 = (n + 2) // 3, (2 * n + 2) // 3
            ranked = grp.sort_values(["surprisal_micro", "doc_id"]).reset_index(
                drop=True
            )
            # every head doc's score <= the k1-th smallest score (discrete
            # quantile definition); ties may push the head count above k1
            t1 = ranked.surprisal_micro.iloc[k1 - 1]
            t2 = ranked.surprisal_micro.iloc[k2 - 1]
            assert (grp[grp.bucket == "head"].surprisal_micro <= t1).all()
            assert (grp[grp.bucket == "middle"].surprisal_micro <= t2).all()
            assert (grp[grp.bucket == "tail"].surprisal_micro > t2).all()
            assert (grp[grp.bucket == "head"].shape[0] >= k1) == (
                (ranked.surprisal_micro == t1).sum() > 1
                or grp[grp.bucket == "head"].shape[0] == k1
            )


class TestDSIR:
    def test_hand_computed_weight(self, spark):
        from lvm_datapipe_spark.operators.sampling import dsir_doc_weights

        docs = spark.createDataFrame(
            [(1, "en", "tgt", "alpha beta"), (2, "en", "raw", "gamma")],
            "doc_id bigint, lang string, source string, text string",
        )
        out = {
            r.doc_id: r
            for r in dsir_doc_weights(
                docs, F.col("source") == "tgt"
            ).collect()
        }
        # features: doc1 -> alpha, beta, "alpha beta" (target); doc2 -> gamma
        # Nr = 4, Nt = 3, B = 512
        import hashlib

        def fb(feat):
            h = hashlib.md5(("dsir" + feat).encode()).hexdigest()
            return int(h[:8], 16) % 512

        feats = {"alpha": 1, "beta": 1, "alpha beta": 1, "gamma": 0}
        buckets = {}
        for f_, in_t in feats.items():
            b = fb(f_)
            cr, ct = buckets.get(b, (0, 0))
            buckets[b] = (cr + 1, ct + in_t)

        def blen(x):
            return x.bit_length()

        def s(b):
            cr, ct = buckets[b]
            return (blen(ct + 1) - blen(3 + 512)) - (blen(cr + 1) - blen(4 + 512))

        w1 = s(fb("alpha")) + s(fb("beta")) + s(fb("alpha beta"))
        w2 = s(fb("gamma"))
        assert out[1].weight == w1 and out[1].n_features == 3 and out[1].is_target
        assert out[2].weight == w2 and out[2].n_features == 1 and not out[2].is_target

    def test_target_lookalikes_outrank(self, spark):
        """Docs sharing the target's vocabulary must outweigh docs that
        share nothing with it (the property DSIR selection relies on)."""
        from lvm_datapipe_spark.operators.sampling import dsir_doc_weights

        rows = [(i, "en", "tgt", "data pipeline spark shuffle") for i in range(5)]
        rows += [(10, "en", "raw", "data pipeline spark join")]
        rows += [(11, "en", "raw", "zebra quagga okapi tapir")]
        docs = spark.createDataFrame(
            rows, "doc_id bigint, lang string, source string, text string"
        )
        out = {
            r.doc_id: r.weight
            for r in dsir_doc_weights(docs, F.col("source") == "tgt").collect()
        }
        assert out[10] > out[11]


class TestGopherRules:
    def _flags(self, spark, text):
        from lvm_datapipe_spark.operators.text import gopher_quality_flags

        df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
        return gopher_quality_flags(df).collect()[0]

    def test_good_document_passes(self, spark):
        text = " ".join(
            ["the quick brown fox jumps over that lazy dog with style and grace"] * 5
        )
        r = self._flags(spark, text)
        assert r.keep and r.word_count_ok and r.stopword_ok and r.alpha_word_ok

    def test_short_doc_fails_word_count_only(self, spark):
        r = self._flags(spark, "the cat sat with that dog and all of them")
        assert not r.word_count_ok and not r.keep
        assert r.stopword_ok and r.alpha_word_ok and r.mean_word_len_ok

    def test_symbol_ratio(self, spark):
        base = "the data of and that have with be " * 8  # 64 words, passes
        # 9 hash words -> 73 words, 90 > 73: fails the 10% symbol budget
        r = self._flags(spark, base + "# # # # # # # # #")
        assert not r.symbol_ratio_ok
        r2 = self._flags(spark, base + "# # #")  # 3 hashes, 67 words
        assert r2.symbol_ratio_ok

    def test_bullet_and_ellipsis_lines(self, spark):
        words = "the of and that have with be data " * 8
        bullets = "\n".join(["- item"] * 10)
        r = self._flags(spark, words + "\n" + bullets)  # 10/11 lines bullets
        assert not r.bullet_lines_ok
        ell = "\n".join(["trailing..."] * 5) + "\n" + words
        r2 = self._flags(spark, ell)  # 5/6 lines end with ...
        assert not r2.ellipsis_lines_ok

    def test_numeric_words_fail_alpha_rule(self, spark):
        nums = " ".join(str(i) for i in range(60))
        r = self._flags(spark, nums + " the of")
        assert not r.alpha_word_ok and not r.keep

    def test_mean_word_length_bounds(self, spark):
        long_words = " ".join(["pneumonoultramicroscopic"] * 60)
        assert not self._flags(spark, long_words).mean_word_len_ok
        short_words = " ".join(["a b"] * 60)
        assert not self._flags(spark, short_words).mean_word_len_ok


class TestTokenBudgetMix:
    def test_matches_python_reference(self, spark, tmp_path):
        import hashlib

        rows = [
            (i, "en", f"s{i % 3}", " ".join(["tok"] * (50 + 37 * i % 200)))
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "doc_id bigint, lang string, source string, text string"
        )
        df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
        from lvm_datapipe_spark.queries import QUERIES

        got = {
            r.doc_id: (r.source, r.n_tokens, r.cum_tokens)
            for r in QUERIES["mix_token_budget"](spark, str(tmp_path)).collect()
        }
        # python reference: md5-ordered prefix per source, cum <= 400
        expect = {}
        by_src: dict = {}
        for doc_id, _, src, text in rows:
            h = hashlib.md5(("mixb" + str(doc_id)).encode()).hexdigest()
            by_src.setdefault(src, []).append((h, doc_id, len(text.split())))
        for src, lst in by_src.items():
            cum = 0
            for h, doc_id, n in sorted(lst):
                cum += n
                if cum <= 400:
                    expect[doc_id] = (src, n, cum)
        assert got == expect


class TestQuantileSketch:
    def test_error_bound_vs_exact_median(self, spark):
        from lvm_datapipe_spark.operators.aggregates import (
            quantile_sketch,
            sketch_median,
        )
        from lvm_datapipe_spark.catalog import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        est = {
            r.event_type: r.median_est
            for r in sketch_median(quantile_sketch(ev)).collect()
        }
        exact = {
            r.event_type: (r.med, r.w)
            for r in ev.groupBy("event_type")
            .agg(
                F.percentile(F.col("value").cast("double"), F.lit(0.5)).alias("med"),
                (
                    (
                        F.max(F.col("value").cast("double"))
                        - F.min(F.col("value").cast("double"))
                    )
                    / 64.0
                ).alias("w"),
            )
            .collect()
        }
        assert est.keys() == exact.keys()
        for t, (med, w) in exact.items():
            # midpoint estimate of the rank-hitting bin is within one bin
            # width of the true median
            assert abs(est[t] - med) <= w, (t, est[t], med, w)

    def test_shard_merge_equals_whole_corpus(self, spark):
        """True mergeability: bin each shard SEPARATELY against the shared
        global edges, SUM the per-shard counts, and recover exactly the
        whole-corpus sketch — the no-rescan maintenance property."""
        import pandas as pd

        from lvm_datapipe_spark.catalog import load_table
        from lvm_datapipe_spark.operators.aggregates import quantile_sketch

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        whole = quantile_sketch(ev).toPandas()
        edges = whole[["event_type", "mn", "width", "n"]].drop_duplicates()
        merged: dict = {}
        for p in (0, 1):
            shard = (
                ev.filter(F.col("event_id") % 2 == p)
                .select("event_type", F.col("value").cast("double").alias("v"))
                .toPandas()
            )
            j = shard.merge(edges, on="event_type")
            binned = j.apply(
                lambda r: 0
                if r.width == 0.0
                else min(63, int((r.v - r.mn) // r.width)),
                axis=1,
            )
            for (t, b), c in j.assign(bin=binned).groupby(
                ["event_type", "bin"]
            ).size().items():
                merged[(t, b)] = merged.get((t, b), 0) + c
        got = {(r.event_type, r.bin): r.c for r in whole.itertuples()}
        assert merged == got
