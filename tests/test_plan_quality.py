"""Physical-plan regression tests (ARCHITECTURE §1): the plan properties we
rely on at scale must survive refactors — pushdown reaching the scan,
broadcasts on dim joins, window-group-limit on top-1, TakeOrdered on top-k."""

from __future__ import annotations

import pytest

from lvm_datapipe_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "f1_duration_filter")
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "j2_enrichment_join")
    # lineitem scan must read only the 3 referenced columns, not all 11
    assert "ReadSchema: struct<l_partkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "j4_region_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims fit under the threshold here


def test_j4_customer_join_is_size_gated_not_hint_forced(spark):
    # nation/region are constant-size dims and stay hint-forced; customer
    # grows ~linearly with scale factor, so its join must be SIZE-GATED
    # (planner stats/AQE decide) — a forced broadcast hint would OOM at
    # 100x.  Exactly the two tiny-dim hints may appear in the logical plan.
    opt = _optimized(spark, "j4_region_revenue")
    assert opt.count("strategy=broadcast") == 2


def test_top1_per_group_uses_window_group_limit(spark):
    assert "WindowGroupLimit" in _plan(spark, "w2_best_per_group")


def test_sort_limit_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "sort_limit_topk")


def test_anti_join_is_broadcast(spark):
    plan = _plan(spark, "f2_resume_anti_join")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_aggregation_is_partial(spark):
    # map-side partial aggregation: two HashAggregate levels around the
    # exchange (partial_ functions in the lower one)
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    assert "partial_" in plan


def test_no_cartesian_in_shingle_dedup(spark):
    # near-dup joins must be equi-joins on content-derived keys
    for q in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash"):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_no_cartesian_in_lsh_embedding_dedup(spark):
    # the oracle-checked embedding near-dup SCALE path: candidates come from
    # (table, bucket) equi-joins, never a corpus x corpus product
    plan = _plan(spark, "ann_lsh_near_dup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_no_cartesian_in_lsh_cluster_assignment(spark):
    # cluster assignment at scale = LSH pairs -> label propagation.  The
    # propagation loop materializes (localCheckpoint per round), so assert
    # the pair-generation stage that feeds it — the only place a corpus x
    # corpus product could hide — then run the composed query end-to-end.
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V

    emb = load_table(spark, SF, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    out = QUERIES["dedup_clusters_lsh"](spark, SF)
    assert set(out.columns) == {"id", "cluster_id"}
    assert out.count() > 0


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_no_cartesian_in_any_declared_query(spark):
    # Every query a user can copy from queries() must be free of
    # non-broadcast cartesian products (VERDICT r4 item 1: the quadratic
    # all-pairs embedding forms are demoted to pytest-only recall oracles).
    # BroadcastNestedLoopJoin is acceptable ONLY as a broadcast of a scalar/
    # query-set side (quality gates, brute-force top-k over 10 queries);
    # CartesianProduct (both sides partitioned) never is.
    offenders = []
    for name in QUERIES:
        try:
            plan = _plan(spark, name)
        except Exception as exc:  # noqa: BLE001 — surface as failure, named
            offenders.append(f"{name}: plan build failed: {exc}")
            continue
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def _unbounded_global_windows(opt_plan: str, max_limit: int = 1000) -> bool:
    """True if the optimized plan has a Window over an EMPTY partition spec
    whose input is NOT bounded by a small GlobalLimit.

    An empty-partition window funnels its whole input through one reducer
    (Exchange SinglePartition) — the corpus-scale killer.  The one
    legitimate shape is rank-assignment over an already-top-k'd candidate
    list (GlobalLimit k directly under the Window, k small): its single
    partition holds ≤ k rows at ANY corpus size.  The tree is printed
    depth-first and Window/Project/Filter are unary, so the window's
    input bound is decided by its first non-(Project|Filter) descendant
    line."""
    import re

    pat = re.compile(r"windowspecdefinition\([^,()]* (ASC NULLS|DESC NULLS)")
    lines = opt_plan.splitlines()
    for i, line in enumerate(lines):
        if "Window [" not in line or not pat.search(line):
            continue
        bounded = False
        for nxt in lines[i + 1 :]:
            node = nxt.lstrip(" :+-")
            if node.startswith(("Project [", "Filter ")):
                continue  # row-preserving/reducing unary ops keep the bound
            m = re.match(r"GlobalLimit (\d+)", node)
            bounded = bool(m) and int(m.group(1)) <= max_limit
            break
        if not bounded:
            return True
    return False


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_no_global_window_in_any_declared_query(spark):
    # VERDICT r5 item 4, codified: no declared query may contain a Window
    # over an EMPTY partition spec — that is an Exchange-SinglePartition
    # funnel of every corpus row through one reducer (a global NTILE, for
    # one) — UNLESS the window's input
    # is a ≤1000-row GlobalLimit candidate list (rank assignment in the
    # retrieval queries; see _unbounded_global_windows).  Heuristic: a
    # windowspecdefinition whose FIRST argument carries a sort direction
    # has no partition columns (partition cols print bare, order cols
    # print with "ASC NULLS"/"DESC NULLS").
    offenders = []
    for name in QUERIES:
        opt = _optimized(spark, name)
        if _unbounded_global_windows(opt):
            offenders.append(name)
    assert not offenders, offenders


def test_unbounded_window_detector_still_fires():
    # the allowance must not blind the guard: a corpus-shaped global
    # window (no limit below) and an over-large limit both still flag
    corpus = (
        "Window [row_number() windowspecdefinition(x#1 DESC NULLS LAST, "
        "specifiedwindowframe(...)) AS r#2], [x#1 DESC NULLS LAST]\n"
        "+- Relation [x#1] parquet"
    )
    assert _unbounded_global_windows(corpus)
    big = corpus.replace(
        "+- Relation [x#1] parquet",
        "+- GlobalLimit 50000\n   +- Relation [x#1] parquet",
    )
    assert _unbounded_global_windows(big)
    ok = corpus.replace(
        "+- Relation [x#1] parquet",
        "+- GlobalLimit 50\n   +- Relation [x#1] parquet",
    )
    assert not _unbounded_global_windows(ok)


def test_w5_bucketed_twin_has_no_window(spark):
    # the scale-safe decile twin: percentile aggregate + broadcast compare
    # ladder — no Window operator (the NTILE form's SinglePartition window
    # is exactly what this twin exists to avoid)
    plan = _plan(spark, "w5_deciles_bucketed")
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sessionize_single_keyed_shuffle(spark):
    # gaps-and-islands sessionization: ONE hashpartitioning Exchange on
    # user_id feeds the lag window, the session-id prefix sum, AND the
    # per-session aggregate — no SinglePartition window anywhere
    plan = _plan(spark, "w3_sessionize")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_sampling_split_is_narrow(spark):
    # hash splits/samples are pure projections/filters — zero Exchange
    for q in ("split_train_val_test", "sample_stratified"):
        plan = _plan(spark, q)
        assert "Exchange" not in plan, q


def test_pack_sequences_single_window_shuffle(spark):
    # per-shard packing: exactly one hash Exchange (the shard window), no
    # global-order singleton partition
    plan = _plan(spark, "pack_sequences_by_lang")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_decontamination_benchmark_broadcasts(spark):
    # the benchmark shingle side must broadcast: contamination check = one
    # corpus scan + map-side probes
    plan = _plan(spark, "decontaminate_overlap")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_k_per_group_uses_window_group_limit(spark):
    plan = _plan(spark, "sample_k_per_lang")
    assert "WindowGroupLimit" in plan


def test_quality_gate_broadcasts_scalar(spark):
    # the percentile threshold joins as a broadcast of ONE row — the only
    # acceptable nested-loop join shape (not corpus x corpus)
    plan = _plan(spark, "quality_gate_tokens")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q5_dims_broadcast_no_cartesian(spark):
    plan = _plan(spark, "q5_local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_interval_join_is_keyed(spark):
    # stream-stream interval join's batch twin: equi-key on user_id with the
    # time range as residual — never a cross product
    plan = _plan(spark, "stream_interval_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pipeline_curate_single_window_shuffle(spark):
    # composed dedup->gate->split: ONE fingerprint-keyed Exchange; the gate
    # and split stages are narrow projections on top
    plan = _plan(spark, "pipeline_curate")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_q18_semi_join_and_topk_shape(spark):
    # group-HAVING key set semi-probes back (never a re-scan re-join of an
    # unfiltered fact) and the final LIMIT is TakeOrdered, not a global sort
    plan = _plan(spark, "q18_large_orders")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_centroid_partial_aggregation_no_whole_vector_shuffle(spark):
    # per-dimension decimal partials: exactly ONE keyed exchange — the
    # (label, pos) agg — with map-side partials; no SinglePartition stage
    # and no whole-vector collect anywhere in the declared form
    plan = _plan(spark, "embedding_centroid_by_label")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan
    assert "partial_" in plan
    assert "collect_list" not in plan


def test_lead_lag_single_window_shuffle(spark):
    plan = _plan(spark, "w9_lead_lag")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_chunking_is_narrow(spark):
    # sequence -> explode -> substring: zero shuffles, runs at scan speed
    plan = _plan(spark, "text_chunk_overlap")
    assert "Exchange" not in plan


def test_char_diversity_two_keyed_shuffles(spark):
    # (doc, char) count then per-doc fold — two hash exchanges, partials on
    # both, no SinglePartition stage
    plan = _plan(spark, "text_char_diversity")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SinglePartition" not in plan
    assert "partial_" in plan


def test_salted_aggregate_two_phase(spark):
    # phase 1 groups on (key, salt), phase 2 on key: two keyed Exchanges,
    # and the hot key never funnels through a single reducer in phase 1
    plan = _plan(spark, "skew_salted_event_stats")
    assert plan.count("Exchange hashpartitioning") == 2


# --- r5 batch 2: the classic join-shape family ------------------------------


def test_q4_exists_becomes_semi_join(spark):
    plan = _plan(spark, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q6_predicates_reach_the_scan(spark):
    # pushdown-or-die: every range predicate lands in PushedFilters and the
    # scan reads only the referenced columns; the only exchange is the
    # one-row final aggregate.  (toString truncates the filter list, so the
    # pushdown asserts read the formatted explain.)
    df = QUERIES["q6_forecast_revenue"](spark, SF)
    fmt = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "GreaterThanOrEqual(l_discount,0.05)" in fmt
    assert "LessThan(l_quantity,24.0)" in fmt
    assert "GreaterThanOrEqual(l_shipdate," in fmt
    plan = _plan(spark, "q6_forecast_revenue")
    assert plan.count("Exchange") == 1  # SinglePartition for the 1-row agg


def test_q7_fixed_dims_broadcast_no_cartesian(spark):
    plan = _plan(spark, "q7_nation_volume")
    assert plan.count("BroadcastHashJoin") >= 2  # both nation legs
    assert "CartesianProduct" not in plan


def test_q8_longest_chain_no_cartesian(spark):
    plan = _plan(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "LeftSemi" in plan  # customer-region leg probes as a semi join
    assert "CartesianProduct" not in plan


def test_q13_outer_join_keeps_join_time_predicate(spark):
    # the priority predicate must be INSIDE the outer join, not a filter
    # above it (which would drop count-0 customers)
    plan = _optimized(spark, "q13_order_distribution")
    assert "LeftOuter" in plan
    import re

    above = plan.split("Join LeftOuter", 1)[0]
    assert not re.search(r"Filter .*1-URGENT", above)


def test_q17_correlation_decorrelated_to_one_partitioning(spark):
    plan = _plan(spark, "q17_small_quantity_revenue")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_semi_and_anti_on_same_key(spark):
    plan = _plan(spark, "q21_blocking_supplier")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_scalar_gate_and_anti_join(spark):
    plan = _plan(spark, "q22_inactive_balance")
    assert "LeftAnti" in plan
    # the global-average scalar is a 1-row broadcast, never a shuffle of
    # the corpus onto one partition
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_zscore_by_lang_single_corpus_shuffle(spark):
    # the stats agg is the only keyed exchange; the stats table broadcasts
    # back so the corpus itself is never reshuffled
    plan = _plan(spark, "text_zscore_by_lang")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_match_target_resample_is_map_side(spark):
    # counts + scalar broadcast; the keep decision is a filter on the scan
    plan = _plan(spark, "sample_match_target")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_markov_transitions_one_window_shuffle(spark):
    # bigrams from one user_id window; the matrix aggregates run on
    # |event_types|^2 rows, and the row-normalization join broadcasts
    plan = _plan(spark, "events_markov_transitions")
    assert "BroadcastHashJoin" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_merge_single_keyed_join(spark):
    plan = _plan(spark, "scd2_docs_merge")
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_correlation_is_one_keyed_aggregate(spark):
    plan = _plan(spark, "agg_correlation")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan
    assert "SinglePartition" not in plan


def test_top_p_selection_single_window_shuffle(spark):
    # running sum + per-group total share ONE lang-keyed exchange
    plan = _plan(spark, "sample_top_p_by_lang")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "SinglePartition" not in plan


def test_incremental_pipeline_reprocesses_only_changed(spark):
    # the tokenization join's left input must be the status-filtered diff,
    # so the expensive expression never sees the full corpus
    opt = _optimized(spark, "pipeline_incremental")
    assert "CartesianProduct" not in opt
    assert "added" in opt and "modified" in opt
    # the split/tokenize expression must appear exactly once (changed
    # subset), not once per diff branch
    assert opt.count("split(text") == 1


def test_dup_sentence_fraction_hash_keyed_shuffles(spark):
    plan = _plan(spark, "text_dup_sentence_fraction")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan


def test_quality_logit_is_scan_shaped(spark):
    # the classifier is a pure projection: no Exchange anywhere
    plan = _plan(spark, "quality_logit")
    assert "Exchange" not in plan


def test_mad_outliers_broadcasts_stats(spark):
    # two grouped medians broadcast back; the corpus is never reshuffled
    plan = _plan(spark, "events_mad_outliers")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SinglePartition" not in plan


def test_triangles_all_keyed_equi_joins(spark, monkeypatch):
    # force the distributed scale engine (r11: below the dense-driver gate
    # the query returns a local result whose plan would vacuously pass)
    from lvm_datapipe_spark.operators import graph

    monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", -1)
    plan = _plan(spark, "graph_supplier_triangles")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SinglePartition" not in plan


def test_basket_lift_support_floor_inside_aggregate(spark):
    # the HAVING floor must land in the pair aggregate (a Filter over the
    # agg), and item counts broadcast back
    plan = _plan(spark, "basket_part_lift")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_temperature_mix_is_map_side(spark):
    plan = _plan(spark, "sample_temperature_mix")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_trigrams_one_window_shuffle(spark):
    # the user_id window + the final count agg (map-side partials over at
    # most |types|^3 rows) — exactly two keyed exchanges, no global stage
    plan = _plan(spark, "events_top_trigrams")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_" in plan
    assert "SinglePartition" not in plan


def test_share_of_group_broadcasts_totals(spark):
    # ratio-to-report via broadcast totals: exactly one keyed exchange (the
    # tiny per-group aggregate), never a corpus window shuffle
    plan = _plan(spark, "w10_share_of_group")
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_histogram2d_one_bounded_aggregate(spark):
    plan = _plan(spark, "histogram2d_qty_price")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_" in plan
    assert "SinglePartition" not in plan


def test_novelty_hash_keyed_no_hot_paths(spark):
    plan = _plan(spark, "text_novelty_score")
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
