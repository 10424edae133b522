"""session.query_scope: a run's caches and checkpoints live until its sink,
then the scope frees them, while what the caller cached before stays."""

from __future__ import annotations

import pytest

from lvm_datapipe_spark.queries import QUERIES
from lvm_datapipe_spark.session import held_storage, query_scope

#: queries that cache or checkpoint intermediates at sf0.001.  The first
#: three kept caches even under the per-frame ``release()`` registry this
#: scope replaced; graph_kcore_parts and dedup_clusters hold eager
#: checkpoints.
SWEEP = [
    "dedup_levenshtein",
    "curation_scorecard",
    "dedup_method_agreement",
    "graph_kcore_parts",
    "dedup_clusters",
    "ccnet_perplexity_buckets",
    "geo_dbscan_clusters",
    "sample_priority_topk",
    "sample_neyman_allocation",
    "mixture_lang_source_lift",
    "mix_budget_spillover",
    "leaderboard_churn_monthly",
    "theil_sen_slope_by_user",
    "pmi_skipgram_lift",
    "sparse_cosine_topk",
    "dedup_review_queue",
    "item_item_cosine",
    "basket_part_lift",
    "basket_rules_confidence",
    "doc_contiguous_ids",
    "graph_reachability_3hop",
    "graph_triangle_counts",
    "graph_supplier_triangles",
    "embedding_similarity_bands",
]


def _added(before, after) -> tuple[int, list[int]]:
    """Cached relations and persistent RDD ids held ``after`` but not
    ``before``.  Only additions count: a checkpoint an earlier test left
    behind may vanish meanwhile, when the JVM collects its RDD."""
    return after[0] - before[0], sorted(after[1] - before[1])


def _is_stored(df) -> bool:
    level = df.storageLevel
    return level.useMemory or level.useDisk


def _made_inside(spark):
    """A persist, a cache built on it, and an eager checkpoint."""
    base = spark.range(1000).selectExpr("id % 7 AS k").persist()
    base.count()
    on_base = base.groupBy("k").count().persist()
    on_base.count()
    ckpt = spark.range(500).localCheckpoint()
    return base, on_base, ckpt


def test_scope_keeps_what_was_cached_before(spark):
    pre = spark.range(100).selectExpr("id AS pre").persist()
    pre.count()
    # cached before the scope, first materialized inside it
    lazy = spark.range(37).selectExpr("id AS lazy").persist()
    try:
        n_before, rdds_before = held_storage(spark)
        with query_scope(spark):
            lazy.count()
            _made_inside(spark)
        n_added, rdds_added = _added((n_before, rdds_before), held_storage(spark))
        assert n_added == 0
        assert _is_stored(pre) and _is_stored(lazy)
        # the only new persistent RDD left is lazy's cache buffer
        assert len(rdds_added) == 1
    finally:
        pre.unpersist()
        lazy.unpersist()


def test_scope_frees_persists_nested_caches_and_checkpoints(spark):
    before = held_storage(spark)
    with query_scope(spark):
        base, on_base, ckpt = _made_inside(spark)
        n, rdds = held_storage(spark)
        assert n == before[0] + 2 and len(rdds - before[1]) == 3
    assert _added(before, held_storage(spark)) == (0, [])
    assert not _is_stored(base) and not _is_stored(on_base)
    # the contract: a checkpointed frame is dead after its scope
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        ckpt.count()


def test_scope_frees_when_the_block_raises(spark):
    before = held_storage(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with query_scope(spark):
            _made_inside(spark)
            raise RuntimeError("boom")
    assert _added(before, held_storage(spark)) == (0, [])


def test_query_sweep_leaves_the_session_as_it_found_it(spark, sf_dir):
    """Each query runs to the noop sink inside its own scope; afterwards the
    session holds no cached relation or persistent RDD it did not hold
    before that query."""
    # plan-only tests persist without running, which leaves cache entries
    # that a query's plan can hit; the scope rightly keeps such an older
    # cache even when the query materializes it, so start from none
    spark.catalog.clearCache()
    made, leaked = [], {}
    for name in SWEEP:
        before = held_storage(spark)
        with query_scope(spark):
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            if _added(before, held_storage(spark)) != (0, []):
                made.append(name)
        added = _added(before, held_storage(spark))
        if added != (0, []):
            leaked[name] = added
    assert not leaked
    # every query in the list does cache or checkpoint something
    assert made == SWEEP
