"""Empty-input robustness: every operator family must return an empty
result on empty tables, never crash (the production new-partition /
fresh-tenant case — a daily job's first run sees zero rows).

The full 208-query sweep on empty fixtures runs out-of-band (it found
exactly one crash: MLlib KMeans.fit on zero rows, now guarded); this
suite pins the guarded path plus one representative per heavy machinery
family so the property cannot silently regress."""

from __future__ import annotations

import pytest

REPRESENTATIVES = [
    "q1_pricing_summary",        # scan + aggregate
    "ann_ivf_topk",              # the previously-crashing KMeans path
    "ann_lsh_near_dup",          # LSH banding + self-join
    "dedup_minhash_lsh",         # signature machinery
    "hybrid_rank_fusion",        # retrieval composition (limits, windows)
    "sparse_cosine_topk",        # hashed features + broadcast postings
    "graph_triangle_counts",     # wedge joins
    "dedup_clusters",            # iterative connected components
    "bootstrap_mean_replicates", # conditional aggregates + div guard
    "pipeline_pretrain_full",    # the composed curation pipeline
    "events_tumbling_window",    # event-time windowing
    "scd2_docs_merge",           # SCD2 merge
    "icl_similarity_chain",      # applyInPandas greedy traversal
    "bitext_margin_pairs",       # margin mining (pivot sums, dual windows)
    "dedup_winnowing_pairs",     # per-doc window + bounded range join (s13)
    "bt_event_type_strength",    # driver-side MM replay over collected matrix
    "graph_kcore_parts",         # converged iterative peel (r9)
    # NOT here: ht_sampled_revenue_estimate — a pure scalar-aggregate query
    # legitimately returns ONE row (of NULL totals) on empty input per SQL
    # semantics; the degenerate sweep covers it for no-crash.
]


@pytest.fixture(scope="module")
def empty_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_empty")
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{src}/{t}.parquet").limit(0).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_query_survives_empty_input(spark, empty_dir, name):
    from lvm_datapipe_spark.queries import QUERIES

    assert QUERIES[name](spark, empty_dir).count() == 0


def test_ivf_index_empty_and_tiny_corpora(spark):
    from lvm_datapipe_spark.operators.similarity import ivf_index, ivf_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assigned, centroids = ivf_index(empty)
    assert centroids == [] and assigned.count() == 0
    assert ivf_topk(empty, empty).count() == 0
    # fewer rows than cells: k clamps to n instead of crashing
    tiny = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    assigned, centroids = ivf_index(tiny)
    assert len(centroids) == 3 and assigned.count() == 3


@pytest.fixture(scope="module")
def one_row_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("sf_one")
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        spark.read.parquet(f"{src}/{t}.parquet").limit(1).write.parquet(
            str(d / f"{t}.parquet")
        )
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_query_survives_one_row_tables(spark, one_row_dir, name):
    """Single-row tables exercise 1-row groups (the class that crashed
    bootstrap replicate means under ANSI) and the k=1 KMeans path."""
    from lvm_datapipe_spark.queries import QUERIES

    QUERIES[name](spark, one_row_dir).count()  # must not raise


def test_ivf_single_row_corpus_is_its_own_centroid(spark):
    from lvm_datapipe_spark.operators.similarity import ivf_index

    one = spark.createDataFrame(
        [(7, [1.0] * 64)], "vec_id long, embedding array<float>"
    )
    assigned, centroids = ivf_index(one)
    assert len(centroids) == 1 and centroids[0] == [1.0] * 64
    assert [(r["vec_id"], r["cell"]) for r in assigned.collect()] == [(7, 0)]


@pytest.fixture(scope="module")
def null_payload_dir(spark, tmp_path_factory):
    """Key columns intact, every payload column NULL — the corrupt-batch /
    schema-present-values-missing arrival case."""
    from pyspark.sql import functions as F

    keep = {
        "doc_id", "vec_id", "event_id", "user_id", "l_orderkey", "l_partkey",
        "l_suppkey", "o_orderkey", "o_custkey", "c_custkey", "c_nationkey",
        "s_suppkey", "s_nationkey", "p_partkey", "n_nationkey", "n_regionkey",
        "r_regionkey", "l_linenumber",
    }
    d = tmp_path_factory.mktemp("sf_nulls")
    src = "/root/testdata/sf0.001"
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        df = spark.read.parquet(f"{src}/{t}.parquet").limit(20)
        for f_ in df.schema.fields:
            if f_.name not in keep:
                df = df.withColumn(f_.name, F.lit(None).cast(f_.dataType))
        df.write.parquet(str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_query_survives_null_payloads(spark, null_payload_dir, name):
    from lvm_datapipe_spark.queries import QUERIES

    QUERIES[name](spark, null_payload_dir).count()  # must not raise


def test_ivf_drops_null_vectors(spark):
    from lvm_datapipe_spark.operators.similarity import ivf_index

    emb = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None), (3, [2.0] * 64)],
        "vec_id long, embedding array<float>",
    )
    assigned, centroids = ivf_index(emb)
    assert {r["vec_id"] for r in assigned.collect()} == {1, 3}
    assert len(centroids) == 2
