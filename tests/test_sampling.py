"""Deterministic sampling / splitting (operators/sampling.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.sampling import (
    hash_bucket,
    split_assign,
    stratified_sample,
)


def _docs(spark, n=400):
    return spark.createDataFrame(
        [(i, "en" if i % 3 else "fr") for i in range(n)], ["doc_id", "lang"]
    )


def test_split_disjoint_exhaustive(spark):
    out = split_assign(_docs(spark), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 400
    # rough proportions (hash-uniform; generous tolerance at n=400)
    assert counts["train"] > 250 and counts["val"] < 100 and counts["test"] < 100


def test_split_stable_under_repartition(spark):
    docs = _docs(spark)
    w = {"train": 0.9, "test": 0.1}
    a = {(r.doc_id, r.split) for r in split_assign(docs, "doc_id", w).collect()}
    b = {
        (r.doc_id, r.split)
        for r in split_assign(docs.repartition(17, "lang"), "doc_id", w).collect()
    }
    assert a == b


def test_split_subdivision_preserves_earlier_splits(spark):
    """Adding a new split never moves rows between the existing ones."""
    docs = _docs(spark)
    two = {r.doc_id: r.split for r in split_assign(docs, "doc_id", {"train": 0.8, "rest": 0.2}).collect()}
    three = {
        r.doc_id: r.split
        for r in split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).collect()
    }
    for k, v in two.items():
        if v == "train":
            assert three[k] == "train"
        else:
            assert three[k] in ("val", "test")


def test_stratified_fractions(spark):
    docs = _docs(spark)
    out = stratified_sample(docs)
    kept = out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    by = {r.lang: r.n for r in kept}
    n_en = docs.filter(F.col("lang") == "en").count()
    n_fr = docs.filter(F.col("lang") == "fr").count()
    assert by["fr"] == n_fr  # default 1.0 keeps every fr row
    assert by["en"] < 0.4 * n_en  # ~20% of en


def test_bucket_range(spark):
    out = _docs(spark).select(hash_bucket("doc_id", 100).alias("b"))
    mm = out.agg(F.min("b"), F.max("b")).collect()[0]
    assert 0 <= mm[0] and mm[1] < 100


def test_no_shuffle_in_plan(spark):
    docs = _docs(spark)
    plan = (
        split_assign(docs, "doc_id", {"train": 0.8, "rest": 0.2})
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure narrow projection


def test_leakage_safe_split_keeps_near_dups_together(spark):
    """Every near-dup pair must land in the same split when keyed on the
    cluster representative."""
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V
    from lvm_datapipe_spark.operators.graph import connected_components

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    pairs = V.embedding_near_dup_pairs(emb, threshold=0.4)
    cc = connected_components(pairs)
    keyed = emb.join(cc.withColumnRenamed("id", "vec_id"), "vec_id", "left").select(
        "vec_id", F.coalesce("cluster_id", "vec_id").alias("skey")
    )
    out = split_assign(keyed, "skey", {"train": 0.9, "holdout": 0.1})
    split_of = {r.vec_id: r.split for r in out.collect()}
    for p in pairs.collect():
        assert split_of[p.id_a] == split_of[p.id_b]


def test_sample_k_per_group(spark, monkeypatch):
    from lvm_datapipe_spark.operators import sampling
    from lvm_datapipe_spark.operators.sampling import sample_k_per_group

    monkeypatch.setattr(sampling, "SAMPLE_K", 5)
    docs = _docs(spark)  # lang en for doc_id%3!=0, fr otherwise
    out = sample_k_per_group(docs)
    by = {}
    for r in out.collect():
        by.setdefault(r.lang, set()).add(r.doc_id)
    assert len(by["en"]) == 5 and len(by["fr"]) == 5
    # deterministic: identical selection on a repartitioned input
    out2 = sample_k_per_group(docs.repartition(11))
    by2 = {}
    for r in out2.collect():
        by2.setdefault(r.lang, set()).add(r.doc_id)
    assert by == by2
    # WindowGroupLimit in the plan (top-k below the shuffle)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_weighted_sample_stable_under_repartition(spark, sf_dir):
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "keep_p", F.least(F.col("n_chars") / 400.0, F.lit(1.0))
    )
    a = {r.doc_id for r in weighted_sample(docs).collect()}
    b = {
        r.doc_id
        for r in weighted_sample(docs.repartition(7)).collect()
    }
    assert a == b and 0 < len(a) < docs.count()


def test_weighted_sample_extremes(spark):
    from lvm_datapipe_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame([(i, 0.0, 1.0) for i in range(50)], ["doc_id", "p0", "p1"])
    p0, p1 = (df.withColumnRenamed(p, "keep_p") for p in ("p0", "p1"))
    assert weighted_sample(p0).count() == 0   # p=0 keeps nothing
    assert weighted_sample(p1).count() == 50  # p=1 keeps all
