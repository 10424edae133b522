"""Semantic invariants for the geo, graph, sketch and estimator queries,
beyond the DuckDB hash oracle: the oracle proves Spark == SQL spec; these
prove the SPEC itself has the properties the operator's name promises
(radius bounds, absorbing-probability bounds, conservation laws, estimator
sanity)."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.queries import QUERIES

R2 = 50_000 * 50_000


def test_grid_nn_radius_and_irreflexivity(spark, sf_dir):
    df = QUERIES["geo_grid_radius_nn"](spark, sf_dir)
    bad = df.filter(
        (F.col("nn_dist2") > R2)
        | (F.col("nn_dist2") < 0)
        | (F.col("nn_custkey") == F.col("c_custkey"))
    )
    assert bad.count() == 0
    # the neighbor relation's support is symmetric: if a has a neighbor
    # within R then a IS within R of that neighbor, so nn_custkey must
    # itself appear as a probe with some neighbor
    out = df.select(F.col("nn_custkey").alias("c_custkey")).distinct()
    missing = out.join(df.select("c_custkey"), "c_custkey", "left_anti")
    assert missing.count() == 0


def test_dbscan_core_flag_matches_threshold(spark, sf_dir):
    df = QUERIES["geo_dbscan_core_points"](spark, sf_dir)
    bad = df.filter(
        ((F.col("n_neighbors") >= 4) & (F.col("is_core") != 1))
        | ((F.col("n_neighbors") < 4) & (F.col("is_core") != 0))
    )
    assert bad.count() == 0


def test_quadkey_pyramid_parent_child_conservation(spark, sf_dir):
    df = QUERIES["geo_quadkey_pyramid"](spark, sf_dir).persist()
    rows = {
        (r["zoom"], r["qx"], r["qy"]): r["n_points"] for r in df.collect()
    }
    df.unpersist()
    # every child tile's count rolls up into exactly its (qx//2, qy//2)
    # parent at the previous zoom — the pyramid property tile servers rely on
    for (z, qx, qy), n in rows.items():
        if z == 1:
            continue
        parent = rows.get((z - 1, qx // 2, qy // 2))
        assert parent is not None and parent >= n, (z, qx, qy)
    for z in (1, 2, 3, 4):
        total = sum(n for (zz, _, _), n in rows.items() if zz == z)
        assert total == sum(n for (zz, _, _), n in rows.items() if zz == 1)


def test_markov_absorption_bounds_and_absorbing_state(spark, sf_dir):
    df = QUERIES["markov_absorption_to_purchase"](spark, sf_dir).persist()
    states = [r["state"] for r in df.collect()]
    assert "purchase" not in states  # absorbing: no outgoing row
    bad = df.filter(
        (F.col("p_absorb_micro") < 0) | (F.col("p_absorb_micro") > 1_000_000)
    )
    assert bad.count() == 0
    df.unpersist()


def test_trigram_backoff_level_conservation(spark, sf_dir):
    df = QUERIES["text_trigram_stupid_backoff"](spark, sf_dir)
    bad = df.filter(
        F.col("n_tri_hits") + F.col("n_bi_backoffs") + F.col("n_uni_backoffs")
        != F.col("n_trigrams")
    )
    assert bad.count() == 0


def test_kmv_estimator_sanity(spark, sf_dir):
    row = QUERIES["sketch_kmv_distinct"](spark, sf_dir).collect()[0]
    if row["k"] < 256:
        # small-cardinality exactness: the sketch IS the exact count
        assert row["est_distinct"] == row["true_distinct"]
    else:
        # SE of KMV at k=256 is ~1/sqrt(k) ~= 6%; 30% is a loose 5-sigma
        assert abs(row["est_distinct"] - row["true_distinct"]) <= (
            0.3 * row["true_distinct"]
        )


def test_bottomk_quantile_sample_within_range(spark, sf_dir):
    row = QUERIES["sketch_bottomk_quantile_sample"](spark, sf_dir).collect()[0]
    # the sample estimate must live inside the exact distribution's span
    # and track the exact value loosely (uniform sample of >= 256 rows)
    for p in ("p50", "p90"):
        est, exact = row[f"est_{p}"], row[f"exact_{p}"]
        assert est > 0 and exact > 0
        assert abs(est - exact) / exact < 0.35, (p, est, exact)


def test_parity_max_group_is_reference(spark, sf_dir):
    df = QUERIES["fairness_selection_parity"](spark, sf_dir).persist()
    assert df.filter(F.col("di_ppm") == 1_000_000).count() >= 1
    bad = df.filter(
        (F.col("rate_ppm") > 1_000_000)
        | (F.col("di_ppm") > 1_000_000)
        | (F.col("n_selected") > F.col("n_docs"))
    )
    assert bad.count() == 0
    df.unpersist()


def test_loo_source_impact_identity(spark, sf_dir):
    import duckdb

    rows = QUERIES["curation_loo_source_impact"](spark, sf_dir).collect()
    con = duckdb.connect()
    tn, tsum = con.execute(
        f"SELECT count(*), SUM(n_chars) FROM "
        f"'{sf_dir}/documents.parquet'"
    ).fetchone()
    full = tsum * 1_000_000 // tn
    for r in rows:
        assert r["full_mean_micro"] == full
        assert r["delta_micro"] == r["loo_mean_micro"] - full


def test_kmeans_partition_of_corpus(spark, sf_dir):
    df = QUERIES["kmeans_lloyd_round"](spark, sf_dir).persist()
    rows = df.collect()
    df.unpersist()
    import duckdb

    n = duckdb.connect().execute(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_points"] for r in rows) == n  # assignment partitions
    assert all(0 <= r["cluster"] <= 3 for r in rows)
    assert all(r["inertia_q"] >= 0 for r in rows)


def test_er_pairs_blocked_and_ordered(spark, sf_dir):
    df = QUERIES["er_customer_linkage_pairs"](spark, sf_dir)
    bad = df.filter(
        (F.col("id_a") >= F.col("id_b"))
        | (F.col("edit_dist") > 1)
        | (F.col("edit_dist") < 1)
    )
    # distance 0 is impossible (names are distinct), so every pair is
    # exactly one edit apart and canonically ordered
    assert bad.count() == 0


def test_link_prediction_excludes_existing_edges(spark, sf_dir):
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V

    pred = QUERIES["graph_jaccard_link_prediction"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12).select(
        "id_a", "id_b"
    )
    overlap = pred.join(pairs, ["id_a", "id_b"], "inner")
    assert overlap.count() == 0
    assert pred.filter(F.col("jaccard_micro") > 1_000_000).count() == 0


def test_mattr_matches_python_replay(spark, sf_dir):
    """The scan-local MATTR expression (r10: replaced the quadratic
    positional self-join) must equal a character-exact pure-Python replay
    of the spec: whitespace tokens, 2000-token cap, window-25 distinct
    counts (windows straddling the cap count only surviving tokens),
    mattr = sum/ (25*k) in IEEE double, floor-micro lang mean."""
    import math
    import re

    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"])
    per_lang: dict = {}
    for doc_id, lang, text in zip(
        tbl["doc_id"].to_pylist(), tbl["lang"].to_pylist(), tbl["text"].to_pylist()
    ):
        toks_full = [t for t in re.split(r"\s+", text or "") if t != ""]
        n = len(toks_full)
        if n < 25:
            continue
        toks = toks_full[:2000]
        starts = range(1, min(n - 24, 2000) + 1)
        wins = [len(set(toks[s - 1 : s + 24])) for s in starts]
        mattr = float(sum(wins)) / (25 * len(wins))
        per_lang.setdefault(lang, []).append(mattr)
    expect = {
        lang: (len(ms), float(sum(math.floor(m * 1000000.0) for m in ms)) / 1000000.0 / len(ms))
        for lang, ms in per_lang.items()
    }
    got = {
        r.lang: (r.n_docs, r.mean_mattr)
        for r in QUERIES["text_mattr_diversity"](spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0
