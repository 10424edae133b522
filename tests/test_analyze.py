"""Direct tests for the corpus-analytics module (analyze_vids parity)."""

from __future__ import annotations

from lvm_datapipe_spark.operators import analyze


def test_duration_histogram_reference_bins(spark):
    durations = [2.0, 7.0, 30.0, 120.0, 400.0, 700.0, 2000.0, 4000.0, 4.9]
    df = spark.createDataFrame([(d,) for d in durations], ["clip_duration"])
    out = {r.label: r.n for r in analyze.duration_histogram(df).collect()}
    assert out == {
        "0-5s": 2,
        "5-10s": 1,
        "10-60s": 1,
        "1-5min": 1,
        "5-10min": 1,
        "10-30min": 1,
        "30-60min": 1,
        ">1h": 1,
    }


def test_duration_stats(spark):
    df = spark.createDataFrame([(1.0,), (3.0,)], ["clip_duration"])
    row = analyze.duration_stats(df).first()
    assert (row.total, row.mean, row.min, row.max, row.n) == (4.0, 2.0, 1.0, 3.0, 2)


def test_category_counts(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",)], ["category"])
    out = {r.category: r.n for r in analyze.category_counts(df).collect()}
    assert out == {"a": 2, "b": 1}


# ---------------------------------------------------------------------------
# HLL sketch partial/merge (mergeable distinct-count pattern)
# ---------------------------------------------------------------------------


def test_hll_partials_merge_equals_whole_corpus_sketch(spark):
    from lvm_datapipe_spark.operators.aggregates import hll_merge, hll_partials

    rows = [(d, f"u{i % 57}") for d in ("mon", "tue", "wed") for i in range(d.__len__() * 40)]
    df = spark.createDataFrame(rows, ["day", "user"])
    partials = hll_partials(df, ["day"], "user")
    assert partials.count() == 3
    merged = hll_merge(partials, []).collect()[0]
    # lossless union: merging per-day sketches == sketching the union
    from pyspark.sql import functions as F

    whole = df.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user", F.lit(12))).alias("e")
    ).collect()[0]["e"]
    assert merged["approx_distinct"] == whole
    assert merged["n_rows"] == len(rows)


def test_hll_estimate_close_to_exact(spark):
    from lvm_datapipe_spark.operators.aggregates import hll_merge, hll_partials

    n = 2000
    df = spark.createDataFrame(
        [(i % 7, f"user_{i}") for i in range(n)], ["g", "user"]
    )
    est = hll_merge(hll_partials(df, ["g"], "user"), []).collect()[0][
        "approx_distinct"
    ]
    assert abs(est - n) / n < 0.05  # lg_k=12 → ~1.6% rse; 5% is generous


# ---------------------------------------------------------------------------
# agg_state / merge_agg_state (incremental view maintenance)
# ---------------------------------------------------------------------------


def test_merge_agg_state_equals_full_recompute(spark):
    from lvm_datapipe_spark.operators.aggregates import agg_state, merge_agg_state

    import random

    rng = random.Random(7)
    rows = [(f"k{i % 5}", rng.uniform(-100, 100)) for i in range(400)]
    df = spark.createDataFrame(rows, ["k", "v"])
    a, b = df.filter("v < 0"), df.filter("v >= 0")
    merged = merge_agg_state(
        agg_state(a, ["k"], "v"), agg_state(b, ["k"], "v"), ["k"]
    )
    full = agg_state(df, ["k"], "v")
    got = {(r["k"], r["n_rows"], r["sum_value"]) for r in merged.collect()}
    want = {(r["k"], r["n_rows"], r["sum_value"]) for r in full.collect()}
    assert got == want  # EXACT decimal equality, not approx


def test_merge_agg_state_disjoint_and_empty_sides(spark):
    from lvm_datapipe_spark.operators.aggregates import agg_state, merge_agg_state

    a = spark.createDataFrame([("x", 1.5), ("x", 2.0)], ["k", "v"])
    b = spark.createDataFrame([("y", 3.0)], ["k", "v"])
    merged = {
        r["k"]: (r["n_rows"], float(r["sum_value"]))
        for r in merge_agg_state(
            agg_state(a, ["k"], "v"), agg_state(b, ["k"], "v"), ["k"]
        ).collect()
    }
    assert merged == {"x": (2, 3.5), "y": (1, 3.0)}
    empty = agg_state(a.filter("v > 99"), ["k"], "v")
    same = {
        r["k"]: (r["n_rows"], float(r["sum_value"]))
        for r in merge_agg_state(
            agg_state(a, ["k"], "v"), empty, ["k"]
        ).collect()
    }
    assert same == {"x": (2, 3.5)}


def test_merge_agg_state_null_keys_merge(spark):
    from lvm_datapipe_spark.operators.aggregates import agg_state, merge_agg_state

    a = spark.createDataFrame([(None, 1.0), ("x", 5.0)], "k: string, v: double")
    b = spark.createDataFrame([(None, 2.0)], "k: string, v: double")
    merged = merge_agg_state(
        agg_state(a, ["k"], "v"), agg_state(b, ["k"], "v"), ["k"]
    ).collect()
    rows = {r["k"]: (r["n_rows"], float(r["sum_value"])) for r in merged}
    # NULL is a real group for groupBy, so the merge must combine it too
    assert rows == {None: (2, 3.0), "x": (1, 5.0)}


def test_hll_merge_custom_sketch_col_without_counts(spark):
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.operators.aggregates import hll_merge, hll_partials

    df = spark.createDataFrame([("a", f"u{i}") for i in range(30)], ["g", "u"])
    partials = hll_partials(df, ["g"], "u").select(
        "g", F.col("hll").alias("sketch")
    )
    out = hll_merge(partials, [], sketch_col="sketch").collect()[0]
    assert out["approx_distinct"] == 30
    assert "n_rows" not in out.asDict()


def test_heavy_hitters_containment_guarantee(spark):
    import random

    from lvm_datapipe_spark.operators.aggregates import heavy_hitters

    rng = random.Random(11)
    # zipf-ish: a few hot values + a long tail
    rows = (
        [("hot_a",)] * 400 + [("hot_b",)] * 250 + [("hot_c",)] * 150
        + [(f"tail_{rng.randrange(500)}",) for _ in range(400)]
    )
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, ["v"]).repartition(4)
    n, k = len(rows), 20
    hh = {r["value"]: r["est_count"] for r in heavy_hitters(df, "v", k).collect()}
    exact = {}
    for (v,) in rows:
        exact[v] = exact.get(v, 0) + 1
    # GUARANTEE: every value with true count > n/k is present
    for v, c in exact.items():
        if c > n / k:
            assert v in hh, f"{v} (count {c}) missing"
    # estimates never overcount, and undercount is bounded
    for v, est in hh.items():
        assert est <= exact[v]
        assert exact[v] - est <= n / k * df.rdd.getNumPartitions()
    # the three hot values dominate the ranking
    top3 = sorted(hh, key=lambda v: -hh[v])[:3]
    assert set(top3) == {"hot_a", "hot_b", "hot_c"}


# --- count-min sketch ------------------------------------------------------


def test_cm_sketch_never_undercounts_and_bounds(spark):
    from collections import Counter

    from lvm_datapipe_spark.operators.aggregates import cm_estimate, cm_sketch

    vals = [f"k{i % 37}" for i in range(2000)] + ["hot"] * 500
    true = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    sk = cm_sketch(df, "v", depth=4, width=256).persist()
    keys = spark.createDataFrame([(k,) for k in true], ["v"])
    est = {r["v"]: r["est"] for r in cm_estimate(sk, keys, "v").collect()}
    n = len(vals)
    for k, t in true.items():
        assert est[k] >= t, f"undercount for {k}"
        # e*N/width error bound (holds deterministically here: the
        # documented failure prob at depth 4 is (1/e)^4 ~ 1.8%)
        assert est[k] - t <= 2.718281828 * n / 256 + 1
    # an absent key estimates near zero (collisions only)
    miss = cm_estimate(
        sk, spark.createDataFrame([("absent",)], ["v"]), "v"
    ).first()["est"]
    assert 0 <= miss <= 2.718281828 * n / 256 + 1


def test_cm_merge_equals_whole_corpus_sketch(spark):
    from lvm_datapipe_spark.operators.aggregates import cm_merge, cm_sketch

    a = spark.createDataFrame([(f"x{i % 11}",) for i in range(300)], ["v"])
    b = spark.createDataFrame([(f"x{i % 7}",) for i in range(200)], ["v"])
    merged = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cm_merge(cm_sketch(a, "v"), cm_sketch(b, "v")).collect()
    }
    whole = {
        (r["d"], r["bucket"]): r["cnt"]
        for r in cm_sketch(a.unionByName(b), "v").collect()
    }
    assert merged == whole
