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


# ---------------------------------------------------------------------------
# agg_state / merge_agg_state (incremental view maintenance)
# ---------------------------------------------------------------------------


def test_merge_agg_state_equals_full_recompute(spark):
    from lvm_datapipe_spark.operators.aggregates import agg_state, merge_agg_state

    import random

    rng = random.Random(7)
    rows = [(f"k{i % 5}", rng.uniform(-100, 100)) for i in range(400)]
    df = spark.createDataFrame(rows, ["event_type", "value"])
    a, b = df.filter("value < 0"), df.filter("value >= 0")
    merged = merge_agg_state(agg_state(a), agg_state(b))
    full = agg_state(df)
    got = {(r["event_type"], r["n_rows"], r["sum_value"]) for r in merged.collect()}
    want = {(r["event_type"], r["n_rows"], r["sum_value"]) for r in full.collect()}
    assert got == want  # EXACT decimal equality, not approx


def test_merge_agg_state_disjoint_and_empty_sides(spark):
    from lvm_datapipe_spark.operators.aggregates import agg_state, merge_agg_state

    a = spark.createDataFrame([("x", 1.5), ("x", 2.0)], ["event_type", "value"])
    b = spark.createDataFrame([("y", 3.0)], ["event_type", "value"])
    merged = {
        r["event_type"]: (r["n_rows"], float(r["sum_value"]))
        for r in merge_agg_state(agg_state(a), agg_state(b)).collect()
    }
    assert merged == {"x": (2, 3.5), "y": (1, 3.0)}
    empty = agg_state(a.filter("value > 99"))
    same = {
        r["event_type"]: (r["n_rows"], float(r["sum_value"]))
        for r in merge_agg_state(agg_state(a), empty).collect()
    }
    assert same == {"x": (2, 3.5)}


def test_merge_agg_state_null_keys_merge(spark):
    from lvm_datapipe_spark.operators.aggregates import agg_state, merge_agg_state

    a = spark.createDataFrame([(None, 1.0), ("x", 5.0)], "event_type: string, value: double")
    b = spark.createDataFrame([(None, 2.0)], "event_type: string, value: double")
    merged = merge_agg_state(agg_state(a), agg_state(b)).collect()
    rows = {r["event_type"]: (r["n_rows"], float(r["sum_value"])) for r in merged}
    # NULL is a real group for groupBy, so the merge must combine it too
    assert rows == {None: (2, 3.0), "x": (1, 5.0)}


# --- count-min sketch ------------------------------------------------------


def _cm_cells(sketch):
    return {(r["d"], r["bucket"]): r["cnt"] for r in sketch.collect()}


def _cm_estimate(cells, key):
    """Point estimate: min over the depth rows of the key's md5 buckets,
    the same bucket rule ``cm_sketch`` applies in Spark."""
    import hashlib

    from lvm_datapipe_spark.operators.aggregates import CM_DEPTH, CM_SALT, CM_WIDTH

    return min(
        cells.get(
            (d, int(hashlib.md5(f"{CM_SALT}{d}:{key}".encode()).hexdigest()[:8], 16) % CM_WIDTH),
            0,
        )
        for d in range(CM_DEPTH)
    )


def test_cm_sketch_never_undercounts_and_bounds(spark):
    from collections import Counter

    from lvm_datapipe_spark.operators.aggregates import CM_WIDTH, cm_sketch

    vals = [f"k{i % 37}" for i in range(2000)] + ["hot"] * 500
    true = Counter(vals)
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    cells = _cm_cells(cm_sketch(df, "v"))
    n = len(vals)
    for k, t in true.items():
        est = _cm_estimate(cells, k)
        assert est >= t, f"undercount for {k}"
        # e*N/width error bound (holds deterministically here: the
        # documented failure prob at depth 4 is (1/e)^4 ~ 1.8%)
        assert est - t <= 2.718281828 * n / CM_WIDTH + 1
    # an absent key estimates near zero (collisions only)
    assert 0 <= _cm_estimate(cells, "absent") <= 2.718281828 * n / CM_WIDTH + 1


def test_cm_merge_equals_whole_corpus_sketch(spark):
    from collections import Counter

    from lvm_datapipe_spark.operators.aggregates import cm_sketch

    a = spark.createDataFrame([(f"x{i % 11}",) for i in range(300)], ["v"])
    b = spark.createDataFrame([(f"x{i % 7}",) for i in range(200)], ["v"])
    # sketches merge by summing cell-wise
    merged = Counter(_cm_cells(cm_sketch(a, "v")))
    merged.update(_cm_cells(cm_sketch(b, "v")))
    assert dict(merged) == _cm_cells(cm_sketch(a.unionByName(b), "v"))
