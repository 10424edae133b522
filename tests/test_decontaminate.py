"""Benchmark decontamination (operators/decontaminate.py)."""

from __future__ import annotations

from lvm_datapipe_spark.operators import decontaminate as DC
from lvm_datapipe_spark.operators.decontaminate import (
    contamination_pairs,
    decontaminate,
)

#: a cap no shingle reaches: the benchmark-frequency cap drops nothing
UNCAPPED = 10**9


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "a completely different document with its own words"),
            (3, "prefix junk the quick brown fox jumps over something else"),
        ],
        ["doc_id", "text"],
    )


def _bench(spark):
    return spark.createDataFrame(
        [(100, "eval item the quick brown fox jumps over the fence")],
        ["bench_id", "text"],
    )


def test_contamination_pairs(spark):
    got = {
        (r.doc_id, r.bench_id, r.n_common)
        for r in contamination_pairs(_corpus(spark), _bench(spark)).collect()
    }
    # docs 1 and 3 share "the quick brown fox jumps" (+ more for doc 1)
    assert {(d, b) for d, b, _ in got} == {(1, 100), (3, 100)}
    by_doc = {d: n for d, _, n in got}
    assert by_doc[1] >= 2 and by_doc[3] >= 1


def test_min_common_threshold(spark, monkeypatch):
    monkeypatch.setattr(DC, "MIN_COMMON", 3)
    got = {r.doc_id for r in contamination_pairs(_corpus(spark), _bench(spark)).collect()}
    assert got == {1}  # doc 3 shares only two 5-grams, doc 1 shares three


def test_decontaminate_drops_flagged(spark):
    kept = {
        r.doc_id
        for r in decontaminate(_corpus(spark), _bench(spark)).collect()
    }
    assert kept == {2}


def test_benchmark_side_broadcasts(spark):
    out = contamination_pairs(_corpus(spark), _bench(spark))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# -- benchmark stop-shingle cap (r8, MAX_BENCH_FREQ) -------------------------


def test_bench_cap_is_noop_on_small_benchmark(spark, monkeypatch):
    """With a 1-doc benchmark no shingle can exceed the cap, so capped ==
    uncapped bit-exactly."""
    capped = {
        (r.doc_id, r.bench_id, r.n_common)
        for r in contamination_pairs(_corpus(spark), _bench(spark)).collect()
    }
    monkeypatch.setattr(DC, "MAX_BENCH_FREQ", UNCAPPED)
    uncapped = {
        (r.doc_id, r.bench_id, r.n_common)
        for r in contamination_pairs(_corpus(spark), _bench(spark)).collect()
    }
    assert capped == uncapped


def test_bench_cap_drops_boilerplate_shingle(spark, monkeypatch):
    """A shingle present in EVERY benchmark doc (instruction boilerplate)
    stops flagging corpus docs once the cap bites; a rare benchmark shingle
    still flags."""
    boiler = "answer the following question about things"
    bench = spark.createDataFrame(
        [(100 + i, f"{boiler} item number {i} of the set") for i in range(4)]
        + [(200, "a very unique rare benchmark sentence here")],
        ["bench_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, f"some document that contains {boiler} verbatim"),
            (2, "contains a very unique rare benchmark sentence here too"),
        ],
        ["doc_id", "text"],
    )
    # cap=3: the boilerplate 5-grams appear in 4 bench docs -> dropped;
    # the rare sentence appears in 1 -> kept
    monkeypatch.setattr(DC, "MAX_BENCH_FREQ", 3)
    flagged = {r.doc_id for r in contamination_pairs(corpus, bench).collect()}
    assert flagged == {2}
    # uncapped: the boilerplate match flags doc 1 against all four items
    monkeypatch.setattr(DC, "MAX_BENCH_FREQ", UNCAPPED)
    unflagged = {(r.doc_id, r.bench_id) for r in contamination_pairs(corpus, bench).collect()}
    assert {d for d, _ in unflagged} == {1, 2}
    assert len([1 for d, _ in unflagged if d == 1]) == 4


def test_decontaminate_passthrough_cap(spark, monkeypatch):
    boiler = "answer the following question about things"
    bench = spark.createDataFrame(
        [(100 + i, f"{boiler} item number {i} of the set") for i in range(4)],
        ["bench_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(1, f"doc with {boiler} inside"), (2, "unrelated clean text entirely here")],
        ["doc_id", "text"],
    )
    # the boilerplate shingles sit in all 4 benchmark rows: over a cap of 3
    # they flag nothing, uncapped they flag doc 1
    def flagged(cap):
        monkeypatch.setattr(DC, "MAX_BENCH_FREQ", cap)
        return {r.doc_id for r in contamination_pairs(corpus, bench).collect()}

    assert flagged(3) == set()
    assert flagged(UNCAPPED) == {1}
