"""Benchmark decontamination: find and drop training documents that overlap
an evaluation set.

Before training, every serious pipeline checks the corpus against its eval
benchmarks: a training document sharing long verbatim n-grams with a
benchmark item inflates eval scores without improving the model.  The
standard check is exact word-n-gram overlap: flag any training doc sharing
≥ ``MIN_COMMON`` n-grams with any benchmark doc.

Plan shape: both sides reduce to DISTINCT (id, shingle) rows
(`dedup.shingle_rows` — flat codegen, no higher-order lambdas), then one
equi-join keyed on the shingle and a pair-count aggregate.  The benchmark
side is tiny relative to the corpus (thousands of eval items vs. billions
of docs), so its shingle table BROADCASTS: the contamination check costs
one corpus scan + map-side hash probes — no corpus shuffle at all.

The stop-shingle risk DOES apply here, just through the benchmark side
(r8; the r7 composed bench traced its 72 GB spill to exactly this): the
broadcast hash join's output is sum over shingles of corpus_freq x
bench_freq, so one boilerplate shingle present in thousands of benchmark
items multiplies against its corpus frequency — measured 465M joined rows
on a 250k-doc Zipfian corpus, 14x that with the cap.  ``MAX_BENCH_FREQ``
drops shingles appearing in more than N benchmark docs before the
broadcast (computed entirely on the tiny side — the corpus still never
shuffles), bounding join fan-out at ``MAX_BENCH_FREQ x |corpus shingle
rows|``.  A shingle that common in a benchmark is instruction/template
boilerplate ("answer the following question"), not contamination signal —
the same judgment call as dedup's shingle-frequency cap, made on the side
where it costs nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.dedup import shingle_rows


#: a corpus doc is flagged against a benchmark doc sharing at least
#: ``MIN_COMMON`` distinct word 5-grams; shingles in more than
#: ``MAX_BENCH_FREQ`` benchmark docs are dropped as boilerplate first
MIN_COMMON, MAX_BENCH_FREQ = 1, 100


def contamination_pairs(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """(doc_id, bench_id, n_common) for every corpus (doc_id, text) ×
    benchmark (bench_id, text) pair sharing ≥ ``MIN_COMMON`` distinct word
    5-grams.  Shingles present in more than ``MAX_BENCH_FREQ`` benchmark
    docs are dropped as benchmark boilerplate before the broadcast (see
    module docstring)."""
    c = shingle_rows(corpus, "doc_id", 5, hashed=True)
    b = shingle_rows(benchmark, "bench_id", 5, hashed=True).withColumnRenamed(
        "bench_id", "__bench_id"
    )
    # one windowed pass over the (tiny) benchmark side — cheaper than a
    # frequency aggregate + anti-join, which would recompute the benchmark
    # shingle plan twice
    wfreq = Window.partitionBy("shingle")
    b = (
        b.withColumn("_n", F.count(F.lit(1)).over(wfreq))
        .filter(F.col("_n") <= MAX_BENCH_FREQ)
        .drop("_n")
    )
    return (
        c.join(F.broadcast(b), "shingle")
        .groupBy("doc_id", "__bench_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= MIN_COMMON)
        .withColumnRenamed("__bench_id", "bench_id")
        .select("doc_id", "bench_id", "n_common")
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Drop every corpus document flagged by :func:`contamination_pairs` —
    one left-anti join against the (small) flagged-id set."""
    flagged = contamination_pairs(corpus, benchmark).select("doc_id").distinct()
    return corpus.join(flagged, "doc_id", "left_anti")


def contamination_substring(corpus: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Exact-substring contamination — the second standard decontamination
    mode next to n-gram overlap: flag (doc, bench) pairs where a verbatim
    benchmark snippet (whitespace-normalized, lower-cased prefix of 30
    chars) occurs inside the training document.

    Scale shape: the benchmark snippet table BROADCASTS and the probe is a
    per-row ``instr`` over the corpus — a broadcast nested-loop by
    construction, costing |corpus|·|bench| substring scans.  That is the
    honest cost of substring matching (no shuffle key exists); it is bounded
    by the benchmark side staying small.  For large benchmarks, fall back to
    :func:`contamination_pairs` (shingle equi-join) as the pre-filter and
    verify only its candidates here."""

    def norm(col):
        return F.trim(F.regexp_replace(F.lower(col), "[ \t\n\r\f]+", " "))

    c = corpus.select(F.col("doc_id"), norm(F.col("text")).alias("__t"))
    b = benchmark.select(
        F.col("bench_id"),
        F.substring(norm(F.col("text")), 1, 30).alias("__snip"),
    ).filter(F.length(norm(F.col("text"))) >= 30)
    return (
        c.crossJoin(F.broadcast(b))
        .filter(F.instr(F.col("__t"), F.col("__snip")) > 0)
        .select("doc_id", "bench_id")
    )
