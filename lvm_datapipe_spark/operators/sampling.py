"""Deterministic sampling and dataset splitting for training-data pipelines.

``df.sample``/``sampleBy`` draw from a partition-order-dependent RNG stream:
the same call can keep different rows after a repartition, a file split
change, or an engine upgrade — unacceptable when a training run must be
reproducible and a holdout set must NEVER leak into train.  Every operator
here instead derives its decision from a content hash of a stable key
(md5 — bit-identical across Spark, DuckDB, and any engine that will ever
read the manifest), so:

- membership is a PURE FUNCTION of the key: stable under repartitioning,
  re-runs, engine changes, and incremental arrival of new data;
- train/val/test are disjoint by construction (disjoint bucket ranges of
  one hash), and adding a fourth split later never reshuffles the first
  three (bucket ranges only subdivide);
- everything is a narrow projection — no shuffle, no sort, no driver RNG
  state; at 100 TB the split is free and pushes down past the scan.

The hash bucket is the integer value of the first 8 hex chars of
``md5(salt || key)`` modulo ``n_buckets`` (default 10_000 → 0.01%
granularity).  The salt decorrelates independent sampling decisions made
from the same key (sampling for eval vs. sampling for dedup audit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: default bucket count — 0.01% split granularity
N_BUCKETS = 10_000


def hash_bucket(key: Column | str, n_buckets: int = N_BUCKETS, salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets): first 8 hex chars of
    md5(salt || key) as an integer, mod n_buckets.  Exactly replayable in
    SQL: ``('0x' || substr(md5(salt || key), 1, 8))::BIGINT % n_buckets``."""
    k = F.col(key) if isinstance(key, str) else key
    h = F.md5(F.concat(F.lit(salt), k.cast("string")).cast("binary"))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_buckets).alias(
        "bucket"
    )


def split_assign(df: DataFrame, key_col: str, weights: dict[str, float]) -> DataFrame:
    """Assign every row to a named split with the given weights (must sum to
    ≤ 1; any remainder is an implicit last split of the final name).  Splits
    are disjoint, exhaustive, and a pure function of the key — the holdout
    stays the holdout forever, on any engine.

    ``weights`` order matters (dict order = bucket-range order), mirroring
    how the SQL oracle writes its CASE arms.
    """
    bucket = hash_bucket(key_col, N_BUCKETS, "split")
    names = list(weights)
    cum = 0.0
    thresholds: list[tuple[str, int]] = []
    for name in names[:-1]:
        cum += weights[name]
        thresholds.append((name, int(round(cum * N_BUCKETS))))
    # CASE chain in ascending-threshold order: first matching upper bound wins
    expr: Column = F.lit(names[-1])
    for name, upper in reversed(thresholds):
        expr = F.when(bucket < upper, F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame) -> DataFrame:
    """Per-``lang`` deterministic sampling (language rebalancing): keep 20%
    of English, every other language whole.  The keep decision hashes the
    ``doc_id``, so each stratum's sample is itself stable."""
    bucket = hash_bucket("doc_id", N_BUCKETS, "strata")
    thresh = F.when(
        F.col("lang") == "en", F.lit(int(round(0.2 * N_BUCKETS)))
    ).otherwise(F.lit(N_BUCKETS))
    return df.filter(bucket < thresh)


def md5_order(key_col: Column | str, salt: str = "") -> list[Column]:
    """THE canonical deterministic hash-rank ordering: md5 of salt+key
    (string-cast, then binary-cast) ascending, with the key itself as the
    tie-break.  Every SQL-replayed rank selection shares this one recipe —
    its DuckDB twin is ``ORDER BY md5('<salt>' || CAST(key AS VARCHAR)),
    key`` — so the hash expression must never be re-implemented inline
    (a drifted copy, e.g. one missing the binary cast, silently breaks
    the cross-engine replay contract)."""
    key = F.col(key_col) if isinstance(key_col, str) else key_col
    h = F.md5(F.concat(F.lit(salt), key.cast("string")).cast("binary"))
    return [h.asc(), key.asc()]


#: rows :func:`sample_k_per_group` keeps per group, read at call time
SAMPLE_K = 20


def sample_k_per_group(df: DataFrame) -> DataFrame:
    """Exactly ``SAMPLE_K`` rows per ``lang`` (fewer if the group is
    smaller), chosen by ranking on a content hash of the ``doc_id`` — the
    deterministic replacement for per-group reservoir sampling (balanced
    eval subsets, per-source caps).  The hash order is uniform and
    independent of row order, so the selection is stable; the key itself
    breaks hash ties.

    Plan: one window shuffle keyed on the group; Spark plans the rank
    filter as WindowGroupLimit (per-partition top-k below the shuffle), so
    no group's full contents sort globally."""
    w = Window.partitionBy("lang").orderBy(*md5_order("doc_id", "topk"))
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= SAMPLE_K)
        .drop("_rk")
    )


def weighted_sample(df: DataFrame) -> DataFrame:
    """Deterministic importance sampling: keep a row iff the hash bucket of
    its ``doc_id`` falls below ``keep_p`` (a per-row keep probability in
    [0, 1]).  The keep decision is a pure function of (doc_id, keep_p) —
    reproducible across engines, repartitions, and re-runs, unlike
    ``df.sample`` whose outcome depends on partitioning.  This is the
    curation primitive for quality-weighted corpus resampling (upweight
    high-quality docs by giving them a larger keep probability)."""
    b = hash_bucket("doc_id", N_BUCKETS, "wsample")
    return df.filter(b < (F.col("keep_p") * N_BUCKETS))


def dsir_doc_weights(df: DataFrame, target_pred: Column) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): score
    every document by how much more likely its hashed n-gram features are
    under a TARGET corpus (``target_pred`` rows — the quality reference,
    e.g. a wiki-like source) than under the RAW corpus being selected from.
    Selecting the top-weight documents is DSIR's deterministic "selection"
    variant; the paper's Gumbel-noise resampling adds engine-dependent RNG
    for no benefit to a reproducible pipeline.

    Features are unigrams + bigrams hashed into ``n_feature_buckets`` via
    the module's md5 bucket (bit-identical on any engine).  The per-feature
    log-ratio uses INTEGER bit-length log2 — ``L(x) = length(bin(x))`` —
    the same libm-free portability device as text.bigram_lm_surprisal:

        s_b = (L(ct_b + 1) - L(Nt + B)) - (L(cr_b + 1) - L(Nr + B))

    (add-one smoothed target and raw bucket frequencies), and a document's
    weight is the sum of s_b over its feature OCCURRENCES — all exact
    integers end to end.

    Plan shape (scales to 100 TB): one tokenize+hash scan (features never
    materialize per-corpus state beyond B-bucket count tables) → two
    map-side-partial aggregates over AT MOST B rows each → the weight
    table (B rows, two scalar totals folded in) broadcasts back onto the
    feature stream — the scoring join is BROADCAST, zero shuffle — then one
    per-doc aggregate.  Compare CCNet scoring, whose bigram count tables
    are vocab-sized and must meet the stream on a keyed shuffle: hashing
    into fixed B is exactly what makes DSIR cheap at scale.

    The md5 bucket is the ORACLE-portable choice (DuckDB computes the
    identical bucket); it is measured at ~2.5x the wall time of an
    xxhash64 bucket on the scoring pipeline (tools/scale_bench.py
    section 4: 256 s vs 98 s at 1M docs).

    Returns ``(doc_id, lang, source, is_target, n_features, weight)`` for
    every document with at least one token.
    """
    n_feature_buckets = 512
    carry_cols = ("lang", "source")
    from lvm_datapipe_spark.operators.text import tokens

    toks = tokens(F.lower(F.col("text")))
    d = df.select(
        "doc_id", *carry_cols, target_pred.alias("is_target"), toks.alias("toks")
    ).filter(F.size("toks") >= 1)
    bigrams = F.zip_with(
        F.slice(F.col("toks"), F.lit(1), F.greatest(F.size("toks") - 1, F.lit(0))),
        F.slice(F.col("toks"), F.lit(2), F.greatest(F.size("toks") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = d.select(
        "doc_id",
        *carry_cols,
        "is_target",
        F.explode(F.concat(F.col("toks"), bigrams)).alias("feat"),
    ).withColumn(
        "fb",
        hash_bucket(F.col("feat"), n_feature_buckets, "dsir"),
    )
    # ONE aggregate pass produces raw and target bucket counts together
    # (conditional sum), and the totals fall out of the B-row table itself —
    # the expensive tokenize+hash feature scan runs exactly twice (counting,
    # scoring).  r11 tried to cut the second scan two ways and BOTH lost the
    # quiet A/B (negative recorded in OPTIMIZATION_r11.md): a per-doc bucket
    # profile aggregate added a keyed shuffle that cost more than the saved
    # scan (2.17 -> 2.86 s bench row), and a plain persist of the hashed
    # feature stream still lost (1.70 vs 1.37 s focused) because the
    # 2.5M-row cache write+read exceeds the recompute of a columnar scan +
    # codegen'd tokenize at this scale.  The recompute IS the optimum here;
    # at shard scale the same trade holds as long as scan+tokenize stays
    # cheaper than materializing the exploded feature stream.
    counts = feats.groupBy("fb").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.col("is_target").cast("long")).alias("ct"),
    )
    totals = counts.agg(F.sum("cr").alias("nr"), F.sum("ct").alias("nt"))
    blen = lambda c: F.length(F.bin(c))  # noqa: E731
    wt = counts.crossJoin(F.broadcast(totals)).select(
        "fb",
        (
            (blen(F.col("ct") + 1) - blen(F.col("nt") + F.lit(n_feature_buckets)))
            - (blen(F.col("cr") + 1) - blen(F.col("nr") + F.lit(n_feature_buckets)))
        ).alias("s"),
    )
    return (
        feats.join(F.broadcast(wt), "fb")
        .groupBy("doc_id", *carry_cols, "is_target")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("s").cast("bigint").alias("weight"),
        )
    )
