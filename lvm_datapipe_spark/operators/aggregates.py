"""Aggregation operators (SURVEY.md §2.4, A1-A9).

All are stock Catalyst aggregations: partial (map-side) aggregation happens
automatically, so each is one shuffle keyed on the group-by columns.

Float determinism convention: aggregate sums/averages that feed the DuckDB
oracle go through an exact DECIMAL accumulation and are cast back to DOUBLE
(`decimal_sum`), because double summation is order-dependent and Spark's
partial aggregation order differs run-to-run and engine-to-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Exact decimal accumulator wide enough for sf-scaled sums of ~1e5-magnitude
# doubles with 6 fractional digits.
_DEC = "decimal(27,6)"


def decimal_sum(col: Column | str) -> Column:
    """Order-insensitive exact sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double")


def decimal_avg(col: Column | str) -> Column:
    """Order-insensitive mean: exact decimal sum / count, divided in double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


#: Row ceiling for :func:`exact_percentiles_driver`: 8M doubles is a 64 MB
#: Arrow collect and a ~0.5 s numpy sort on the driver — comfortably
#: driver-sized; above it the distributed ``percentile`` aggregate carries
#: the query.  Read at call time.
DRIVER_PCT_MAX_ROWS = 8_000_000


def exact_percentiles_driver(
    df: DataFrame,
    col: str,
    fractions: list[float],
    row_bound: int | None = None,
) -> list[float] | None:
    """Exact linear-interpolated percentiles of a DOUBLE column computed on
    the driver — bit-identical to Spark's ``percentile()`` aggregate (and
    DuckDB's ``quantile_cont``): one numpy sort plus the same IEEE
    interpolation ``(hi − pos)·arr[lo] + (pos − lo)·arr[hi]`` at
    ``pos = p·(n−1)`` (exactly ``Percentile.getPercentile``'s float
    expression — Python floats are the same IEEE doubles, so every
    operation matches to the last ULP).

    Why: the exact ``percentile`` aggregate holds a boxed value→count
    OpenHashMap per partition and finishes with a single-task merge+sort of
    every distinct value — measured ~4.5 s on 600k rows/583k distinct at
    sf0.1 while the Arrow column collect + ``np.sort`` costs ~1 s.  Same
    size-gated driver-finish pattern as the dense triangle kernel; returns
    ``None`` above the row gate ``DRIVER_PCT_MAX_ROWS`` (or on an empty
    column — the caller's distributed aggregate handles both).

    ``row_bound`` is an upper bound on ``df``'s rows the caller already
    knows without a Spark job (a table's parquet footer row count,
    ``catalog.lineitem_row_count``).  At or under the gate the kernel
    collects the non-null column once and takes ``n`` from the array: one
    collect job, no count.  Without a bound, or above the gate, it counts
    the non-null rows first (two jobs) and collects only at or under the
    gate.  (A ``limit(max_rows + 1)`` collect is no cheaper: on a
    multi-partition input it plans a single-partition exchange of every
    row.)"""
    import numpy as np

    max_rows = DRIVER_PCT_MAX_ROWS
    values = df.where(F.col(col).isNotNull()).select(F.col(col).cast("double").alias("v"))
    if row_bound is None or row_bound > max_rows:
        n = values.count()
        if n == 0 or n > max_rows:
            return None
    arr = np.sort(values.toPandas()["v"].to_numpy())
    n = len(arr)
    if n == 0:
        return None
    out = []
    for p in fractions:
        pos = p * (n - 1)
        lo = int(pos)
        hi = lo if pos == lo else lo + 1
        if lo == hi:
            out.append(float(arr[lo]))
        else:
            out.append(float((hi - pos) * arr[lo] + (pos - lo) * arr[hi]))
    return out


def find_breakpoint(clips: DataFrame) -> DataFrame:
    """A1 — per-video completeness check: a video (``o_orderkey``) is
    "done" when the sum of its ``clip_duration`` values is within 0.5 s of
    its ``video_duration``.

    Reference: ``evaluations/scene_cut.py:175-187`` (``find_breakpoint`` —
    a hand-written dict accumulation loop).  Spark: one groupBy + HAVING.
    """
    return (
        clips.groupBy("o_orderkey")
        .agg(
            F.first("video_duration").alias("video_duration"),
            decimal_sum("clip_duration").alias("clips_duration"),
        )
        .filter(F.col("video_duration") - F.col("clips_duration") < 0.5)
    )


def corpus_stats(df: DataFrame, col: str) -> DataFrame:
    """A5 — corpus totals (``analyze/analyze_vids.py:42``:
    ``sum(durations), mean(durations)``)."""
    return df.agg(*corpus_stats_columns(col))


def corpus_stats_columns(col: str) -> list[Column]:
    """The aggregate columns of :func:`corpus_stats` (total, mean, min, max,
    n), for callers that fold them into a wider aggregate."""
    return [
        decimal_sum(col).alias("total"),
        decimal_avg(col).alias("mean"),
        F.min(col).alias("min"),
        F.max(col).alias("max"),
        F.count(F.lit(1)).alias("n"),
    ]


def histogram(df: DataFrame, col: str, bins: list[float]) -> DataFrame:
    """A6 — histogram with custom bucket edges.

    Reference: ``np.histogram(durations, bins=[0,5,10,60,300,600,1800,3600,
    inf])`` (``analyze/analyze_vids.py:43-51``).  Implemented as a CASE
    ladder (`F.when` chain) + groupBy-count so the whole thing is one
    map-side-combined aggregation; buckets are labeled by their ordinal so
    output order/naming is deterministic.  Buckets follow numpy semantics:
    left-closed, right-open, last bin unbounded.
    """
    return (
        df.withColumn("bucket", bucket_index(col, bins))
        .filter(F.col("bucket").isNotNull())
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def bucket_index(col: str, bins: list[float]) -> Column:
    """The bucket ordinal of :func:`histogram` as a CASE ladder: null when
    the value is null or below ``bins[0]``."""
    expr = None
    for i in range(len(bins)):
        lo = bins[i]
        hi = bins[i + 1] if i + 1 < len(bins) else None
        cond = F.col(col) >= lo if hi is None else (F.col(col) >= lo) & (F.col(col) < hi)
        expr = F.when(cond, i) if expr is None else expr.when(cond, i)
    return expr


def value_counts(df: DataFrame) -> DataFrame:
    """A7 — ``event_type`` value-counts (``analyze/analyze_vids.py:11-26``
    dict counter)."""
    return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def count_consistency(records: DataFrame, files: DataFrame) -> DataFrame:
    """A8 — post-stage sanity check: file count minus metadata record count
    must be within [lo, hi] (``evaluations/check/check_secne.py:12-27``).
    Returns a single row (record_count, file_count, delta, ok)."""
    r = records.agg(F.count(F.lit(1)).alias("record_count"))
    f = files.agg(F.count(F.lit(1)).alias("file_count"))
    return (
        r.crossJoin(f)
        .withColumn("delta", F.col("file_count") - F.col("record_count"))
        .withColumn("ok", (F.col("delta") >= 1) & (F.col("delta") <= 3))
    )


def agg_state(df: DataFrame) -> DataFrame:
    """Build incremental aggregate STATE: (event_type, n_rows, sum_value)
    with the sum of ``value`` kept as DECIMAL(27,6) — not double — so that
    states merge EXACTLY (see :func:`merge_agg_state`)."""
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(27,6)")).alias("sum_value"),
    )


def merge_agg_state(state: DataFrame, delta_state: DataFrame) -> DataFrame:
    """Merge a persisted aggregate state with a new batch's state — the
    incremental-view-maintenance pattern: a daily pipeline keeps
    (key, n, Σ) materialized and folds each new partition in with ONE
    |keys|-sized full-outer join instead of re-scanning the history.

    Exactness is why the state holds DECIMAL sums: each input value is
    quantized to 6 dp once, on entry; decimal addition is associative, so
    state ⊕ delta is bit-identical to a from-scratch aggregate over the
    union — a DOUBLE state would drift (float addition is
    order-sensitive), and the invariant "incremental == full recompute"
    is the whole point of the pattern.
    """
    a = state.select(
        F.col("event_type").alias("_ka_event_type"),
        F.col("n_rows").alias("_n_a"),
        F.col("sum_value").alias("_s_a"),
    )
    b = delta_state.select(
        F.col("event_type").alias("_kb_event_type"),
        F.col("n_rows").alias("_n_b"),
        F.col("sum_value").alias("_s_b"),
    )
    # NULL-SAFE key equality: groupBy treats NULL as a real group, so the
    # merge must too — a plain equi-join would leave a null-key state row
    # and a null-key delta row unmerged, breaking the "incremental == full
    # recompute" invariant exactly where dirty data lives.
    cond = F.col("_ka_event_type").eqNullSafe(F.col("_kb_event_type"))
    zero = F.lit(0).cast("decimal(27,6)")
    return (
        a.join(b, cond, "full_outer")
        .select(
            F.coalesce(F.col("_ka_event_type"), F.col("_kb_event_type")).alias("event_type"),
            (
                F.coalesce(F.col("_n_a"), F.lit(0))
                + F.coalesce(F.col("_n_b"), F.lit(0))
            ).alias("n_rows"),
            (
                F.coalesce(F.col("_s_a"), zero)
                + F.coalesce(F.col("_s_b"), zero)
            )
            .cast("decimal(27,6)")
            .alias("sum_value"),
        )
    )


def quantile_sketch(df: DataFrame) -> DataFrame:
    """Mergeable fixed-bin QUANTILE sketch — no-rescan quantile
    estimates, as :func:`cm_sketch` gives point frequencies.  The sketch
    of ``value`` for an ``event_type`` group is its per-bin count vector
    over 64 equal-width bins spanning the group's [min, max]: shard
    sketches merge by SUMMING counts (exact associativity — proven in
    tests), so incremental corpora never rescan history to maintain
    quantile estimates.

    Returns one row per (group, bin) with ``(event_type, bin, c, mn,
    width, n)`` — everything downstream (:func:`sketch_median`) derives
    from this table.  Deterministic: bin edges come from one min/max aggregate
    (exact doubles both engines), bin index is exact-IEEE arithmetic."""
    n_bins = 64
    value_col, group_col = "value", "event_type"
    rng = df.groupBy(group_col).agg(
        F.min(F.col(value_col).cast("double")).alias("mn"),
        F.max(F.col(value_col).cast("double")).alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    width = (F.col("mx") - F.col("mn")) / F.lit(float(n_bins))
    b = (
        df.join(F.broadcast(rng), group_col)
        .withColumn("width", width)
        .withColumn(
            "bin",
            F.when(F.col("width") == 0.0, F.lit(0)).otherwise(
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (F.col(value_col).cast("double") - F.col("mn"))
                        / F.col("width")
                    ).cast("int"),
                )
            ),
        )
    )
    return b.groupBy(group_col, "bin", "mn", "width", "n").agg(
        F.count(F.lit(1)).alias("c")
    )


def sketch_median(sketch: DataFrame) -> DataFrame:
    """Median estimate from a :func:`quantile_sketch` table: the first bin
    whose cumulative count reaches the lower-median rank ceil(n/2), estimated
    at the bin midpoint — error is bounded by half a bin width (asserted
    against the exact percentile in tests).  The rank is INTEGER arithmetic
    ((n+1) DIV 2) and the cumulative window runs over <= 64 rows per
    group — sketch-sized, never corpus-sized."""
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("c").over(wc))
    hit = cum.filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
    wr = Window.partitionBy("event_type").orderBy("bin")
    first = hit.withColumn("_r", F.row_number().over(wr)).filter(F.col("_r") == 1)
    est = F.col("mn") + (F.col("bin").cast("double") + F.lit(0.5)) * F.col("width")
    return first.select(
        "event_type",
        F.col("n").alias("n"),
        F.when(F.col("width") == 0.0, F.col("mn")).otherwise(est).alias("median_est"),
    )


#: count-min sketch shape: ``CM_DEPTH`` rows of ``CM_WIDTH`` counters,
#: row ``d`` hashing ``f"{CM_SALT}{d}:{value}"``
CM_DEPTH, CM_WIDTH, CM_SALT = 4, 1024, "cmj"


def cm_sketch(df: DataFrame, value_col: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan) of a value column's
    frequency distribution — the mergeable point-frequency companion to
    the fixed-bin quantile sketch.  Returns the ``CM_DEPTH x CM_WIDTH``
    counter table as rows ``(d, bucket, cnt)`` (absent cells are
    implicit zeros), built with ONE scan: each value fans out to
    ``CM_DEPTH`` md5-derived buckets (deterministic, engine-portable — same
    idiom as ``sampling.hash_bucket``) and a single keyed count
    aggregates them.

    Sketches MERGE by summing cell-wise — the no-rescan rollup
    property: materialize one sketch per day partition, answer any
    coarser window by summing sketches.  A key's estimate is the min
    over the depth rows of its addressed cells and NEVER undercounts;
    overcount is bounded by e·N/CM_WIDTH with prob 1-(1/e)^CM_DEPTH.
    Approximate by nature → TEST-verified (overestimate-only + bound +
    merge == whole-corpus sketch), like the other sketches."""
    rows = []
    for d in range(CM_DEPTH):
        h = F.md5(
            F.concat(F.lit(f"{CM_SALT}{d}:"), F.col(value_col).cast("string")).cast(
                "binary"
            )
        )
        b = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % CM_WIDTH
        rows.append(F.struct(F.lit(d).alias("d"), b.alias("bucket")))
    return (
        df.select(F.explode(F.array(*rows)).alias("cell"))
        .select("cell.d", "cell.bucket")
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


