"""Relational operators (SURVEY.md §2.2 filters, §2.5 joins, §2.6 windows/set
ops) re-expressed as declarative DataFrame transformations.

Every function takes/returns DataFrames and builds a lazy plan — Catalyst does
predicate pushdown, column pruning, and join-strategy selection (broadcast for
small sides, sort-merge otherwise, AQE skew handling at runtime).  The
reference versions are hand-written Python loops; citations in each docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# -- windows / top-k / set ops (§2.6) ---------------------------------------


def best_per_group(df: DataFrame) -> DataFrame:
    """Top-1-per-group — the README's ``best_ocr_only.json`` materialization
    (select best clip per video by score, ``data_schema/macvid.py:114``; no
    code ships for it in the reference), over orders: each customer's
    highest-priced order.  ``row_number`` over a window with a
    deterministic tiebreak (the order key), then ``== 1``.  Spark plans this as a single
    shuffle + partial top-k (WindowGroupLimit pushes rank<=1 below the sort).
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def union_shards(*shards: DataFrame) -> DataFrame:
    """Multi-shard concat (``data_schema/macvid.py:152-157`` META list concat;
    rank-0 partial merge ``coca_caption.py:116-119``).  ``unionByName`` is a
    zero-shuffle plan union."""
    out = shards[0]
    for s in shards[1:]:
        out = out.unionByName(s)
    return out


def finished_set_difference(all_items: DataFrame, finished: DataFrame) -> DataFrame:
    """F3 — ``set(file_list) - set(finished_list)``
    (``evaluations/scene_cut.py:238``) as a distributed EXCEPT (set
    semantics, like the reference's Python ``set`` difference)."""
    return all_items.subtract(finished)


def top_k(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Sort + limit — Spark executes this as TakeOrderedAndProject (per-
    partition top-k then merge on the driver), no full sort at scale."""
    return df.orderBy(*order_cols).limit(k)


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental-curation diff of two corpus snapshots by content
    fingerprint: which rows were added, removed, modified, or unchanged.
    The primitive behind incremental re-processing — only 'added'/'modified'
    rows re-enter the scoring/dedup pipeline on the next run.

    One full-outer equi-join on the id (single keyed shuffle at any scale —
    at 100 TB, snapshot tables bucketed on the id make even that
    Exchange-free); the status is a null/equality CASE on the fingerprints.
    """
    o = old.select(F.col("doc_id"), F.col("fingerprint").alias("_old_fp"))
    n = new.select(F.col("doc_id"), F.col("fingerprint").alias("_new_fp"))
    status = (
        F.when(F.col("_old_fp").isNull(), F.lit("added"))
        .when(F.col("_new_fp").isNull(), F.lit("removed"))
        .when(F.col("_old_fp") != F.col("_new_fp"), F.lit("modified"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        o.join(n, "doc_id", "full_outer")
        .select(F.col("doc_id"), status.alias("status"))
    )


def contiguous_ids(df: DataFrame) -> DataFrame:
    """Assign CONTIGUOUS global ids 0..n-1 in ``(lang, doc_id)`` order
    without a SinglePartition window.

    ``row_number() OVER (ORDER BY ...)`` funnels the corpus through one
    partition — the canonical scale-killer.  ``monotonically_increasing_id``
    scales but is neither contiguous nor order-stable.  The classic
    distributed recipe used here:

    1. ``repartitionByRange`` on the order columns (one RANGE shuffle —
       Spark samples split points, so partitions are balanced), then sort
       within each partition (no extra exchange), then FREEZE that layout
       with an eager ``localCheckpoint``.  The freeze is load-bearing for
       correctness, not a cache hint: the range sampler's seed varies per
       execution, so a recomputation could lay rows out differently than
       the layout the offsets were counted from — ids would silently
       duplicate/skip.  Checkpointing materializes the layout ONCE; the
       count job and the caller's output action both read the same frozen
       partitions (blocks are dropped when the DataFrame is GC'd);
    2. count rows per partition — a metadata-sized action
       (one long per partition, same class as the IVF probe-cell
       collect);
    3. broadcast-join each partition's cumulative offset and add the
       within-partition position (an Arrow-batched per-partition counter —
       order-preserving ``mapInPandas``, no window, no shuffle).

    Total: ONE range exchange regardless of corpus size.  The order must
    be total (``doc_id`` unique) for the ASSIGNMENT to be deterministic
    across reruns; within one call, the checkpoint pins the ids either way.
    """
    from pyspark.sql import types as T

    order_cols = ["lang", "doc_id"]
    spark = df.sparkSession
    n_part = max(df.sparkSession.sparkContext.defaultParallelism, 2)
    with_pid = (
        df.repartitionByRange(n_part, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = sorted(
        (r["_pid"], r["cnt"])
        for r in with_pid.groupBy("_pid").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    )
    offsets, acc = [], 0
    for pid, cnt in counts:
        offsets.append((pid, acc))
        acc += cnt
    off_df = spark.createDataFrame(
        offsets, T.StructType([
            T.StructField("_pid", T.IntegerType()),
            T.StructField("_off", T.LongType()),
        ]),
    )

    # Within-partition position WITHOUT crossing into Python:
    # monotonically_increasing_id() is documented as
    # (partition_id << 33) | row_index_within_partition, so masking the low
    # 33 bits is exactly the 0-based per-partition counter the old
    # order-preserving mapInPandas pass computed — same values, but pure
    # whole-stage codegen over the frozen checkpoint layout (guide §4.1:
    # the JVM↔Python boundary was the only cost of this step).
    local = with_pid.withColumn(
        "_local", F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    )
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn("row_id", (F.col("_off") + F.col("_local")).cast("long"))
        .drop("_pid", "_off", "_local")
    )


def pareto_skyline_2d(df: DataFrame) -> DataFrame:
    """Distributed 2-D SKYLINE (Pareto frontier, maximizing both
    ``o_totalprice`` and ``o_orderdate``):
    rows for which no other row is >= in both dimensions with a strict
    improvement in at least one.  Bucketed algorithm -- no pair product,
    no global sort:

      1. order-preserving width buckets on ``x_col`` (any row in a higher
         bucket has strictly higher x);
      2. per-bucket max(y) -> fixed-size summary; strict-higher-bucket
         max via a broadcast B x B self-join (window-free);
      3. cross-bucket prune: a row whose y <= some higher bucket's max y
         is dominated by construction;
      4. exact within-bucket pass on survivors: per-x max(y) + a
         bucket-PARTITIONED strict-higher-x running max.

    Ties: rows equal in BOTH dimensions do not dominate each other and
    are all returned.  Nulls in either column are excluded (dominance is
    undefined for them).  The only float math is the bucket formula
    ((x-lo)/(hi-lo)*B, same association on any engine mirroring it)."""
    n_buckets = 256
    x_col, y_col = "o_totalprice", "o_orderdate"
    cols = df.columns
    d = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    rng = d.agg(F.min(x_col).alias("_lo"), F.max(x_col).alias("_hi"))
    raw = F.floor(
        (F.col(x_col) - F.col("_lo"))
        / (F.col("_hi") - F.col("_lo"))
        * F.lit(float(n_buckets))
    )
    bucket = (
        F.when(
            F.col("_hi") > F.col("_lo"),
            F.least(F.lit(n_buckets - 1), raw),
        )
        .otherwise(F.lit(0))
        .cast("int")
    )
    b = d.crossJoin(F.broadcast(rng)).select(*cols, bucket.alias("_bucket"))
    bs = b.groupBy("_bucket").agg(F.max(y_col).alias("_bmax"))
    hi_side = bs.select(
        F.col("_bucket").alias("_hbucket"), F.col("_bmax").alias("_hmax")
    )
    sh = (
        bs.select("_bucket")
        .join(F.broadcast(hi_side), F.col("_hbucket") > F.col("_bucket"), "left")
        .groupBy("_bucket")
        .agg(F.max("_hmax").alias("_higher_max"))
    )
    pruned = b.join(F.broadcast(sh), "_bucket").filter(
        F.col("_higher_max").isNull() | (F.col(y_col) > F.col("_higher_max"))
    )
    pp = pruned.groupBy("_bucket", x_col).agg(F.max(y_col).alias("_pmax"))
    w = (
        Window.partitionBy("_bucket")
        .orderBy(F.desc(x_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ppw = pp.withColumn("_sh_in", F.max("_pmax").over(w))
    return (
        pruned.join(ppw, ["_bucket", x_col])
        .filter(
            (F.col(y_col) == F.col("_pmax"))
            & (F.col("_sh_in").isNull() | (F.col(y_col) > F.col("_sh_in")))
        )
        .select(*cols)
    )
