"""As-of and range joins — temporal operators Spark lacks natively
(SURVEY.md §2.5 J4 notes the frame-span containment semantics; the extension
layer exposes them as first-class operators).

``asof_join`` uses the union + window trick, NOT a join-then-rank:

    tag both sides → unionByName → per-key sort by (ts, side, tie)
    → last_value(right attrs, ignorenulls) over the ordered window
    → keep left rows

One shuffle keyed on the join key, linear in |L|+|R| — a join-then-rank
explodes to |L|×|R/key| intermediate rows, which at 100 TB is the difference
between a sort and an OOM.  Semantics: for each left row, the right row with
the greatest (ts, tie) such that right.ts <= left.ts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    right_values: list[str],
    tie_col: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: left rows keep all columns, gaining ``right_values`` from
    the nearest right row per ``user_id`` — the most recent with
    ``right.ts <= left.ts`` (``direction="backward"``, ties break by
    ``tie_col`` greatest-wins) or the earliest with ``right.ts >= left.ts``
    (``direction="forward"``, ties break least-wins).  Both directions are
    the same single keyed union+window shuffle — linear, never
    join-then-rank."""
    from pyspark.sql import types as T

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    lcols = left.columns
    tie = tie_col if tie_col is not None else right_values[0]

    # All right value columns travel in ONE struct so the window fill picks a
    # single right ROW atomically.  Filling each column independently with
    # last(ignorenulls) would backfill a column that is NULL in the newest
    # right row from an OLDER row — a torn row that diverges from
    # join-then-rank semantics.  The struct is non-null for every right row
    # even when its fields are null, so ignorenulls only skips LEFT rows.
    rv_type = T.StructType([T.StructField(v, right.schema[v].dataType) for v in right_values])

    backward = direction == "backward"
    # at equal ts the left row must SEE the right row: left sorts after
    # right for backward (<=), before right for forward (>=)
    l_side = 1 if backward else 0
    l_tagged = left.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_t"),
        F.lit(l_side).alias("_side"),
        F.lit(None).cast(right.schema[tie].dataType).alias("_tie"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
        F.lit(None).cast(rv_type).alias("_rv"),
    )
    r_tagged = right.select(
        F.col("user_id").alias("_k"),
        F.col("ts").alias("_t"),
        F.lit(1 - l_side).alias("_side"),
        F.col(tie).alias("_tie"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
        F.struct(*[F.col(v).alias(v) for v in right_values]).alias("_rv"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    order = [F.col("_t").asc(), F.col("_side").asc(), F.col("_tie").asc()]
    if backward:
        w = (
            Window.partitionBy("_k")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        fill = F.last("_rv", ignorenulls=True)
    else:
        w = (
            Window.partitionBy("_k")
            .orderBy(*order)
            .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        )
        fill = F.first("_rv", ignorenulls=True)
    filled = unioned.select("*", fill.over(w).alias("_rvf"))
    return filled.filter(F.col("_side") == l_side).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col(f"_rvf.{v}").alias(v) for v in right_values],
    )


def range_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Interval containment join: right rows whose [start_ts, end_ts] span
    contains left's ``ts``, equi-keyed on ``user_id`` (the clip→frame-span
    shape, macvid.py:21).  The equi-key keeps it a hash join with a range residual —
    without one, bucketize the range into bins and join on (key, bin)."""
    l, r = left.alias("l"), right.alias("r")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (F.col("l.ts") >= F.col("r.start_ts"))
        & (F.col("l.ts") <= F.col("r.end_ts"))
    )
    return l.join(r, cond).select(
        "l.*", *[F.col(f"r.{c}").alias(c) for c in right.columns if c != "user_id"]
    )


#: bin width of :func:`binned_range_join`, in the points' unit (seconds:
#: one day), read at call time
RANGE_BIN_WIDTH = 86400


def binned_range_join(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key, as a hash join.

    Spark turns a pure inequality join condition into
    BroadcastNestedLoopJoin (small side) or CartesianProduct (both large)
    — both die at scale.  The classic fix (bin-and-residual) is applied
    here: every interval ``[t0, t1]`` explodes to one row per
    ``RANGE_BIN_WIDTH``-sized bin it overlaps, every point ``t`` maps to
    the single bin that contains it, the join becomes an EQUI join on the
    bin id, and the exact ``t0 <= t <= t1`` residual re-filters the
    candidates.  Exact —
    an interval overlapping k bins appears in all k, and a point meets
    each qualifying interval exactly once (in the point's own bin).

    Scale shape: the explode multiplies intervals by
    ceil(span / width) — pick the width near the MEDIAN interval
    span so typical intervals land in 1-2 bins; the join is one shuffle
    keyed on a well-distributed integer.  Long-tail intervals fatten one
    side linearly (rows, not pairs); hot bins are ordinary join skew (AQE
    handles them), never a cross product.  A point meeting overlapping
    intervals gets one row per (point, interval) match, exactly like the
    naive join.

    Timestamps work through the numeric path: pass epoch-second columns
    (``F.unix_timestamp``).
    """
    from pyspark.sql import types as T

    p, iv = points.alias("p"), intervals.alias("iv")

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    bin_width = RANGE_BIN_WIDTH

    def _bin_of(col: F.Column, dtype) -> F.Column:
        # Integral inputs get exact integer FLOOR division (a//w via pmod
        # — `a DIV w` truncates toward zero, wrong for negatives): the
        # float path loses integer precision above 2^53 (epoch-nanos!)
        # and a point/endpoint pair could silently land in different
        # bins, dropping true matches from an "exact" join.
        if isinstance(dtype, int_types):
            w = F.lit(bin_width).cast("long")
            c = col.cast("long")
            return ((c - F.pmod(c, w)) / w).cast("long")
        return F.floor(col / F.lit(bin_width)).cast("long")

    pbin = _bin_of(F.col("p.t"), points.schema["t"].dataType)
    ivstart = _bin_of(F.col("iv.t0"), intervals.schema["t0"].dataType)
    ivend = _bin_of(F.col("iv.t1"), intervals.schema["t1"].dataType)
    iv_exp = iv.select(
        F.explode(F.sequence(ivstart, ivend)).alias("_bin"),
        *[F.col(f"iv.{c}").alias(f"_iv_{c}") for c in intervals.columns],
    )
    residual = (F.col("p.t") >= F.col("_iv_t0")) & (F.col("p.t") <= F.col("_iv_t1"))
    joined = p.join(iv_exp, (pbin == F.col("_bin")) & residual, "inner")
    return joined.select(
        "p.*", *[F.col(f"_iv_{c}").alias(c) for c in intervals.columns]
    )
