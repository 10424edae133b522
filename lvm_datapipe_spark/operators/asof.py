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
    key: str,
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    tie_col: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: left rows keep all columns, gaining ``right_values`` from
    the nearest right row per ``key`` — the most recent with
    ``right_ts <= left_ts`` (``direction="backward"``, ties break by
    ``tie_col`` greatest-wins) or the earliest with ``right_ts >= left_ts``
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
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_t"),
        F.lit(l_side).alias("_side"),
        F.lit(None).cast(right.schema[tie].dataType).alias("_tie"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
        F.lit(None).cast(rv_type).alias("_rv"),
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_t"),
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


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    point_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Interval containment join: right rows whose [start, end] span contains
    left's point, equi-keyed on ``key`` (the clip→frame-span shape,
    macvid.py:21).  The equi-key keeps it a hash join with a range residual —
    without one, bucketize the range into bins and join on (key, bin)."""
    l, r = left.alias("l"), right.alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"l.{point_col}") >= F.col(f"r.{start_col}"))
        & (F.col(f"l.{point_col}") <= F.col(f"r.{end_col}"))
    )
    return l.join(r, cond).select(
        "l.*", *[F.col(f"r.{c}").alias(c) for c in right.columns if c != key]
    )


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bin_width,
) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key, as a hash join.

    Spark turns a pure inequality join condition into
    BroadcastNestedLoopJoin (small side) or CartesianProduct (both large)
    — both die at scale.  The classic fix (bin-and-residual) is applied
    here: every interval explodes to one row per ``bin_width``-sized bin
    it overlaps, every point maps to the single bin that contains it, the
    join becomes an EQUI join on the bin id, and the exact
    ``start <= point <= end`` residual re-filters the candidates.  Exact —
    an interval overlapping k bins appears in all k, and a point meets
    each qualifying interval exactly once (in the point's own bin).

    Scale shape: the explode multiplies intervals by
    ceil(span / bin_width) — pick ``bin_width`` near the MEDIAN interval
    span so typical intervals land in 1-2 bins; the join is one shuffle
    keyed on a well-distributed integer.  Long-tail intervals fatten one
    side linearly (rows, not pairs); hot bins are ordinary join skew (AQE
    handles them), never a cross product.  A point meeting overlapping
    intervals gets one row per (point, interval) match, exactly like the
    naive join.

    Timestamps work through the numeric path: pass epoch-second columns
    (``F.unix_timestamp``) and a width in seconds.
    """
    from pyspark.sql import types as T

    p, iv = points.alias("p"), intervals.alias("iv")

    int_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

    def _bin_of(col: F.Column, dtype) -> F.Column:
        # Integral inputs get exact integer FLOOR division (a//w via pmod
        # — `a DIV w` truncates toward zero, wrong for negatives): the
        # float path loses integer precision above 2^53 (epoch-nanos!)
        # and a point/endpoint pair could silently land in different
        # bins, dropping true matches from an "exact" join.
        if isinstance(dtype, int_types) and isinstance(bin_width, int):
            w = F.lit(bin_width).cast("long")
            c = col.cast("long")
            return ((c - F.pmod(c, w)) / w).cast("long")
        return F.floor(col / F.lit(bin_width)).cast("long")

    p_t = points.schema[point_col].dataType
    s_t = intervals.schema[start_col].dataType
    e_t = intervals.schema[end_col].dataType
    pbin = _bin_of(F.col(f"p.{point_col}"), p_t)
    ivstart = _bin_of(F.col(f"iv.{start_col}"), s_t)
    ivend = _bin_of(F.col(f"iv.{end_col}"), e_t)
    iv_exp = iv.select(
        F.explode(F.sequence(ivstart, ivend)).alias("_bin"),
        *[F.col(f"iv.{c}").alias(f"_iv_{c}") for c in intervals.columns],
    )
    residual = (
        (F.col(f"p.{point_col}") >= F.col(f"_iv_{start_col}"))
        & (F.col(f"p.{point_col}") <= F.col(f"_iv_{end_col}"))
    )
    joined = p.join(iv_exp, (pbin == F.col("_bin")) & residual, "inner")
    return joined.select(
        "p.*", *[F.col(f"_iv_{c}").alias(c) for c in intervals.columns]
    )
