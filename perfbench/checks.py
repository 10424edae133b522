"""Order-insensitive result comparison, frozen here so that the benchmark's
output check cannot drift with the repository's tools.  Same rules as the
correctness gate: equal row count and column names, then columns sorted by
name, rows sorted, list-likes compared as tuples, NaN equal to NaN, and
every other value compared exactly."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def _isnull(v) -> bool:
    return False if isinstance(v, tuple) else bool(pd.isna(v))


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows, else the first problem."""
    if len(got) != len(want):
        return f"rowcount got={len(got)} want={len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns got={sorted(got.columns)} want={sorted(want.columns)}"
    g, w = normalize(got), normalize(want)
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if _isnull(x) and _isnull(y):
                continue
            if _isnull(x) != _isnull(y) or not values_equal(x, y):
                return f"value mismatch col={c} row={i}: got={x!r} want={y!r}"
    return None
