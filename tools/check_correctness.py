"""Local emulation of the driver's t2 correctness gate.

For every query in __spark_entry__.queries(): run the Spark DataFrame and the
DuckDB oracle SQL on the same sf dir, then compare row count, column names,
and order-insensitive values (columns sorted by name, rows sorted).

Usage: python tools/check_correctness.py [sf_dir] [query ...] [--json PATH]

``--json PATH`` additionally writes a machine-readable per-query record in
the driver's CORRECTNESS_r{N}.json shape ({name: {rows_match, schema_match,
hash_match, spark_rows, oracle_rows, err}}), so each round can commit a FULL
local sweep artifact (CORRECTNESS_LOCAL_r{N}.json) next to the driver's
50-query window — with ~385 queries and a 50-slot window, this file is the
only complete correctness record a round produces (r6 verdict item 2).

Each query runs inside session.query_scope.  The sweep ends by printing
the cached relations and persistent RDDs the session still holds (both 0
when every scope freed what its run made); the JSON records them under
``left``.
"""

from __future__ import annotations

import json
import math
import os
import sys

import duckdb
import pandas as pd


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # unify list-likes to tuples so they sort/compare
        if df[c].map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(values_equal(x, y) for x, y in zip(a, b))
    return a == b


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"rowcount spark={len(spark_df)} duck={len(duck_df)}")
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        problems.append(f"columns spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return problems
    if problems:
        return problems
    s, d = normalize(spark_df), normalize(duck_df)
    n_bad = 0
    first_bad = None
    for c in s.columns:
        for i, (x, y) in enumerate(zip(s[c].tolist(), d[c].tolist())):
            xnull, ynull = pd.isna(x) if not isinstance(x, tuple) else False, (
                pd.isna(y) if not isinstance(y, tuple) else False
            )
            if xnull and ynull:
                continue
            if xnull != ynull or not values_equal(x, y):
                n_bad += 1
                if first_bad is None:
                    first_bad = (c, i, x, y)
    if n_bad:
        c, i, x, y = first_bad
        problems.append(f"{n_bad} value mismatches; first at col={c} row={i}: spark={x!r} duck={y!r}")
    return problems


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E
    from lvm_datapipe_spark.session import get_spark, held_storage, query_scope

    args = sys.argv[1:]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    spark = get_spark("check-correctness")
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = E.queries(), E.oracle_sql()
    failed = []
    records: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"rows_match": False, "schema_match": False, "hash_match": False,
               "spark_rows": None, "oracle_rows": None, "err": None}
        records[name] = rec
        try:
            with query_scope(spark):
                sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error {type(e).__name__}: {e}")
            rec["err"] = f"spark {type(e).__name__}: {e}"
            failed.append(name)
            continue
        rec["spark_rows"] = len(sdf)
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows")
            # mirrors the driver's weaker rows-only record: the query ran
            # and produced a frame, but no oracle comparison exists
            rec.update(rows_match=True, schema_match=None, hash_match=None)
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error {type(e).__name__}: {e}")
            rec["err"] = f"duckdb {type(e).__name__}: {e}"
            failed.append(name)
            continue
        rec["oracle_rows"] = len(ddf)
        problems = compare(name, sdf, ddf)
        rec["rows_match"] = len(sdf) == len(ddf)
        rec["schema_match"] = sorted(sdf.columns) == sorted(ddf.columns)
        rec["hash_match"] = not problems
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            rec["err"] = "; ".join(problems)
            failed.append(name)
        else:
            print(f"OK   {name}: {len(sdf)} rows")
    n_cached, rdds = held_storage(spark)
    left = {"cached_relations": n_cached, "persistent_rdds": len(rdds)}
    print(f"left in the session: {left['cached_relations']} cached relations,"
          f" {left['persistent_rdds']} persistent RDDs")
    if json_path:
        with open(json_path, "w") as f:
            json.dump({"sf_dir": sf_dir, "queries": records, "left": left}, f,
                      indent=2, sort_keys=True)
        print(f"wrote {json_path} ({len(records)} queries)")
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed or n_cached or rdds else 0


if __name__ == "__main__":
    sys.exit(main())
