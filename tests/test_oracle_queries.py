"""Every declared query must hash-match its DuckDB oracle (the driver's t2
gate, emulated at sf0.001 for speed)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

# whole-module slow tier (see pytest.ini): oracle replays / Hypothesis
# properties are re-proven every round by the driver gate + local sweeps
pytestmark = pytest.mark.slow

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from census import compare  # noqa: E402


def _all_query_names():
    from lvm_datapipe_spark.queries import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _all_query_names())
def test_query_matches_oracle(spark, duck, sf_dir, name):
    from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLE_SQL:
        pytest.skip(f"{name} is rows-only (no SQL oracle)")
    ddf = duck.execute(ORACLE_SQL[name]).df()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_no_array_or_map_columns_in_declared_queries(spark, sf_dir):
    """The driver's correctness canonicalizer hashes results in pandas, which
    cannot hash list/dict cells — every *declared* query must project arrays
    and maps to deterministic scalars (array_join / to_json).  Schema-only
    check: no execution needed."""
    from pyspark.sql.types import ArrayType, MapType

    from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES

    offenders = []
    for name, fn in sorted(QUERIES.items()):
        if name not in ORACLE_SQL:
            continue  # rows-only queries are not hashed by the driver
        schema = fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType)):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, offenders
