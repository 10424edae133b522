"""Named queries (``__spark_entry__.queries()``) over the TPC-H-ish
synthetic tables, one module per query family, each with an equivalent
DuckDB oracle SQL string in ORACLE_SQL.  Importing the package registers
every family's queries in QUERIES.

Cross-engine determinism rules (every query here follows them):
- double sums/averages go through exact DECIMAL accumulation
  (aggregates.decimal_sum) so partial-aggregation order can't change bits;
- every computed column is aliased identically in Spark and SQL;
- ROW_NUMBER orderings always carry a unique tie-break column;
- integer-ish results are cast to BIGINT on both sides.
"""

from lvm_datapipe_spark.queries import (  # noqa: F401  (each import registers a family)
    ann,
    dedup,
    events,
    geo,
    graph,
    relational,
    sketches,
    stats,
    streaming,
    text,
)
from lvm_datapipe_spark.queries._shared import ORACLE_SQL, QUERIES

__all__ = ["ORACLE_SQL", "QUERIES"]
