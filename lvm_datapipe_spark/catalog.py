"""Catalog: resolve the driver's parquet test tables and register views.

Mirrors the reference's YAML-config catalog (``configs/meta_config.yaml:1-4``,
``data_schema/macvid.py:78-93`` — data_root + META list resolved to a dataset)
as a plain loader over a directory of parquet tables.  At 100 TB each table
would be a partitioned parquet/iceberg location; the API is the same.

Reads never infer a schema.  ``spark.read.parquet(path)`` without one runs a
Spark job only to read a footer; every table, snapshot and CLI read goes
through :func:`read_parquet` instead, which reads the first data file's
footer with pyarrow on the driver and hands Spark the schema it would have
inferred.  It infers only where the footer cannot say: a nanosecond or
INT96 timestamp column, no top-level data file (hive-partitioned or empty),
an unreadable footer, or a type the footer mapping does not cover.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _first_parquet_file(path: str) -> str | None:
    """The file whose footer Spark infers a schema from: ``path`` itself,
    or a directory's first top-level data file (Spark skips ``_``/``.``
    names); None when a directory holds none (hive-partitioned or empty)."""
    if not os.path.isdir(path):
        return path
    for entry in sorted(os.listdir(path)):
        if entry.endswith(".parquet") and not entry.startswith(("_", ".")):
            return os.path.join(path, entry)
    return None


def _read_footer(path: str):
    """The arrow schema of the first data file's footer, read on the driver
    with pyarrow; None when there is no such file or it is unreadable."""
    import pyarrow.parquet as pq

    first = _first_parquet_file(path)
    if first is None:
        return None
    try:
        return pq.read_schema(first)
    except (OSError, ValueError):  # not a parquet footer: Spark says why
        return None


def _nanos_timestamp_columns(footer) -> list[str]:
    """Column names stored as parquet TIMESTAMP(NANOS), which Spark's reader
    rejects outright (PARQUET_TYPE_ILLEGAL).  INT96 columns report the same
    arrow type."""
    if footer is None:
        return []
    return [f.name for f in footer if str(f.type).startswith("timestamp[ns")]


_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _maps_like_spark(t) -> bool:
    """Whether ``from_arrow_type`` gives the type Spark's parquet reader
    does for ``t``: it does not for durations (Spark: bigint), nulls
    (Spark: int), times and nanosecond timestamps (illegal types, or bigint
    under ``nanosAsLong``)."""
    import pyarrow.types as pt

    if pt.is_duration(t) or pt.is_null(t) or pt.is_time(t):
        return False
    if pt.is_timestamp(t) and t.unit == "ns":
        return False
    return all(_maps_like_spark(t.field(i).type) for i in range(t.num_fields))


def _as_nullable(t: DataType) -> DataType:
    """``t`` with every field, element and map value nullable, as Spark's
    file reader returns every schema (``StructType.asNullable``)."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def _footer_spark_schema(footer) -> StructType | None:
    """The schema Spark would infer from ``footer``, or None where only
    inference gives it: no footer, a nanosecond or INT96 timestamp (the
    ``nanosAsLong`` path), or a type the mapping does not cover.  Spark's
    own row metadata wins when the file carries it, as in Spark's reader."""
    if footer is None or _nanos_timestamp_columns(footer):
        return None
    try:
        row_meta = (footer.metadata or {}).get(_SPARK_ROW_METADATA)
        if row_meta is not None:
            schema = StructType.fromJson(json.loads(row_meta))
        elif all(_maps_like_spark(f.type) for f in footer):
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(footer, prefer_timestamp_ntz=True)
        else:
            return None
    except (ValueError, TypeError, KeyError):  # a failed mapping: infer
        return None
    return _as_nullable(schema)


def _read(spark: SparkSession, paths, footer) -> DataFrame:
    schema = _footer_spark_schema(footer)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without its schema-inference job: the
    schema comes from the footer of the file Spark would infer it from
    (the first data file of the first path in path order), read on the
    driver, so planning the read launches no Spark job.  Falls back to
    inference (one footer job) for a nanosecond or INT96 timestamp column,
    a path with no top-level data file (a hive-partitioned layout, an
    empty directory), an unreadable footer or a type the footer mapping
    does not cover."""
    return _read(spark, paths, _read_footer(min(paths, key=os.path.abspath)))


# Files below this size stay unsplit (dims like region/nation) — repartition
# overhead would exceed any parallelism win.
_MIN_SPLIT_BYTES = 128 * 1024

# path -> whether the scan needs rebalancing.  The probe reads parquet FOOTER
# metadata with pyarrow (row-group count = Spark's max scan parallelism for a
# file; row groups are the split unit) — no Spark plan materialization, no
# py4j round-trip, cacheable across sessions since it's a property of the file.
_REBALANCE_CACHE: dict[str, bool] = {}


def parquet_row_count(*paths: str) -> int:
    """The row count of the parquet data under ``paths`` (files, or
    directories walked the way Spark lists them: ``_``/``.`` names
    skipped), summed from the footers' ``num_rows`` on the driver: no
    Spark job.  Raises ``OSError`` or ``ValueError`` on a missing path or
    an unreadable footer."""
    import pyarrow.parquet as pq

    files = []
    for path in paths:
        if not os.path.isdir(path):
            files.append(path)
            continue
        for root, dirs, names in os.walk(path):
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            files += [
                os.path.join(root, n)
                for n in sorted(names)
                if n.endswith(".parquet") and not n.startswith(("_", "."))
            ]
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def lineitem_row_count(sf_dir: str) -> int | None:
    """:func:`parquet_row_count` of the lineitem table, an upper bound on
    any scan of it; None when a footer is unreadable or it is missing."""
    try:
        return parquet_row_count(table_path(sf_dir, "lineitem"))
    except (OSError, ValueError):
        return None


def _scan_parallelism_limit(path: str) -> int:
    """Upper bound on scan partitions: total row groups across the table's
    files (Spark can split parquet only at row-group boundaries)."""
    import pyarrow.parquet as pq

    files = (
        [os.path.join(path, e) for e in sorted(os.listdir(path)) if e.endswith(".parquet")]
        if os.path.isdir(path)
        else [path]
    )
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:  # noqa: BLE001 — unreadable footer: assume 1 unit
            total += 1
    return max(total, 1)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True
) -> DataFrame:
    """Load one parquet table. Scans stay lazy → Catalyst pushes filters and
    prunes columns down to the parquet reader.

    The read launches no Spark job: its schema comes from the footer
    (:func:`read_parquet`, and its fallbacks to inference), and that one
    pyarrow footer read also finds the nanosecond columns.

    Two robustness/scale fixes applied at the source:

    - TIMESTAMP(NANOS) parquet columns (written by pandas/arrow, e.g. the
      driver's ``events`` table) are rejected by Spark's reader outright;
      they are read via ``spark.sql.legacy.parquet.nanosAsLong`` and
      converted to microsecond timestamps with ``timestamp_micros`` — still
      a native columnar scan, no Python in the path.
    - **Under-partitioned scans are rebalanced.**  A single-row-group parquet
      file is unsplittable, so every downstream narrow transformation would
      run in ONE task regardless of cluster size.  When the scan yields far
      fewer partitions than the session's parallelism (and the file is big
      enough to matter), insert a round-robin repartition: one cheap shuffle
      buys full-width execution for all per-row compute (md5/shingle/vector
      math).  On a real multi-file 100 TB table the scan already has
      thousands of splits and this branch never triggers.
    """
    # timestamps must collect as UTC wall-clock to match the (naive) values
    # the DuckDB oracle sees — the driver's own session may not set this
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = table_path(sf_dir, name)
    footer = _read_footer(path)
    nanos_cols = _nanos_timestamp_columns(footer)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = _read(spark, [path], footer)
    if nanos_cols:
        # INT96-encoded files (Spark's own default writer) also report as
        # timestamp[ns] in the arrow footer, but Spark reads them as native
        # TIMESTAMP — only convert columns that actually surfaced as longs.
        dtypes = dict(df.dtypes)
        for c in nanos_cols:
            if dtypes.get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if rebalance:
        target = spark.sparkContext.defaultParallelism
        needed = _REBALANCE_CACHE.get(path)
        if needed is None:
            try:
                size = os.path.getsize(_first_parquet_file(path) or path)
            except OSError:
                size = 0
            needed = (
                size >= _MIN_SPLIT_BYTES
                and _scan_parallelism_limit(path) < max(2, target // 4)
            )
            _REBALANCE_CACHE[path] = needed
        if needed:
            df = df.repartition(target)
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in TPCH_TABLES if os.path.exists(table_path(sf_dir, n))}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so ``spark.sql`` queries and the
    DataFrame API see the same catalog."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
