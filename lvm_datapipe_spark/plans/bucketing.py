"""Bucketed (co-located) joins — the repeat-join scale path.

At 100 TB the fact↔fact join (e.g. clips ⋈ per-clip scores, lineitem ⋈
orders) is dominated by its shuffle.  Writing both sides bucketed by the
join key once means every later join reads pre-partitioned buckets: the
sort-merge join plans with NO Exchange on either side.  A bucketed write
adds no shuffle either: each write task splits its rows by bucket.

The video pipeline uses this for its clip table (plans/pipeline.py): the
scenecut snapshot and every score snapshot are written bucketed by
``clip_id`` at one path each (``write_bucketed(..., path=...)``) and read
back bucketed (``read_bucketed``) without leaving a catalog table behind.

Every join here carries a ``merge`` hint.  Without it a side under
``spark.sql.autoBroadcastJoinThreshold`` is broadcast instead: a
BroadcastExchange, and under AQE one more Spark job, in place of the
co-located merge.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from lvm_datapipe_spark.catalog import read_parquet


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int = 32,
    path: str | None = None,
) -> None:
    """Persist as a table bucketed (and bucket-sorted) by ``clip_id``.
    n_buckets should match downstream parallelism; both join sides must
    agree.

    With ``path`` (absolute: a relative table location resolves against
    the warehouse directory) the files go there and ``table`` is only the
    write's handle: its catalog entry is dropped once the write is done,
    so the output is the directory alone (read it with
    :func:`read_bucketed`).  A write that sees no rows leaves no data
    file."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, "clip_id").sortBy("clip_id")
    if path is None:
        writer.saveAsTable(table)
        return
    try:
        writer.option("path", path).saveAsTable(table)
    finally:
        df.sparkSession.sql(f"DROP TABLE IF EXISTS `{table}`")


def read_bucketed(spark: SparkSession, path: str, n_buckets: int) -> DataFrame:
    """The files :func:`write_bucketed` left at ``path`` (absolute, sorted),
    read as a bucketed relation: a table is registered over ``path`` with
    the footer schema (no Spark job), resolved, and its entry dropped at
    once.  The resolved frame keeps the bucketed scan; the catalog ends as
    it began."""
    schema = read_parquet(spark, path).schema
    ddl = spark._jvm.org.apache.spark.sql.types.DataType.fromJson(schema.json()).toDDL()
    table = f"bucketed_{uuid.uuid4().hex}"
    location = path.replace("\\", "\\\\").replace("'", "\\'")
    try:
        spark.sql(
            f"CREATE TABLE `{table}` ({ddl}) USING parquet CLUSTERED BY (`clip_id`)"
            f" SORTED BY (`clip_id`) INTO {n_buckets} BUCKETS"
            f" LOCATION '{location}'"
        )
        return spark.table(f"`{table}`")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{table}`")


_EXCHANGE_NODE = re.compile(r"^[ :+|-]*(?:Broadcast)?Exchange\b", re.MULTILINE)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange nodes in the physical plan, shuffles and
    broadcasts alike (test/debug helper for asserting co-location).  A
    ReusedExchange re-reads an exchange already counted and is not
    counted again."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE_NODE.findall(plan))
