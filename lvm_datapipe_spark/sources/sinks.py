"""Production parquet sinks: partitioned writes with dynamic overwrite and
small-file compaction.

The reference writes per-rank JSON shards and merges them by hand
(`utils/utils.py` merge helpers); on Spark the equivalent durability story
is partitioned parquet with two disciplines that only matter at scale:

- **Dynamic partition overwrite** — re-running a pipeline stage for one
  date/source must replace exactly the partitions it produced, not truncate
  the whole table.  Spark's default ``overwrite`` drops every partition;
  ``partitionOverwriteMode=dynamic`` scopes the delete to partitions present
  in the incoming DataFrame, which is what makes per-slice reprocessing
  idempotent.
- **Small-file hygiene** — a 1000-executor streaming or per-slice batch
  pipeline emits thousands of sub-HDFS-block files per partition; scans then
  pay one task + one open per file.  ``compact_dir`` rewrites a directory to
  ~``target_file_mb`` files (estimated from the current on-disk size, which
  is already compressed parquet), preserving the partition columns.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
    sort_by: list[str] | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Partitioned parquet write.  ``dynamic=True`` scopes an overwrite to
    the partitions present in ``df`` (idempotent per-slice reprocessing).
    ``sort_by`` sorts within files so parquet column statistics become
    selective — range filters on the sort key then skip whole row groups at
    scan time (data-skipping without a table format).  ``max_records_per_file``
    caps file size from the writer side."""
    writer = df
    if sort_by:
        # the file writer requires rows clustered by the partition columns
        # and injects its own (order-destroying) sort if they are not; lead
        # with them so OUR sort satisfies the requirement and the sort_by
        # keys survive into the files
        writer = writer.sortWithinPartitions(*partition_by, *sort_by)
    w = writer.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", max_records_per_file)
    if mode == "overwrite" and dynamic:
        w = w.option("partitionOverwriteMode", "dynamic")
    w.partitionBy(*partition_by).parquet(path)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _count_data_files(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith(("_", ".")))
    return n


def compact_dir(
    spark: SparkSession,
    path: str,
    partition_by: list[str] | None = None,
    target_file_mb: int = 128,
) -> int:
    """Rewrite a parquet directory to ~``target_file_mb`` files (returns the
    data-file count actually written).  Reads the current on-disk size
    (already-compressed bytes — a better size estimate than uncompressed row
    bytes) and coalesces to ``ceil(size / target)``.  Partition columns are
    re-derived from the data, so partitioned layouts survive compaction.

    Swap discipline: the new data is written to a temp dir, the ORIGINAL is
    renamed aside (``path__old``), the temp renamed into place, and only
    then is the old dir deleted — a crash mid-swap can leave a stale or
    duplicate directory to clean up, but never loses the dataset (each
    rename is atomic on POSIX; the two-rename window is the only non-atomic
    gap, and both dirs still exist throughout it)."""
    import math
    import shutil

    n_files = max(
        1, math.ceil(_dir_bytes(path) / (target_file_mb * 1024 * 1024))
    )
    df = spark.read.parquet(path)
    base = path.rstrip("/")
    tmp, old = base + "__compact_tmp", base + "__old"
    out = df.coalesce(n_files)
    if partition_by:
        # repartition by the partition columns so each output dir gets
        # coherent files instead of every task writing to every partition
        out = df.repartition(n_files, *partition_by)
        out.write.mode("overwrite").partitionBy(*partition_by).parquet(tmp)
    else:
        out.write.mode("overwrite").parquet(tmp)
    written = _count_data_files(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return written


def retention_sweep(
    path: str,
    partition_col: str,
    keep_from: str,
    dry_run: bool = False,
) -> list[str]:
    """Drop partitions whose value sorts BELOW ``keep_from`` — the TTL /
    retention-policy primitive for date-partitioned stores (events tables
    age out; training snapshots keep a window).  Pure partition-directory
    arithmetic: the hive layout (``col=value``) makes expiry a directory
    delete — no scan, no rewrite of surviving data, no Spark job at all.
    Values compare as STRINGS, so this is correct for ISO dates and
    zero-padded keys (the layouts write_partitioned produces).

    Returns the dropped partition values (sorted); ``dry_run`` reports
    without deleting.  Deleting a partition is atomic per-directory from
    the reader's side (parquet readers list directories at plan time).
    """
    import os
    import shutil

    prefix = f"{partition_col}="
    dropped = []
    if not os.path.isdir(path):
        return dropped
    for name in sorted(os.listdir(path)):
        full = os.path.join(path, name)
        if not (os.path.isdir(full) and name.startswith(prefix)):
            continue
        value = name[len(prefix):]
        if value < keep_from:
            dropped.append(value)
            if not dry_run:
                shutil.rmtree(full)
    return dropped
