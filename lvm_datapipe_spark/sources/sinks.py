"""Production parquet sinks: partitioned writes with dynamic overwrite and
retention by partition.

The reference writes per-rank JSON shards and merges them by hand
(`utils/utils.py` merge helpers); on Spark the equivalent durability story
is partitioned parquet with two disciplines that only matter at scale:

- **Dynamic partition overwrite** — re-running a pipeline stage for one
  date/source must replace exactly the partitions it produced, not truncate
  the whole table.  Spark's default ``overwrite`` drops every partition;
  ``partitionOverwriteMode=dynamic`` scopes the delete to partitions present
  in the incoming DataFrame, which is what makes per-slice reprocessing
  idempotent.
- **Retention** — ``retention_sweep`` drops whole expired partition
  directories, never rewriting a live file.

Small-file compaction of a versioned table is ``txlog.compact`` (the
``tx-compact`` stage), which bin-packs small files as a new version.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_partitioned(df: DataFrame, path: str) -> None:
    """Parquet write partitioned by ``split`` whose overwrite is scoped to
    the partitions present in ``df`` (idempotent per-slice reprocessing)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("split")
        .parquet(path)
    )


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
    zero-padded keys.

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
