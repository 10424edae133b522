"""Pipeline orchestration (SURVEY.md §7 step 4): the EP1→EP3 stage-runner
semantics on Parquet snapshots.

Reference execution model: each stage is a script that re-reads the metadata
table, filters to not-yet-processed rows (resume markers), runs its model,
and writes per-clip files (SURVEY.md §3).  Here a stage is::

    snapshot → split done/todo on the score column → scorer UDF on todo
             → unionByName(done, scored) → next snapshot (idempotent write)

Resume is the generic left-anti/null-partition pattern (F2) — no marker
files; the snapshot's own null columns say what remains.  Failures null the
row (F4) and remain eligible for the next run.  The A8 count-consistency
check (check_secne.py:12-27) needs each stage's row count: the CLI stages
take it from an Observation on the stage's own write (``observed_stage``).

The reference re-reads the clip metadata at each stage and writes it back
enriched; SURVEY.md §1.1 maps that to a columnar upsert.  Here the clip
bytes are written once: scenecut writes the clip table bucketed and sorted
by ``clip_id`` (``write_clip_snapshot``), and each score snapshot holds
every column but ``content``, bucketed the same way.  A ``_clips.json``
spec beside the data records the bucket count and the clip table's path;
the rows a stage still has to score get their bytes back through a
co-located merge join (``with_clip_bytes``).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import _first_parquet_file, read_parquet
from lvm_datapipe_spark.plans.bucketing import read_bucketed, write_bucketed

#: The spec beside a clip snapshot's data files: ``{"buckets": n, "clips":
#: path}``, the bucket count of the files (null when there are none to
#: bucket) and the absolute path of the clip table that holds the rows'
#: ``content``.  Spark's file listing and ``catalog._first_parquet_file``
#: skip the leading ``_``.
CLIP_SPEC = "_clips.json"


def write_snapshot(df: DataFrame, path: str) -> None:
    """Canonical sink: Parquet snapshot, idempotent overwrite."""
    df.write.mode("overwrite").parquet(path)


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read a snapshot with its schema taken from the footer on the driver
    (catalog.read_parquet): no schema-inference job."""
    return read_parquet(spark, path)


def read_clip_snapshot(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """A clip snapshot and its spec.  A bucketed snapshot is read as a
    bucketed relation (plans/bucketing.read_bucketed: no Spark job, no
    catalog table left), so a join on ``clip_id`` with its clip table
    needs no Exchange.  A snapshot with no spec (written by other code) is
    read plainly and is its own clip table."""
    path = os.path.abspath(path)
    try:
        with open(os.path.join(path, CLIP_SPEC)) as f:
            spec = json.load(f)
    except FileNotFoundError:
        spec = {"buckets": None, "clips": path}
    if spec["buckets"] is None:
        return read_snapshot(spark, path), spec
    return read_bucketed(spark, path, spec["buckets"]), spec


def write_clip_snapshot(
    df: DataFrame, path: str, buckets: int | None = None, clips: str | None = None
) -> None:
    """Write a clip snapshot bucketed and sorted by ``clip_id``, then its
    spec.  ``buckets`` defaults to the session's ``defaultParallelism``
    (one scan task per bucket); ``clips`` is the clip table's path, ``path``
    itself by default.  A write that sees no rows leaves no bucket file, so
    an empty snapshot is rewritten as one schema-only file (a second job,
    on empty input only) and stays readable."""
    spark, path = df.sparkSession, os.path.abspath(path)
    n = buckets or spark.sparkContext.defaultParallelism
    write_bucketed(df, f"clips_{uuid.uuid4().hex}", n, path=path)
    if _first_parquet_file(path) is None:
        write_snapshot(spark.createDataFrame([], df.schema), path)
        n = None
    with open(os.path.join(path, CLIP_SPEC), "w") as f:
        json.dump({"buckets": n, "clips": os.path.abspath(clips or path)}, f)


def with_clip_bytes(df: DataFrame, clips: str) -> DataFrame:
    """``df`` with each row's ``content`` from the clip table at ``clips``,
    appended last; ``df`` itself when it still carries ``content`` (it is
    its own clip table).  The left join keeps a row with no clip (its
    scorer then yields null).  Its ``merge`` hint matters: both sides share
    ``clip_id`` buckets, so the sort-merge join needs no Exchange, where
    the broadcast Spark would otherwise pick for the small side costs one
    more job per stage."""
    if "content" in df.columns:
        return df
    content = read_clip_snapshot(df.sparkSession, clips)[0].select("clip_id", "content")
    return df.join(content.hint("merge"), "clip_id", "left").select(*df.columns, "content")


def run_stage(
    snapshot: DataFrame,
    scorer: Callable[[DataFrame], DataFrame],
    score_col: str,
) -> DataFrame:
    """One enrichment stage with resume semantics.

    ``done`` rows (score already present) pass through untouched — the
    reference's done-marker anti-join (F2) expressed as a null-split, which
    is cheaper: one scan, no join, and the expensive scorer runs only on the
    todo partition of the data.
    """
    if score_col in snapshot.columns:
        done = snapshot.filter(F.col(score_col).isNotNull())
        todo = snapshot.filter(F.col(score_col).isNull()).drop(score_col)
    else:
        done = None
        todo = snapshot
    scored = scorer(todo)
    if score_col not in scored.columns:
        raise ValueError(f"scorer did not produce column {score_col!r}")
    return scored if done is None else done.unionByName(scored)


def observed_stage(
    df: DataFrame, name: str, *metrics
):
    """Attach OBSERVED metrics to a pipeline stage — row counts (and any
    other aggregates) collected as a side effect of the action the caller
    was going to run anyway.

    A8-style checks by ``count()`` cost one extra job per counted stage
    (each ``count()`` re-runs lineage).  Spark's
    ``Observation`` API instead accumulates the metrics DURING the write/
    collect — at 100 TB that is the difference between auditing N stages
    for free and re-scanning the pipeline N times.

    Returns (df_with_observation, observation); read
    ``observation.get`` AFTER the first action on the returned frame::

        staged, obs = observed_stage(df, "post_filter")
        write_snapshot(staged, path)
        n = obs.get["n_rows"]      # no extra job ran

    Extra ``metrics`` columns (aggregate expressions) ride along with the
    default ``n_rows`` count.  A write that sees no rows still reports
    (``n_rows`` 0), so ``observation.get`` does not block.  The CLI's
    scenecut, score, export-flat, query --out and tx-diff commands print
    their counts this way."""
    from pyspark.sql import Observation

    obs = Observation(name)
    cols = (F.count(F.lit(1)).alias("n_rows"), *metrics)
    return df.observe(obs, *cols), obs
