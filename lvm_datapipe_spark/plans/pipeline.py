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
take it from an Observation on the stage's own write (``observed_stage``);
``assert_counts_consistent`` re-counts as a separate job.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import read_parquet


def write_snapshot(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Canonical sink: Parquet snapshot, idempotent overwrite.  At scale,
    partition by shard/date so incremental jobs overwrite only their own
    partitions (dynamic partition overwrite)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read a snapshot with its schema taken from the footer on the driver
    (catalog.read_parquet): no schema-inference job."""
    return read_parquet(spark, path)


def run_stage(
    snapshot: DataFrame,
    scorer: Callable[[DataFrame], DataFrame],
    score_col: str,
    key: str = "clip_id",
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


def assert_counts_consistent(
    records: DataFrame, expected: int, lo: int = 0, hi: int = 0
) -> None:
    """A8 — stage-transition invariant (check_secne.py:12-27 allows a
    tolerance window between file count and record count)."""
    n = records.count()
    delta = n - expected
    if not (lo <= delta <= hi):
        raise AssertionError(
            f"count consistency violated: got {n}, expected {expected} (+[{lo},{hi}])"
        )


def run_pipeline(
    snapshot: DataFrame,
    stages: list[tuple[str, Callable[[DataFrame], DataFrame]]],
    checkpoint_dir: str | None = None,
    spark: SparkSession | None = None,
) -> DataFrame:
    """Chain stages; with ``checkpoint_dir``, materialize a Parquet snapshot
    between stages (the reference's stage-per-script materialization — here
    it's deliberate: it bounds lineage and makes every stage resumable)."""
    df = snapshot
    for i, (score_col, scorer) in enumerate(stages):
        df = run_stage(df, scorer, score_col)
        if checkpoint_dir is not None:
            path = f"{checkpoint_dir}/stage_{i}_{score_col}"
            write_snapshot(df, path)
            assert spark is not None, "spark session required with checkpoint_dir"
            df = read_snapshot(spark, path)
    return df


def observed_stage(
    df: DataFrame, name: str, *metrics
):
    """Attach OBSERVED metrics to a pipeline stage — row counts (and any
    other aggregates) collected as a side effect of the action the caller
    was going to run anyway.

    ``assert_counts_consistent`` / A8-style checks cost one extra job per
    counted stage (each ``count()`` re-runs lineage).  Spark's
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
