"""SparkSession factory tuned for the engine's workload.

The reference hand-manages parallelism (slice sharding, DistributedSampler,
joblib fan-out — SURVEY.md §2.3); here the scheduler owns it, and the session
carries the configs that matter at 100 TB scale:

- AQE on (runtime coalesce, skew-join splitting, dynamic join selection),
- Arrow on (pandas-UDF batches for the media/model kernels),
- UTC session timezone (timestamp semantics identical to the DuckDB oracle),
- shuffle partitions sized to the local core count by default; on a real
  cluster AQE coalesces the 2000-partition default down to useful sizes.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import TypeVar

from pyspark.sql import SparkSession

DEFAULT_LOCAL_CORES = os.environ.get("SPARK_GRAFT_CPUS", "*")

T = TypeVar("T")


def _cached_data(spark: SparkSession) -> list:
    """The cache manager's entries, newest first."""
    cd = spark._jsparkSession.sharedState().cacheManager().cachedData()
    return [cd.apply(i) for i in range(cd.size())]


def _persistent_rdds(spark: SparkSession) -> dict:
    """The SparkContext's persistent RDDs by id: cache buffers and the
    blocks of eager checkpoints."""
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def held_storage(spark: SparkSession) -> tuple[int, frozenset[int]]:
    """What the session holds: the number of cached relations and the ids
    of the persistent RDDs."""
    return len(_cached_data(spark)), frozenset(_persistent_rdds(spark))


@contextmanager
def query_scope(spark: SparkSession) -> Iterator[None]:
    """Free what a block caches or checkpoints when it exits.

    On entry, snapshot the cache manager's entries and the SparkContext's
    persistent RDD ids.  On exit, also when the block raises, uncache every
    new entry (newest first, so no dependent cache is re-planned), which
    frees its buffers, and unpersist every new locally checkpointed RDD:
    the blocks of eager ``localCheckpoint`` calls.  No other RDD is
    touched, so a relation cached before the scope keeps its entry and its
    buffers, even when the scope is where they were first materialized.

    Contract: a frame built inside the scope is dead once it exits (a
    checkpointed one fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``), so
    every sink of such a frame (write, collect, count) must run inside it.
    The snapshot is session-wide, so the scope assumes one query at a time
    per session: a query running alongside would lose its caches to
    whichever scope exits first.
    """
    plans_before = {cd.plan() for cd in _cached_data(spark)}
    rdds_before = set(_persistent_rdds(spark))
    try:
        yield
    finally:
        jss = spark._jsparkSession
        manager = jss.sharedState().cacheManager()
        for cd in _cached_data(spark):
            if cd.plan() not in plans_before:
                manager.uncacheQuery(jss, cd.plan(), False, False)
        for rid, rdd in _persistent_rdds(spark).items():
            if rid not in rdds_before and rdd.rdd().isLocallyCheckpointed():
                rdd.unpersist(False)


def jobs_of(spark: SparkSession, fn: Callable[[], T]) -> tuple[T, int]:
    """``fn()`` under a job group of its own: its result and the number of
    Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def get_spark(
    app_name: str = "lvm-datapipe-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with the engine defaults.

    The master is ``local[$SPARK_GRAFT_CPUS]`` (every core when unset) and
    ``spark.sql.shuffle.partitions`` is that core count, at least 8.  An
    ``extra_conf`` entry overrides the default of the same key.
    """
    try:
        n = int(DEFAULT_LOCAL_CORES)
    except ValueError:
        n = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{DEFAULT_LOCAL_CORES}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(8, n)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
