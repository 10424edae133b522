"""Build-phase Spark jobs of the queries whose plans read one intermediate
more than once, and the guard that keeps one materialization mechanism.

Such an intermediate (the capped basket table, the LSH bucket and
unit-vector tables, the MinHash band table) is an
eager ``localCheckpoint``, not a ``persist()`` (ARCHITECTURE.md §3): it is
built once, inside the query build, and leaves nothing in the cache
manager.  The package calls ``persist()`` or ``cache()`` only where a
measurement keeps one (``test_package_materializes_only_by_checkpoint``).
No size gate in these builds runs a count job of its own: each reads its
count from an Observation on the checkpoint that builds its
input, from the table's parquet footers or from the rows it collects
(ARCHITECTURE.md §3); at this scale graph_kcore_parts peels on the driver
from the collected basket table.  The job
counts below are exact, like the CLI stage counts in tests/test_cli.py: a
count that moves means the build's plan moved.
"""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F

from lvm_datapipe_spark.queries import QUERIES
from lvm_datapipe_spark.queries._shared import _capped_baskets
from lvm_datapipe_spark.session import jobs_of

#: Spark jobs each query's build (``QUERIES[name](spark, sf)``) launches
#: at the fixture's sf0.001
BUILD_JOBS = {
    "graph_kcore_parts": 2,
    "graph_supplier_triangles": 2,
    "graph_triangle_counts": 5,
    "dedup_clusters": 9,
    "range_partition_boundaries": 1,
}


PACKAGE = Path(__file__).resolve().parent.parent / "lvm_datapipe_spark"
#: ``<module path>::<top-level definition>`` -> the measurement that keeps
#: a ``persist()`` there: more build+exec jobs at sf0.01 or a slower sf0.1
#: min-of-3 with the checkpoint
PERSIST_ALLOWED: dict[str, str] = {
    "lvm_datapipe_spark/operators/dedup.py::ppjoin_pairs": (
        "the candidate set: sf0.1 interleaved min-of-3, dedup_ppjoin_pairs "
        "6.24 s persisted vs 9.04 s as a localCheckpoint; focused runs "
        "3.6-4.8 s vs 7.4-17.3 s, and 7.2-8.0 s as an AQE-off checkpoint"
    ),
}


def test_package_materializes_only_by_checkpoint():
    """An intermediate read more than once is an eager checkpoint, which
    session.query_scope frees; one read once is not materialized.  No
    module of the package calls ``.persist(`` or ``.cache(`` outside
    ``PERSIST_ALLOWED``, and every allowed entry still holds a call.
    Spark-free: ``ast`` only."""
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE.parent).as_posix()
        for top in ast.parse(path.read_text(), module).body:
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("persist", "cache")
                ):
                    key = f"{module}::{getattr(top, 'name', '<module>')}"
                    found.setdefault(key, []).append(node.lineno)
    unexpected = {k: v for k, v in found.items() if k not in PERSIST_ALLOWED}
    assert not unexpected, f"persist()/cache() calls: {unexpected}"
    assert set(PERSIST_ALLOWED) <= set(found), "stale PERSIST_ALLOWED entries"


def test_build_job_counts_leave_no_cached_relation(spark, sf_dir):
    spark.catalog.clearCache()
    jobs = {}
    for name in BUILD_JOBS:
        df, jobs[name] = jobs_of(spark, lambda: QUERIES[name](spark, sf_dir))
        df.write.format("noop").mode("overwrite").save()
    assert jobs == BUILD_JOBS
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.cachedData().size() == 0


def test_dedup_representatives_rebuild_same_rows_and_jobs(spark, sf_dir):
    """dedup_representatives chains two observed gates in one build (the
    LSH plane budget, then the connected-components round-0 gate).  Built
    twice in one session it must give the same rows from the same number
    of build jobs: an observation read under a clashing name, or a stale
    one from the first build, would change either."""
    from lvm_datapipe_spark.session import query_scope

    runs = []
    for _ in range(2):
        with query_scope(spark):
            df, jobs = jobs_of(spark, lambda: QUERIES["dedup_representatives"](spark, sf_dir))
            runs.append((jobs, sorted(map(tuple, df.collect()))))
    assert runs[0] == runs[1]
    assert runs[0][0] > 0 and len(runs[0][1]) > 0


def test_basket_self_join_reads_the_checkpoint_without_exchange(spark, sf_dir):
    """The basket checkpoint keeps its hash partitioning on l_orderkey, so
    graph_degree_assortativity's basket self-join plans no exchange on
    either side even when neither side is small enough to broadcast (as at
    scale; broadcasts are switched off here to force that plan): the
    only exchange left is the pair aggregate's."""
    b = _capped_baskets(spark, sf_dir, "l_partkey")
    pairs = (
        b.join(
            b.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("p2")),
            (F.col("l_orderkey") == F.col("_o")) & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = pairs._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "SortMergeJoin" in plan, plan
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "l_partkey" in exchanges[0], plan
