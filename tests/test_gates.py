"""Both sides of every size gate give the same answer.

A size gate picks between a driver-side kernel (or another small-input
fast path) and the distributed engine by input size.  Each registered
query that reaches one runs at sf0.01 twice: with the gate's constants
patched so the fast path always fires, and patched so it never does.
Each side must match the query's DuckDB oracle (``census.compare``), and
the two sides must return the same rows with the same field names and
data types."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from lvm_datapipe_spark.operators import aggregates, dedup, graph
from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import census  # noqa: E402

SF = "/root/testdata/sf0.01"
#: a gate value every input clears
ALWAYS = 1 << 40

CC = {(graph, "CC_DRIVER_FINISH_MAX_EDGES"): ALWAYS}
DENSE = {
    (graph, "DENSE_TRIANGLE_MAX_NODES"): ALWAYS,
    (graph, "DENSE_TRIANGLE_MAX_EDGES"): ALWAYS,
}
PCT = {(aggregates, "DRIVER_PCT_MAX_ROWS"): ALWAYS}

#: query -> {(module, gate constant): its value on the fast side}; the
#: fallback side sets every one of them to -1
GATED = {
    "dedup_clusters": CC,
    "dedup_clusters_lsh": CC,
    "split_leakage_safe": CC,
    "split_leakage_measure": CC,
    "dedup_transitivity_inflation": CC,
    "dedup_cluster_size_hist": CC,
    "geo_dbscan_clusters": CC,
    "dedup_representatives": CC,
    "graph_supplier_triangles": DENSE,
    "graph_reachability_3hop": DENSE,
    "graph_triangle_counts": DENSE,
    "graph_clustering_coefficient": DENSE,
    "graph_kcore_parts": {**DENSE, (graph, "KCORE_BROADCAST_DOOMED_MAX"): ALWAYS},
    "range_partition_boundaries": PCT,
    "sketch_bottomk_quantile_sample": PCT,
    # the token mask is one 64-bit word: 64 is the widest the fast side takes
    "dedup_ppjoin_pairs": {(dedup, "PPJOIN_MASK_MAX_VOCAB"): 64},
}

#: operators the fallback side's plan must hold (the supplier triangles'
#: per-edge intersection is a checkpoint its counts read the sizes of)
FALLBACK_PLAN = {
    "graph_supplier_triangles": "size(ws",
    "range_partition_boundaries": "percentile",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in census.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _run(spark, monkeypatch, name, gates, fast):
    """The query's result and schema with its gates set to one side."""
    with monkeypatch.context() as m:
        for (module, const), value in gates.items():
            m.setattr(module, const, value if fast else -1)
        df = QUERIES[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        return df.toPandas(), df.schema, plan


@pytest.mark.parametrize("name", sorted(GATED))
def test_gate_sides_agree_with_oracle_and_each_other(spark, duck, monkeypatch, name):
    oracle = duck.execute(ORACLE_SQL[name]).df()
    sides = {}
    for fast in (True, False):
        pdf, schema, plan = _run(spark, monkeypatch, name, GATED[name], fast)
        assert census.compare(name, pdf, oracle) == [], ("fast" if fast else "fallback")
        sides[fast] = (pdf, schema)
    assert FALLBACK_PLAN.get(name, "") in plan
    (fast_pdf, fast_schema), (slow_pdf, slow_schema) = sides[True], sides[False]
    assert census.compare(name, fast_pdf, slow_pdf) == []
    assert [f.name for f in fast_schema.fields] == [f.name for f in slow_schema.fields]
    assert [f.dataType for f in fast_schema.fields] == [
        f.dataType for f in slow_schema.fields
    ]
