"""Graph operators (operators/graph.py): connected components, k-core,
PageRank, triangle counts and the dense driver kernels."""

from __future__ import annotations

import sys
from pathlib import Path
from unittest import mock

import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import graph
from lvm_datapipe_spark.operators.graph import (
    connected_components,
    dedup_keep_representatives,
)

SF0001 = "/root/testdata/sf0.001"

#: CC_DRIVER_FINISH_MAX_EDGES settings every CC check runs under: the
#: default gate (small inputs finish as one driver union-find) and -1 (the
#: pure distributed contraction loop)
CC_GATES = (200_000, -1)


def _cc(pairs, gate, **kwargs):
    """connected_components with its driver-finish gate at ``gate``."""
    with mock.patch.object(graph, "CC_DRIVER_FINISH_MAX_EDGES", gate):
        return connected_components(pairs, **kwargs)


def _kcore(edges, k, max_rounds=graph.KCORE_MAX_ROUNDS, **kwargs):
    """kcore of a ``(u, v)`` edge list at core order ``k`` with its round
    cap at ``max_rounds``."""
    with mock.patch.multiple(graph, KCORE_K=k, KCORE_MAX_ROUNDS=max_rounds):
        return graph.kcore(edges.toDF("p1", "p2"), **kwargs)


def _kcore_driver(spark, edge_rows, k, max_rounds=graph.KCORE_MAX_ROUNDS,
                  stats=None, item_type="long"):
    """The driver peel (kcore_driver_dense_from_baskets) of ``edge_rows``,
    each edge given as a two-item basket, as a ``{(node, core_degree)}``
    set."""
    rows = [(i, x) for i, edge in enumerate(edge_rows) for x in edge]
    baskets = spark.createDataFrame(rows, f"l_orderkey long, l_partkey {item_type}")
    with mock.patch.multiple(graph, KCORE_K=k, KCORE_MAX_ROUNDS=max_rounds):
        got = graph.kcore_driver_dense_from_baskets(baskets, len(rows), stats)
    return set(got)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, ["id_a", "id_b"])


def _uf_components(rows):
    """Reference union-find, pure python."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc_labels(spark, rows):
    """{gate: {id: cluster_id}} for every driver-finish gate in
    CC_GATES."""
    return {
        gate: {
            r.id: r.cluster_id
            for r in _cc(_pairs(spark, rows), gate).collect()
        }
        for gate in CC_GATES
    }


def _assert_cc_matches_union_find(spark, rows):
    expect = _uf_components(rows)
    for gate, got in _cc_labels(spark, rows).items():
        assert got == expect, gate


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_chain_and_triangle_and_disjoint(spark):
    rows = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)]
    _assert_cc_matches_union_find(spark, rows)


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_long_chain_needs_multiple_rounds(spark):
    # a 12-node path has diameter 11 — exercises the contraction loop past
    # round one and the convergence detection
    rows = [(i, i + 1) for i in range(100, 112)]
    expect = _uf_components(rows)
    for gate, got in _cc_labels(spark, rows).items():
        assert got == expect, gate
        assert set(got.values()) == {100}


def test_label_direction_independent(spark):
    # min id on the "wrong" side of every pair: labels must flow both ways
    rows = [(5, 1), (9, 5), (9, 7)]
    for gate, got in _cc_labels(spark, rows).items():
        assert got == {1: 1, 5: 1, 9: 1, 7: 1}, gate


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    for gate in CC_GATES:
        out = _cc(df, gate)
        assert out.count() == 0


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_string_ids(spark):
    rows = [("doc_b", "doc_a"), ("doc_b", "doc_c"), ("doc_x", "doc_y")]
    _assert_cc_matches_union_find(spark, rows)


@pytest.mark.parametrize("seed", [7, 19])
@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_random_graph_matches_union_find(spark, seed):
    import random

    rng = random.Random(seed)
    nodes = list(range(60))
    rows = [
        (min(a, b), max(a, b))
        for a, b in (
            (rng.choice(nodes), rng.choice(nodes)) for _ in range(80)
        )
        if a != b
    ]
    _assert_cc_matches_union_find(spark, rows)


def test_keep_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], ["vec_id", "text"]
    )
    pairs = _pairs(spark, [(0, 3), (3, 5)])  # cluster {0,3,5}; 1,2,4 singletons
    kept = {
        r.vec_id
        for r in dedup_keep_representatives(docs, pairs).collect()
    }
    assert kept == {0, 1, 2, 4}


@pytest.mark.parametrize(
    "rows",
    [
        # a forest (5 edges over 7 nodes in 2 components) plus a
        # duplicated self-loop on a member and a self-loop-only node: the
        # parent set never drops under its 5 spanning edges, so one under
        # the gate the driver finish never fires
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (3, 3), (3, 3), (20, 20)],
        # duplicate and reversed edges count toward the round-0 gate as
        # raw rows; one under it, the loop runs a round first
        [(1, 2), (2, 1), (1, 2), (2, 3), (3, 3), (5, 5), (6, 7), (7, 8), (8, 6)],
    ],
)
def test_cc_round0_gate_boundary(spark, rows):
    """``CC_DRIVER_FINISH_MAX_EDGES`` at the non-self-loop edge count E (the
    count observed on the pair-list checkpoint) finishes on the driver at
    round 0; at E - 1 the distributed loop runs.  Labels equal union-find
    both ways, self-loop-only nodes included."""
    n_edges = sum(1 for a, b in rows if a != b)
    expect = _uf_components(rows)
    nodes = {x for r in rows for x in r}
    forest = n_edges == len(nodes) - len(set(expect.values()))
    for gate in (n_edges, n_edges - 1):
        st: dict = {}
        got = {
            r.id: r.cluster_id
            for r in _cc(_pairs(spark, rows), gate, stats=st).collect()
        }
        assert got == expect, gate
        if gate == n_edges:
            assert st == {"rounds": 0, "driver_finish": True}
        else:
            assert st["rounds"] >= 1
            assert st["driver_finish"] is not forest, st


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_plan_no_cartesian(spark):
    rows = [(1, 2), (2, 3)]
    for gate in CC_GATES:
        out = _cc(_pairs(spark, rows), gate)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# pagerank (fixed-point power iteration)
# ---------------------------------------------------------------------------


def _pagerank_model(edges, n_iter=5, scale=10**12, num=17, den=20):
    """Pure-python fixed-point replay: same integer arithmetic as the op."""
    out = {}
    for s, _, w in edges:
        out[s] = out.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    n = len(nodes)
    base = ((den - num) * scale) // (den * n)
    r = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        s = {v: 0 for v in nodes}
        for u, v, w in edges:
            s[v] += (r[u] * w) // out[u]
        r = {v: base + (num * s[v]) // den for v in nodes}
    return r


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_pagerank_matches_python_model(spark):
    from lvm_datapipe_spark.operators.graph import pagerank

    edges = [("a", "b", 3), ("b", "a", 1), ("a", "c", 1), ("c", "a", 2),
             ("b", "c", 5), ("c", "b", 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    got = {
        r["node"]: r["rank_fp"]
        for r in pagerank(df).collect()
    }
    assert got == _pagerank_model(edges)


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_pagerank_mass_nearly_conserved(spark, monkeypatch):
    from lvm_datapipe_spark.operators.graph import pagerank

    # a ring has no dangling mass; total rank stays ~1 (floor losses only)
    edges = [(i, (i + 1) % 7, 1) for i in range(7)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 8)
    out = pagerank(df)
    total = sum(r["rank"] for r in out.collect())
    assert 0.999 < total <= 1.0


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_pagerank_favors_high_indegree(spark, monkeypatch):
    from lvm_datapipe_spark.operators.graph import pagerank

    # every node points at 'hub'; hub points at one spoke
    edges = [(f"s{i}", "hub", 1) for i in range(5)] + [("hub", "s0", 1)]
    df = spark.createDataFrame(edges, ["src", "dst", "w"])
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 6)
    ranks = {r["node"]: r["rank"] for r in pagerank(df).collect()}
    # mass ping-pongs between hub and its one successor (near-bipartite
    # graph, no convergence damping at 6 rounds) — but BOTH dominate the
    # plain spokes, and s0 (fed by the hub) beats its siblings
    assert min(ranks["hub"], ranks["s0"]) > 10 * ranks["s1"]
    assert ranks["s0"] > ranks["s1"]


def test_pagerank_overflow_guard(spark):
    import pytest

    from lvm_datapipe_spark.operators.graph import pagerank

    df = spark.createDataFrame([("a", "b", 2**53)], ["src", "dst", "w"])
    with pytest.raises(ValueError, match="overflows"):
        pagerank(df)


def test_pagerank_single_job_no_cartesian(spark, monkeypatch):
    from lvm_datapipe_spark.operators.graph import pagerank

    df = spark.createDataFrame([(1, 2, 1), (2, 1, 1)], ["src", "dst", "w"])
    monkeypatch.setattr(graph, "PAGERANK_ITERS", 3)
    out = pagerank(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_pagerank_empty_edges_returns_empty(spark):
    from lvm_datapipe_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string, w long")
    out = pagerank(empty)
    assert out.columns == ["node", "rank_fp", "rank"]
    assert out.count() == 0


def test_contiguous_ids_empty_input(spark):
    from lvm_datapipe_spark.operators.relational import contiguous_ids

    empty = spark.createDataFrame([], "lang string, doc_id long")
    out = contiguous_ids(empty)
    assert out.columns == ["lang", "doc_id", "row_id"]
    assert out.count() == 0


# --- triangle counting (degree orientation) --------------------------------


def _brute_triangles(edges):
    from itertools import combinations

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts = {}
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            for n in (x, y, z):
                counts[n] = counts.get(n, 0) + 1
    return counts


@pytest.mark.parametrize(
    "edges",
    [
        # K4 plus a pendant: every K4 node is in 3 triangles, pendant in 0
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],
        # two triangles sharing an edge + an isolated edge
        [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (8, 9)],
        # triangle-free (star + path)
        [(1, 2), (1, 3), (1, 4), (5, 6), (6, 7)],
    ],
)
@pytest.mark.parametrize("driver_kernel", [True, False])
def test_triangle_counts_match_brute_force(
    spark, monkeypatch, edges, driver_kernel
):
    from lvm_datapipe_spark.operators.graph import triangle_counts

    if not driver_kernel:  # a negative gate forces the distributed wedge engine
        monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_NODES", -1)
    df = _pairs(spark, edges)
    got = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(edges)


def test_triangle_counts_deterministic_under_repartition_and_orientation(spark):
    from lvm_datapipe_spark.operators.graph import triangle_counts

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 1), (2, 4)]  # K4 again
    flipped = [(b, a) for a, b in edges]  # reversed orientations
    a = {r["node"]: r["triangles"]
         for r in triangle_counts(_pairs(spark, edges)).collect()}
    b = {r["node"]: r["triangles"]
         for r in triangle_counts(_pairs(spark, flipped).repartition(7)).collect()}
    assert a == b == _brute_triangles(edges)


# -- dense driver triangle kernel (r11, graph_supplier_triangles fast path) --


@pytest.mark.parametrize(
    "edges",
    [
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)],  # K4+pendant
        [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (8, 9)],
        [(1, 2), (1, 3), (1, 4), (5, 6), (6, 7)],  # triangle-free
        [(10**9 + i, 10**9 + j) for i in range(6) for j in range(i + 1, 6)],  # K6, big ids
    ],
)
def test_dense_driver_triangles_match_brute_force(spark, edges):
    from lvm_datapipe_spark.operators.graph import triangle_counts_driver_dense

    rows = triangle_counts_driver_dense(
        _pairs(spark, edges), len(edges), "id_a", "id_b"
    )
    assert rows is not None
    assert dict(rows) == _brute_triangles(edges)


def test_dense_driver_triangles_dedupe_duplicate_rows(spark):
    # callers may pass the RAW per-order pair stream (duplicates); the
    # matrix assignment must be idempotent
    from lvm_datapipe_spark.operators.graph import triangle_counts_driver_dense

    edges = [(1, 2), (2, 3), (1, 3)]
    dup = _pairs(spark, edges + edges + edges[:1])
    assert dict(triangle_counts_driver_dense(dup, 7, "id_a", "id_b")) == {
        1: 1, 2: 1, 3: 1
    }


def test_dense_driver_triangles_gate_returns_none(spark, monkeypatch):
    from lvm_datapipe_spark.operators.graph import triangle_counts_driver_dense

    df = _pairs(spark, [(1, 2), (2, 3), (1, 3)])
    with monkeypatch.context() as m:
        m.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", 2)
        assert triangle_counts_driver_dense(df, 3, "id_a", "id_b") is None
    monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_NODES", 2)
    assert triangle_counts_driver_dense(df, 3, "id_a", "id_b") is None


def test_dense_driver_triangles_match_distributed_engine(spark, monkeypatch):
    # the two engines behind graph_supplier_triangles must agree on a
    # non-trivial random graph (seeded, ~200 edges incl. dense pockets)
    import random

    from lvm_datapipe_spark.operators.graph import (
        triangle_counts,
        triangle_counts_driver_dense,
    )

    rng = random.Random(11)
    edges = {tuple(sorted(rng.sample(range(40), 2))) for _ in range(220)}
    edges = sorted(edges)
    df = _pairs(spark, edges)
    dense = dict(triangle_counts_driver_dense(df, len(edges), "id_a", "id_b"))
    monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_NODES", -1)
    dist = {r["node"]: r["triangles"] for r in triangle_counts(df).collect()}
    assert dense == dist == _brute_triangles(edges)


def test_dense_driver_triangles_from_baskets_match_edge_kernel(spark):
    # the basket entry point (collect baskets, generate pairs in numpy)
    # must agree with the edge kernel and brute force on random baskets,
    # including singleton baskets (0 pairs) and repeated co-occurrences
    import itertools
    import random

    from lvm_datapipe_spark.operators.graph import (
        triangle_counts_driver_dense,
        triangle_counts_driver_dense_from_baskets,
    )

    rng = random.Random(23)
    rows, edge_set = [], set()
    for order in range(60):
        k = rng.choice([1, 2, 3, 4, 5])
        items = rng.sample(range(30), k)
        rows.extend((order, i) for i in items)
        edge_set |= {tuple(sorted(p)) for p in itertools.combinations(items, 2)}
    baskets = spark.createDataFrame(rows, "l_orderkey long, l_suppkey long")
    via_baskets = triangle_counts_driver_dense_from_baskets(baskets, len(rows))
    edges = sorted(edge_set)
    via_edges = triangle_counts_driver_dense(
        _pairs(spark, edges), len(edges), "id_a", "id_b"
    )
    assert dict(via_baskets) == dict(via_edges) == _brute_triangles(edges)


def test_dense_driver_triangles_from_baskets_gates(spark, monkeypatch):
    from lvm_datapipe_spark.operators.graph import (
        triangle_counts_driver_dense_from_baskets,
    )

    baskets = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (2, 10), (2, 11)], "l_orderkey long, l_suppkey long"
    )
    # pairs = 3 + 1 = 4; rows = 5: the row bound declines before the collect
    with monkeypatch.context() as m:
        m.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", 4)
        assert triangle_counts_driver_dense_from_baskets(baskets, 5) is None
    assert triangle_counts_driver_dense_from_baskets(baskets, None) is None
    with monkeypatch.context() as m:
        m.setattr(graph, "DENSE_TRIANGLE_MAX_NODES", 2)
        assert triangle_counts_driver_dense_from_baskets(baskets, 5) is None
    out = triangle_counts_driver_dense_from_baskets(baskets, 5)
    assert dict(out) == {10: 1, 11: 1, 12: 1}
    # one 4-item basket: rows = 4 clear the bound, pairs = 6 are checked on
    # the collected rows
    k4 = spark.createDataFrame(
        [(1, 10), (1, 11), (1, 12), (1, 13)], "l_orderkey long, l_suppkey long"
    )
    with monkeypatch.context() as m:
        m.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", 5)
        assert triangle_counts_driver_dense_from_baskets(k4, 4) is None
        m.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", 6)
        assert dict(triangle_counts_driver_dense_from_baskets(k4, 4)) == {
            10: 3, 11: 3, 12: 3, 13: 3
        }


def test_khop_driver_dense_matches_brute_force(spark):
    # a path-ish graph where min_hops actually varies: baskets are edges
    # {i, i+1} plus one hub basket, seeds = top-degree nodes
    from lvm_datapipe_spark.operators.graph import (
        khop_reachability_driver_dense_from_baskets,
    )

    rows = []
    for i in range(12):  # path 0-1-2-...-12 (each basket one edge)
        rows += [(i, i), (i, i + 1)]
    rows += [(100, 0), (100, 5), (100, 9)]  # hub basket {0, 5, 9}
    baskets = spark.createDataFrame(rows, "l_orderkey long, l_suppkey long")
    out = khop_reachability_driver_dense_from_baskets(baskets, len(rows))
    # brute force in python
    import itertools
    from collections import defaultdict

    adj = defaultdict(set)
    baskets_by_o = defaultdict(set)
    for o, i in rows:
        baskets_by_o[o].add(i)
    for items in baskets_by_o.values():
        for a, b in itertools.combinations(items, 2):
            adj[a].add(b)
            adj[b].add(a)
    deg = {n: len(s) for n, s in adj.items()}
    seeds = sorted(deg, key=lambda n: (-deg[n], n))[:5]
    expect = []
    for s in seeds:
        h1 = set(adj[s])
        h2 = set().union(*(adj[x] for x in h1)) if h1 else set()
        h3 = set().union(*(adj[x] for x in h2)) if h2 else set()
        minh = {}
        for h, nodes in ((1, h1), (2, h2), (3, h3)):
            for n in nodes:
                if n != s and n not in minh:
                    minh[n] = h
        from collections import Counter

        for h, c in sorted(Counter(minh.values()).items()):
            expect.append((s, h, c))
    assert sorted(out) == sorted(expect)


def test_reachability_env_gate_forces_distributed_plan(spark, monkeypatch):
    from lvm_datapipe_spark.queries import QUERIES

    fast = QUERIES["graph_reachability_3hop"](spark, SF0001)
    fast_rows = {tuple(r) for r in fast.collect()}
    monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", -1)
    slow = QUERIES["graph_reachability_3hop"](spark, SF0001)
    assert fast_rows == {tuple(r) for r in slow.collect()}
    assert [f.name for f in fast.schema.fields] == [
        f.name for f in slow.schema.fields
    ]
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in slow.schema.fields
    ]


def test_supplier_triangles_env_gate_forces_distributed_plan(spark, monkeypatch):
    # with a negative gate the declared query must run the array_intersect scale
    # engine (its per-edge intersections `ws` are a checkpoint whose sizes the
    # plan sums) and still match the oracle-shaped fast-path output
    from lvm_datapipe_spark.queries import QUERIES

    fast = QUERIES["graph_supplier_triangles"](spark, SF0001)
    fast_rows = {(r[0], r[1]) for r in fast.collect()}
    monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", -1)
    slow = QUERIES["graph_supplier_triangles"](spark, SF0001)
    plan = slow._jdf.queryExecution().executedPlan().toString()
    assert "size(ws" in plan
    assert fast_rows == {(r[0], r[1]) for r in slow.collect()}
    assert [f.name for f in fast.schema.fields] == [
        f.name for f in slow.schema.fields
    ]
    assert [f.dataType for f in fast.schema.fields] == [
        f.dataType for f in slow.schema.fields
    ]


def _write_lineitem(spark, path, orders):
    """A minimal lineitem parquet under ``path`` from (orderkey, partkey,
    suppkey) triples — the columns the graph queries read, plus the rest
    of the declared schema at constant values."""
    import datetime as dt

    rows = [
        (o, p, s, 1, 1.0, 10.0, 0.0, 0.0, "N", "O", dt.date(2024, 1, 2))
        for o, p, s in orders
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_linenumber bigint, l_quantity double, l_extendedprice double,"
        " l_discount double, l_tax double, l_returnflag string,"
        " l_linestatus string, l_shipdate date",
    ).write.parquet(str(path / "lineitem.parquet"))


@pytest.mark.parametrize("edge_gate", [None, 0])
def test_supplier_triangles_sparse_graph_emits_no_zero_rows(
    spark, monkeypatch, tmp_path, edge_gate
):
    """A triangle-free supplier path (orders {1,2} and {2,3}) has no
    triangles: both the dense driver kernel (default gate) and the
    distributed array_intersect engine (0 edge gate) must return NO rows,
    as the declared SQL does — not (s, 0) rows for edges whose endpoint
    adjacencies do not intersect."""
    from lvm_datapipe_spark.queries import QUERIES

    _write_lineitem(
        spark, tmp_path, [(1, 10, 1), (1, 11, 2), (2, 12, 2), (2, 13, 3)]
    )
    if edge_gate is not None:
        monkeypatch.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", edge_gate)
    out = QUERIES["graph_supplier_triangles"](spark, str(tmp_path))
    assert out.collect() == []


#: lineitem rows (orderkey, partkey, suppkey) with a NULL order key and a
#: NULL item: order 1 is a part and supplier K4 with a NULL part and a
#: NULL supplier row; the NULL-order rows would close extra triangles and
#: edges if NULL keys formed a basket
NULL_KEY_LINEITEM = [
    (1, 1, 1), (1, 2, 2), (1, 3, 3), (1, 4, None), (1, None, 4),
    (2, 4, 1), (2, 5, 5),
    (None, 5, 2), (None, 6, 5), (None, 7, 1), (None, 1, 3),
    (3, 5, 6),
]


@pytest.mark.parametrize(
    "name",
    ["graph_supplier_triangles", "graph_reachability_3hop", "graph_kcore_parts"],
)
def test_dense_basket_queries_drop_null_keys(spark, monkeypatch, tmp_path, name):
    """A row with a NULL basket or item joins no basket: the driver kernels
    (default gates) and the distributed engines (a negative edge gate)
    return the same rows as the DuckDB oracle over a lineitem with a NULL
    order key and a NULL item."""
    import duckdb

    from lvm_datapipe_spark.queries import ORACLE_SQL, QUERIES

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import census

    _write_lineitem(spark, tmp_path, NULL_KEY_LINEITEM)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    oracle = con.execute(ORACLE_SQL[name]).df()
    con.close()
    assert len(oracle) > 0
    sides = []
    for edge_gate in (graph.DENSE_TRIANGLE_MAX_EDGES, -1):
        with monkeypatch.context() as m:
            m.setattr(graph, "DENSE_TRIANGLE_MAX_EDGES", edge_gate)
            pdf = QUERIES[name](spark, str(tmp_path)).toPandas()
        assert census.compare(name, pdf, oracle) == [], edge_gate
        sides.append(pdf)
    assert census.compare(name, sides[0], sides[1]) == []


# -- converged k-core (VERDICT r7 item 5) ------------------------------------


def _kcore_reference(edge_rows, k):
    """Pure-python peel to the true fixpoint."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edge_rows:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < k}
        if not drop:
            break
        alive -= drop
    return {u: len(adj[u] & alive) for u in alive}


def test_kcore_matches_reference_fixpoint(spark):
    # two triangles sharing a bridge node + a pendant path that must peel
    # away layer by layer (exercises multi-round convergence)
    rows = [
        (1, 2), (2, 3), (1, 3),
        (3, 4), (4, 5), (5, 6), (4, 6),
        (6, 7), (7, 8), (8, 9),
    ]
    e = spark.createDataFrame(rows, ["u", "v"])
    stats: dict = {}
    got = {
        (r.node, r.core_degree)
        for r in _kcore(e, 2, stats=stats).collect()
    }
    assert got == set(_kcore_reference(rows, 2).items())
    assert stats["rounds"] <= 30 and stats["checks"] >= 1
    st: dict = {}
    assert _kcore_driver(spark, rows, 2, stats=st) == got
    assert st == stats


def test_kcore_empty_core(spark):
    from lvm_datapipe_spark.operators.graph import kcore

    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["u", "v"])
    assert kcore(e.toDF("p1", "p2")).count() == 0


def test_kcore_agrees_with_declared_query(spark):
    """The library fixpoint and the declared query (which delegates to it
    since the r9 converged-spec promotion) must agree on the declared
    corpus — this pins the query's edge-build (cap_baskets + distinct
    pair join) to the library peel."""
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators.graph import cap_baskets, kcore
    from lvm_datapipe_spark.queries import QUERIES
    from lvm_datapipe_spark.queries._shared import MAX_BASKET_SIZE

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    b = cap_baskets(li.distinct(), "l_orderkey", MAX_BASKET_SIZE)
    x = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    y = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    e = (
        x.join(y, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    lib = {
        (r.node, r.core_degree)
        for r in kcore(e).collect()
    }
    declared_rows = QUERIES["graph_kcore_parts"](spark, sf).collect()
    declared = {(r.p_partkey, r.core_degree) for r in declared_rows}
    assert lib == declared and len(lib) > 0
    # r9 verdict item 4: convergence is an output column; the declared
    # corpus reaches the fixpoint well inside max_rounds, so every row
    # must read True (the oracle emits a constant TRUE — a max_rounds
    # exhaustion would diff visibly instead of hash-mismatching mutely)
    assert all(r.converged is True for r in declared_rows)


def test_kcore_query_surfaces_nonconvergence_as_false_column(spark, tmp_path):
    """The declared query must plumb stats['converged'] through to the
    output column: cap the peel at 1 round on a corpus that needs more
    (a pendant chain cascading into a clique) and every surviving row
    reads converged=False."""
    from lvm_datapipe_spark.queries import QUERIES

    orders, ok = [], 100
    clique = [1, 2, 3, 4]
    for i, p1 in enumerate(clique):
        for p2 in clique[i + 1:]:
            orders += [(ok, p1, 1), (ok, p2, 1)]
            ok += 1
    for a, b2 in ((4, 5), (5, 6), (6, 7), (7, 8)):
        orders += [(ok, a, 1), (ok, b2, 1)]
        ok += 1
    _write_lineitem(spark, tmp_path, orders)

    sides = []
    # the default gates run the driver peel; a negative edge gate, kcore()
    for edge_gate in (graph.DENSE_TRIANGLE_MAX_EDGES, -1):
        with mock.patch.multiple(
            graph, KCORE_MAX_ROUNDS=1, DENSE_TRIANGLE_MAX_EDGES=edge_gate
        ):
            with pytest.warns(UserWarning, match="max_rounds"):
                got = QUERIES["graph_kcore_parts"](spark, str(tmp_path)).collect()
        assert len(got) > 0
        assert all(r.converged is False for r in got)
        sides.append(sorted(map(tuple, got)))
    assert sides[0] == sides[1]


# -- large-star/small-star contraction: shapes and gate paths --------------


def test_twophase_chain(spark):
    rows = [(i, i + 1) for i in range(40)]
    got = {
        r.id: r.cluster_id
        for r in connected_components(_pairs(spark, rows)).collect()
    }
    assert got == _uf_components(rows)


def test_twophase_hub_star(spark):
    # one hub connected to 50 leaves — the shape that would funnel a
    # per-node propagation through a single hot reducer key
    _assert_cc_matches_union_find(spark, [(100, i) for i in range(50)])


def test_twophase_clique_plus_chain_plus_singleton_edge(spark):
    rows = (
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(10, 11), (11, 12), (12, 13)]
        + [(20, 21)]
    )
    _assert_cc_matches_union_find(spark, rows)


def test_twophase_random_graphs_match_union_find(spark):
    import random

    # three random 60-node graphs on disjoint id ranges, labeled in one run
    rng = random.Random(20260816)
    rows = []
    for trial in range(3):
        n, off = 60, 1000 * trial
        rows += [
            (off + a, off + b)
            for a, b in (
                (rng.randrange(n), rng.randrange(n)) for _ in range(70)
            )
            if a != b
        ]
    _assert_cc_matches_union_find(spark, rows)


def test_twophase_converges_in_log_rounds_on_chain(spark):
    stats: dict = {}
    out = _cc(_pairs(spark, [(i, i + 1) for i in range(100)]), -1, stats=stats)
    assert {(r.id, r.cluster_id) for r in out.collect()} == {
        (i, 0) for i in range(101)
    }
    # 100-hop chain: a per-hop propagation needs ~100 rounds; the
    # distributed contraction must close it in O(log^2) — single digits
    # in practice
    assert stats["rounds"] <= 12


def test_twophase_agrees_with_declared_dedup_clusters(spark):
    """The engine labels the declared LSH near-dup pair list exactly as
    the (oracle-checked) dedup_clusters query does."""
    from lvm_datapipe_spark.catalog import load_table
    from lvm_datapipe_spark.operators import similarity as V
    from lvm_datapipe_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12, n_planes=None)
    tp = {
        (r.id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    declared = {
        (r.id, r.cluster_id)
        for r in QUERIES["dedup_clusters"](spark, sf).collect()
    }
    assert tp == declared and len(tp) > 0


def test_twophase_self_loop_only_node_is_singleton(spark):
    """A node whose ONLY pairs are self-loops must surface as its own
    singleton cluster."""
    rows = [(9, 9), (2, 3), (3, 3)]  # 9 is self-loop-only; 3 also self-loops
    for gate, got in _cc_labels(spark, rows).items():
        assert got == {9: 9, 2: 2, 3: 2}, gate


def test_twophase_driver_finish_matches_distributed_fixpoint(spark):
    """The size-gated driver union-find finish must label identically to
    the pure distributed contraction loop (gate disabled), on shapes that
    exercise multi-round contraction, and the stats flag must record
    which path ran."""
    rows = (
        [(i, i + 1) for i in range(50)]                      # chain
        + [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
        + [(300, 300), (7, 7)]                               # self-loops
    )
    pairs = _pairs(spark, rows)
    s_gated: dict = {}
    s_pure: dict = {}
    gated = {
        (r.id, r.cluster_id)
        for r in connected_components(pairs, stats=s_gated).collect()
    }
    pure = {
        (r.id, r.cluster_id)
        for r in _cc(pairs, -1, stats=s_pure).collect()
    }
    assert gated == pure == set(_uf_components(rows).items())
    assert s_gated["driver_finish"] is True
    assert s_pure["driver_finish"] is False
    # the gate fires after fewer distributed rounds than the fixpoint
    assert s_gated["rounds"] < s_pure["rounds"]


def test_twophase_assume_symmetric_equivalence(spark):
    """A pair list that already carries both orientations must label
    through assume_symmetric=True (which skips the symmetrize union +
    distinct of the distributed loop) exactly as union-find does, for
    numeric and string ids."""
    for rows in (
        [(1, 2), (2, 3), (3, 3), (10, 11)],
        [("b", "a"), ("b", "c"), ("x", "y"), ("z", "z")],
    ):
        sym = _pairs(spark, rows + [(b, a) for a, b in rows])
        got = {
            (r.id, r.cluster_id)
            for r in _cc(sym, -1, assume_symmetric=True).collect()
        }
        assert got == set(_uf_components(rows).items()), rows[0]


def test_twophase_driver_finish_string_ids(spark):
    """The driver finish derives its output schema from the input edge
    type — string node ids must survive both the union-find and the
    createDataFrame round-trip."""
    rows = [("b", "a"), ("b", "c"), ("x", "y"), ("z", "z")]
    stats: dict = {}
    got = {
        (r.id, r.cluster_id)
        for r in connected_components(
            _pairs(spark, rows), stats=stats
        ).collect()
    }
    assert stats["driver_finish"] is True
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"), ("z", "z"),
    }


# -- converged k-core: non-convergence handling (r9, ADVICE item 2) ----------


def _kcore_peel_rounds(edge_rows, k, n_rounds):
    """Pure-python peel for EXACTLY n_rounds, degrees within the final
    alive set (nodes with zero surviving neighbors drop out of the
    degree table, mirroring the keyed aggregate)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edge_rows:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(adj)
    for _ in range(n_rounds):
        alive = {u for u in alive if len(adj[u] & alive) >= k}
    return {
        u: len(adj[u] & alive) for u in alive if len(adj[u] & alive) >= 1
    }


def test_kcore_max_rounds_exhaustion_warns_and_recomputes_degrees(spark):
    """When max_rounds trips before the fixpoint the exit must not be
    silent (stats['converged'] False + UserWarning) and core_degree must
    be recomputed against the FINAL alive set — the pre-fix code returned
    degrees against the penultimate set, counting since-dropped
    neighbors."""
    import pytest

    # a 30-node path with k=2 peels one layer (both ends) per round and
    # needs ~15 rounds to die entirely; cap at 3
    rows = [(i, i + 1) for i in range(29)]
    e = spark.createDataFrame(rows, ["u", "v"])
    stats: dict = {}
    with pytest.warns(UserWarning, match="max_rounds"):
        got = {
            (r.node, r.core_degree)
            for r in _kcore(e, 2, 3, stats=stats).collect()
        }
    assert stats["converged"] is False
    assert got == set(_kcore_peel_rounds(rows, 2, 3).items())
    # sanity: the true core is empty, so the truncated result over-keeps
    assert len(got) > 0
    st: dict = {}
    with pytest.warns(UserWarning, match="max_rounds"):
        assert _kcore_driver(spark, rows, 2, 3, st) == got
    assert st == stats


def test_kcore_converged_flag_true_on_fixpoint(spark):
    rows = [(1, 2), (2, 3), (1, 3), (3, 4)]
    e = spark.createDataFrame(rows, ["u", "v"])
    stats: dict = {}
    got = {
        (r.node, r.core_degree)
        for r in _kcore(e, 2, stats=stats).collect()
    }
    assert stats["converged"] is True
    assert got == {(1, 2), (2, 2), (3, 2)}
    st: dict = {}
    assert _kcore_driver(spark, rows, 2, stats=st) == got
    assert st == stats


def test_kcore_empty_edge_list(spark):
    e = spark.createDataFrame([], "u long, v long")
    stats: dict = {}
    out = _kcore(e, 2, stats=stats)
    assert out.count() == 0
    assert out.columns == ["node", "core_degree"]
    assert stats["converged"] is True and stats["rounds"] == 0
    st: dict = {}
    assert _kcore_driver(spark, [], 2, stats=st) == set()
    assert st == stats


def test_kcore_frontier_gate_cases(spark):
    """The doomed-frontier count is observed on each state checkpoint.
    Three cases: a frontier empty at round 0 (no peel round), a peel of
    two or more rounds, and a max_rounds exhaustion whose last state is
    empty, which is the fixpoint and must read converged with no
    warning."""
    import warnings

    def run(rows, k, max_rounds=30):
        st: dict = {}
        e = spark.createDataFrame(rows, ["u", "v"])
        driver_st: dict = {}
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always", UserWarning)
            got = {
                (r.node, r.core_degree)
                for r in _kcore(e, k, max_rounds, stats=st).collect()
            }
            assert _kcore_driver(spark, rows, k, max_rounds, driver_st) == got
        assert not [w for w in caught if "max_rounds" in str(w.message)]
        assert driver_st == st
        return got, st

    triangle = [(1, 2), (2, 3), (1, 3)]
    got, st = run(triangle, 2)
    assert got == {(1, 2), (2, 2), (3, 2)}
    assert st == {"rounds": 0, "checks": 1, "converged": True}

    # a triangle with a 3-edge pendant chain: the chain peels from its
    # free end, one node per round
    rows = triangle + [(3, 4), (4, 5), (5, 6)]
    got, st = run(rows, 2)
    assert got == set(_kcore_reference(rows, 2).items())
    assert st["rounds"] >= 2 and st["converged"] is True
    assert st["checks"] == st["rounds"] + 1

    # a 4-node path at k=2 empties in exactly 2 rounds: ends, then the rest
    path = [(1, 2), (2, 3), (3, 4)]
    got, st = run(path, 2, max_rounds=2)
    assert got == set()
    assert st == {"rounds": 2, "checks": 2, "converged": True}


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_kcore_matches_reference_on_random_graphs(spark):
    """Converged (node, core_degree) sets on random graphs equal the
    pure-python peel, and the converged flag reads True."""
    import random

    rng = random.Random(20261016)
    for trial, (n, m, k) in enumerate([(60, 120, 2), (80, 240, 3), (50, 90, 4)]):
        rows = list({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
        rows = [(a, b) for a, b in rows if a != b]
        e = spark.createDataFrame(rows, ["u", "v"])
        st: dict = {}
        got = {
            (r.node, r.core_degree) for r in _kcore(e, k, stats=st).collect()
        }
        assert got == set(_kcore_reference(rows, k).items()), (trial, n, m, k)
        assert st["converged"] is True
        driver_st: dict = {}
        assert _kcore_driver(spark, rows, k, stats=driver_st) == got
        assert driver_st == st


def test_kcore_engines_agree_on_exhausted_peel(spark):
    """Non-converged exits match the exactly-n-rounds peel model,
    including the contract corner where a node's LAST alive neighbor dies
    in the closing round: its maintained degree is 0 and it must not be
    returned (core_degree >= 1).  A star at k=2 exhausted after 1 round
    hits exactly that: the leaves die, the center survives with
    alive-degree 0 and is dropped."""

    star = [(0, i) for i in range(1, 5)]
    path = [(i, i + 1) for i in range(29)]
    for rows, k, cap in ((star, 2, 1), (path, 2, 3)):
        e = spark.createDataFrame(rows, ["u", "v"])
        st: dict = {}
        driver_st: dict = {}
        with pytest.warns(UserWarning, match="max_rounds"):
            got = {
                (r.node, r.core_degree)
                for r in _kcore(e, k, cap, stats=st).collect()
            }
        with pytest.warns(UserWarning, match="max_rounds"):
            assert _kcore_driver(spark, rows, k, cap, driver_st) == got
        assert driver_st == st
        assert st["converged"] is False, (rows[:2], k, cap)
        assert got == set(_kcore_peel_rounds(rows, k, cap).items())
        assert all(d >= 1 for _, d in got)
        if rows is star:
            assert got == set()


def test_fresh_local_checkpoint_bounds_catalyst_stats(spark):
    """Regression for the r10 latent driver bug: a loop that joins TWO
    references of the previous round's checkpoint doubles the carried
    Catalyst sizeInBytes estimate's DIGIT COUNT per round (measured
    9 -> 19 -> 41 -> 83 ... under plain localCheckpoint), stalling the
    driver in BigInteger multiplication around round ~20 and dying with
    'BigInteger would overflow supported range' on long peels.
    fresh_local_checkpoint rebuilds the frame from the checkpointed RDD
    WITHOUT originStats, pinning the estimate at defaultSizeInBytes."""
    from lvm_datapipe_spark.operators.graph import fresh_local_checkpoint

    def digits(df):
        s = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return len(str(s))

    e = spark.createDataFrame([(i, i + 1) for i in range(29)], ["u", "v"])
    sym = (
        e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .persist()
    )
    rows_before = None
    a = fresh_local_checkpoint(sym.select(F.col("u").alias("p")).distinct())
    for _ in range(4):
        au = a.select(F.col("p").alias("_au"))
        av = a.select(F.col("p").alias("_av"))
        deg = (
            sym.join(au, F.col("_au") == F.col("u"))
            .join(av, F.col("_av") == F.col("v"))
            .groupBy(F.col("u").alias("p"))
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        a = fresh_local_checkpoint(deg.filter(F.col("deg") >= 2).select("p"))
        # plain localCheckpoint reads 41 digits by the 2nd round and 169
        # by the 4th; the fresh rebuild must stay at defaultSizeInBytes
        # scale (19-20 digits) every round
        assert digits(a) <= 25
        n = a.count()
        assert rows_before is None or n <= rows_before
        rows_before = n
    sym.unpersist()
    # and the data itself survives the rebuild: schema + row identity
    assert a.columns == ["p"]


def test_kcore_string_node_ids_both_engines(spark):
    """kcore is type-generic in the node id (the ADVICE r9 empty-frame fix
    derives the type from the edges): non-long ids must work end to end,
    for a non-empty core and for the typed empty result."""
    from lvm_datapipe_spark.operators.graph import kcore

    rows = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    e = spark.createDataFrame(rows, "u string, v string")
    got = {(r.node, r.core_degree) for r in _kcore(e, 2).collect()}
    assert got == set(_kcore_reference(rows, 2).items()) == {
        ("a", 2), ("b", 2), ("c", 2)
    }
    assert _kcore_driver(spark, rows, 2, item_type="string") == got
    empty = spark.createDataFrame([], "u string, v long")
    out = _kcore(empty.select("u", F.col("v").cast("string")), 2)
    assert out.count() == 0
    assert dict(out.dtypes)["node"] == "string"


def test_fresh_local_checkpoint_roundtrips_mixed_schema(spark):
    """The rebuilt frame must be data-identical to the checkpointed one
    for the schema shapes the engine actually uses (longs, strings,
    doubles, arrays, nulls) — internalCreateDataFrame wraps the SAME
    checkpointed InternalRow RDD, so this pins the plumbing, not Spark."""
    from lvm_datapipe_spark.operators.graph import fresh_local_checkpoint

    df = spark.createDataFrame(
        [
            (1, "a", 1.5, [1, 2], None),
            (2, None, float("nan"), [], "x"),
            (3, "c", -0.0, None, "y"),
        ],
        "id long, s string, d double, arr array<int>, t string",
    )
    got = fresh_local_checkpoint(df)
    assert got.schema == df.schema
    a = sorted(map(repr, df.collect()))
    b = sorted(map(repr, got.collect()))
    assert a == b
    # and it is reusable downstream like any frame: joins + aggregates
    assert got.join(got.select(F.col("id").alias("id2")),
                    F.col("id") == F.col("id2")).count() == 3


def test_kcore_engines_agree_with_self_loops_and_duplicates(spark):
    """Degenerate edge lists (self-loops, duplicate and reversed pairs):
    the symmetric-distinct edge build canonicalizes them, and a self-loop
    contributes exactly one degree — matching the python reference, whose
    adjacency set also holds u in adj[u]."""

    rows = [
        (1, 2), (2, 1), (1, 2),          # duplicate + reversed
        (2, 3), (1, 3),
        (3, 3),                          # self-loop on a core member
        (9, 9),                          # isolated self-loop node
    ]
    e = spark.createDataFrame(rows, ["u", "v"])
    st: dict = {}
    got = {(r.node, r.core_degree) for r in _kcore(e, 2, stats=st).collect()}
    assert got == set(_kcore_reference(rows, 2).items())
    assert st["converged"] is True


def test_kcore_reversed_edge_with_null_endpoint_is_harmless(spark):
    """An edge with a NULL endpoint is no edge (a NULL id is no node, as in
    a SQL join), reversed duplicates included: the peel converges with no
    warning and returns the triangle's 2-core."""
    import warnings

    tri = [(1, 2), (2, 3), (1, 3)]
    schema = "u long, v long"
    for rows in (tri + [(None, 1)], tri + [(None, 1), (1, None), (1, None)]):
        e = spark.createDataFrame(rows, schema)
        stats = {}
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            out = _kcore(e, 2, stats=stats)
            got = {(r.node, r.core_degree) for r in out.collect()}
            driver_st: dict = {}
            assert _kcore_driver(spark, rows, 2, stats=driver_st) == got
        assert stats["converged"] and driver_st == stats
        assert not [w for w in caught if "max_rounds" in str(w.message)]
        assert got == {(1, 2), (2, 2), (3, 2)}


def test_geo_dbscan_subcell_contraction_invariants(spark):
    """The r11 geometric pre-contraction in geo_dbscan_clusters rests on
    two facts, pinned here: (1) the subcell side s = 35355 satisfies the
    diameter identity 2*s^2 <= eps^2 (any two points in one subcell are
    within eps, so same-subcell CORE points are directly connected and
    provably one cluster); (2) on real data, all core points sharing a
    subcell get the SAME cluster label from the declared query."""
    from lvm_datapipe_spark.queries import QUERIES
    from lvm_datapipe_spark.queries.geo import _geo_col
    from pyspark.sql import functions as F

    s, eps = 35_355, 50_000
    assert 2 * s * s <= eps * eps  # exact integer identity
    out = QUERIES["geo_dbscan_clusters"](spark, SF0001)
    core = out.filter(F.col("role") == "core").select(
        F.col("c_custkey").alias("id"), "cluster_id"
    )
    from lvm_datapipe_spark.catalog import load_table

    cust = load_table(spark, SF0001, "customer")
    cells = cust.select(
        F.col("c_custkey").alias("id"),
        (_geo_col("c_custkey", "geox") / s).cast("long").alias("sx"),
        (_geo_col("c_custkey", "geoy") / s).cast("long").alias("sy"),
    )
    per_cell = (
        core.join(cells, "id")
        .groupBy("sx", "sy")
        .agg(F.count_distinct("cluster_id").alias("k"))
        .agg(F.max("k").alias("mx"))
        .collect()[0]["mx"]
    )
    assert per_cell in (None, 1)


@pytest.mark.slow  # >=7 s equivalence test (r11 tier split)
def test_twophase_round0_and_midloop_gate_paths_agree(spark):
    """The driver-finish gate has two firing points: ROUND 0 (raw edge
    list already within the bound — skips the loop entirely) and
    MID-LOOP (a round's parent set contracts under the bound).  Both
    must label identically to the pure distributed fixpoint.  A
    30-clique (435 raw edges, 29 parent edges after one round) with
    gate=100 exercises the mid-loop path; gate=1000 exercises round 0."""
    rows = [(a, b) for a in range(30) for b in range(a + 1, 30)] + [
        (100, 101), (101, 102), (200, 200)
    ]
    pairs = _pairs(spark, rows)
    expect = set(_uf_components(rows).items())
    s0: dict = {}
    round0 = {
        (r.id, r.cluster_id)
        for r in _cc(pairs, 1000, stats=s0).collect()
    }
    s_mid: dict = {}
    mid = {
        (r.id, r.cluster_id)
        for r in _cc(pairs, 100, stats=s_mid).collect()
    }
    s_pure: dict = {}
    pure = {
        (r.id, r.cluster_id)
        for r in _cc(pairs, -1, stats=s_pure).collect()
    }
    assert round0 == mid == pure == expect
    assert s0["driver_finish"] and s0["rounds"] == 0
    assert s_mid["driver_finish"] and s_mid["rounds"] >= 1
    assert not s_pure["driver_finish"]
