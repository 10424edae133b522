"""Property-based tests (hypothesis): operators vs independent pure-Python
models on randomized inputs, plus order/partitioning invariance of the
determinism-critical aggregates."""

from __future__ import annotations

import math
from collections import defaultdict
from unittest import mock

import pytest

# whole-module slow tier (see pytest.ini): oracle replays / Hypothesis
# properties are re-proven every round by the driver gate + local sweeps
pytestmark = pytest.mark.slow
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import dedup as D
from lvm_datapipe_spark.operators import graph
from lvm_datapipe_spark.operators.aggregates import decimal_sum

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

def _patched(module, name, value, fn, *args, **kwargs):
    """``fn(*args, **kwargs)`` with ``module.name`` set to ``value`` for
    the call (hypothesis re-runs a test body, so no function-scoped
    monkeypatch)."""
    with mock.patch.object(module, name, value):
        return fn(*args, **kwargs)


def _kcore(df, k, max_rounds, stats):
    """kcore of a ``(u, v)`` edge list at core order ``k`` with its round
    cap at ``max_rounds``."""
    with mock.patch.multiple(graph, KCORE_K=k, KCORE_MAX_ROUNDS=max_rounds):
        return graph.kcore(df.toDF("p1", "p2"), stats=stats)


WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
texts = st.lists(st.sampled_from(WORDS), min_size=0, max_size=12).map(" ".join)


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=40))
@settings(**SETTINGS)
def test_decimal_sum_partition_invariant(spark, xs):
    """The oracle-determinism cornerstone: the decimal-accumulated sum must
    be bit-identical regardless of partitioning/order."""
    df = spark.createDataFrame([(x,) for x in xs], ["x"])
    a = df.repartition(1).agg(decimal_sum("x").alias("s")).first().s
    b = df.repartition(7).agg(decimal_sum("x").alias("s")).first().s
    c = df.orderBy(F.desc("x")).repartition(3).agg(decimal_sum("x").alias("s")).first().s
    assert a == b == c  # exact equality, not approx


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in text.split() if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(st.lists(texts, min_size=2, max_size=8))
@settings(**SETTINGS)
def test_jaccard_matches_python_model(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in _patched(D, "JACCARD_THRESHOLD", 0.0, D.ngram_jaccard_pairs, df).collect()
    }
    sh = {i: _py_shingles(t) for i, t in enumerate(docs)}
    want = {}
    for i in sh:
        for j in sh:
            if i < j and sh[i] and sh[j]:
                inter = len(sh[i] & sh[j])
                if inter:
                    want[(i, j)] = inter / len(sh[i] | sh[j])
    assert set(got) == set(want)
    for k in want:
        assert math.isclose(got[k], want[k], rel_tol=1e-12)


@given(st.lists(texts.filter(lambda t: len(t.split()) >= 3), min_size=2, max_size=6))
@settings(**SETTINGS)
def test_identical_docs_are_lsh_candidates(spark, docs):
    """Identical shingle sets → identical MinHash signatures → always a
    candidate pair, for any doc content."""
    rows = [(0, docs[0]), (1, docs[0])] + [(i + 2, t) for i, t in enumerate(docs[1:])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(df).collect()}
    assert (0, 1) in pairs


@given(st.lists(texts.filter(lambda t: len(t.split()) >= 1), min_size=2, max_size=6))
@settings(**SETTINGS)
def test_simhash_banding_equals_bruteforce_random(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    sh = D.simhash_docs(df)
    fp = {r.doc_id: r.simhash for r in sh.collect()}
    want = set()
    ids = sorted(fp)
    for i in ids:
        for j in ids:
            if i < j:
                ham = sum(a != b for a, b in zip(fp[i], fp[j]))
                if ham <= 3:
                    want.add((i, j, ham))
    got = {(r.id_a, r.id_b, r.hamming) for r in D.simhash_pairs(df).collect()}
    assert got == want


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),  # user
        st.integers(min_value=0, max_value=1000),  # t offset seconds
        st.sampled_from(["view", "purchase"]),
    ),
    min_size=1,
    max_size=25,
)


@given(events_strategy)
@settings(**SETTINGS)
def test_asof_matches_python_model(spark, rows):
    import datetime as dt

    from lvm_datapipe_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=t), typ)
        for i, (u, t, typ) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, ["event_id", "user_id", "ts", "event_type"])
    purchases = df.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = df.filter(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_id")
    )
    got = {
        r.event_id: r.view_id
        for r in asof_join(purchases, views, ["view_id"], tie_col="view_id").collect()
    }
    # python model: for each purchase, view with max (ts, id) where ts <= p.ts
    by_user = defaultdict(list)
    for i, u, ts, typ in data:
        if typ == "view":
            by_user[u].append((ts, i))
    want = {}
    for i, u, ts, typ in data:
        if typ == "purchase":
            cands = [(t, vid) for (t, vid) in by_user[u] if t <= ts]
            want[i] = max(cands)[1] if cands else None
    assert got == want


@given(
    st.lists(st.floats(min_value=0, max_value=100, allow_nan=False), min_size=1, max_size=30)
)
@settings(**SETTINGS)
def test_histogram_partition_of_rows(spark, xs):
    from lvm_datapipe_spark.operators.aggregates import histogram

    df = spark.createDataFrame([(x,) for x in xs], ["d"])
    bins = [0.0, 10.0, 50.0]
    out = histogram(df, "d", bins).collect()
    assert sum(r.n for r in out) == len(xs)  # every row lands in exactly one bucket
    for r in out:
        assert 0 <= r.bucket < len(bins)


# --- r5: SCD2 merge vs a pure-Python model ----------------------------------

_keys = st.integers(min_value=0, max_value=15)
_fps = st.sampled_from(["f1", "f2", "f3"])


@given(
    st.dictionaries(_keys, _fps, max_size=10),  # open rows: key -> fp
    st.dictionaries(_keys, _fps, max_size=10),  # update snapshot
)
@settings(**SETTINGS)
def test_scd2_merge_matches_python_model(spark, cur, upd):
    from lvm_datapipe_spark.operators.scd import scd2_merge

    cur_rows = [(k, fp, "2024-01-01", None) for k, fp in cur.items()]
    upd_rows = list(upd.items())
    cdf = spark.createDataFrame(
        cur_rows, "doc_id long, fingerprint string, valid_from string, valid_to string"
    )
    udf_ = spark.createDataFrame(
        upd_rows or [(None, None)], "doc_id long, fingerprint string"
    )
    if not upd_rows:
        udf_ = udf_.filter("doc_id IS NOT NULL")
    got = {tuple(r) for r in scd2_merge(cdf, udf_).collect()}

    want = set()
    for k, fp in cur.items():
        if k in upd and upd[k] != fp:
            want.add((k, fp, "2024-01-01", "2024-06-01"))
            want.add((k, upd[k], "2024-06-01", None))
        else:
            want.add((k, fp, "2024-01-01", None))
    for k, fp in upd.items():
        if k not in cur:
            want.add((k, fp, "2024-06-01", None))
    assert got == want


@given(st.sets(st.integers(min_value=-(2**40), max_value=2**40), max_size=30))
@settings(**SETTINGS)
def test_bloom_prefilter_never_changes_the_join(spark, keys):
    from lvm_datapipe_spark.operators import bloom as B

    fact = spark.range(0, 200).selectExpr("id % 64 AS o_custkey", "id AS v")
    dim = spark.createDataFrame(
        [(k,) for k in keys] or [(None,)], "c_custkey long"
    ).filter("c_custkey IS NOT NULL")
    got = B.bloom_prefiltered_semi_join(fact, dim)
    want = fact.join(dim, fact.o_custkey == dim.c_custkey, "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@given(st.integers(min_value=2, max_value=12))
@settings(**SETTINGS)
def test_rate_gated_keep_stable_under_input_repartition(spark, nparts):
    # the md5-bucket keep decision (sample_match_target /
    # sample_temperature_mix shape: per-group rate joined back, bucket <
    # rate*10000) must select the SAME rows regardless of the INPUT's
    # physical layout — the core reproducibility claim
    from pyspark.sql import functions as F

    from lvm_datapipe_spark.operators.sampling import hash_bucket

    docs = spark.range(0, 400).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS grp"
    )

    def kept(df):
        cnt = df.groupBy("grp").agg(F.count(F.lit(1)).alias("n"))
        rates = cnt.select("grp", (F.sqrt(F.col("n").cast("double")) / 25.0).alias("rate"))
        b = hash_bucket("doc_id", salt="mix")
        return sorted(
            r.doc_id
            for r in df.join(F.broadcast(rates), "grp")
            .filter(b < F.col("rate") * 10000)
            .collect()
        )

    assert kept(docs) == kept(docs.repartition(nparts, "doc_id")) == kept(
        docs.orderBy(F.desc("doc_id")).repartition(nparts)
    )


intervals_st = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=40),
    ),
    min_size=0,
    max_size=8,
)
points_st = st.lists(
    st.integers(min_value=-60, max_value=60), min_size=0, max_size=10
)


@given(points_st, intervals_st, st.sampled_from([1, 3, 7, 64]))
@settings(**SETTINGS)
def test_binned_range_join_equals_naive_model(spark, pts, ivs, width):
    """Bin-and-residual must be EXACT for any bin width: same pairs as the
    quadratic python model, no dupes, no misses."""
    from unittest import mock

    from lvm_datapipe_spark.operators import asof

    pdf = spark.createDataFrame(
        [(i, t) for i, t in enumerate(pts)], "pid: int, t: int"
    )
    idf = spark.createDataFrame(
        [(j, a, a + span) for j, (a, span) in enumerate(ivs)],
        "iv: int, t0: int, t1: int",
    )
    with mock.patch.object(asof, "RANGE_BIN_WIDTH", width):
        got = sorted(
            (r["pid"], r["iv"]) for r in asof.binned_range_join(pdf, idf).collect()
        )
    want = sorted(
        (i, j)
        for i, t in enumerate(pts)
        for j, (a, span) in enumerate(ivs)
        if a <= t <= a + span
    )
    assert got == want


@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=8),
    st.lists(
        st.integers(min_value=0, max_value=30), min_size=1, max_size=5
    ),
)
@settings(**SETTINGS)
def test_temporal_join_matches_version_model(spark, fact_ts, boundaries):
    """temporal_join == python as-of-version model on any well-formed SCD2
    history (sorted distinct boundaries, last version open)."""
    from lvm_datapipe_spark.operators.scd import temporal_join

    bounds = sorted(set(boundaries))
    versions = [
        (1, f"v{i}", b, bounds[i + 1] if i + 1 < len(bounds) else None)
        for i, b in enumerate(bounds)
    ]
    vdf = spark.createDataFrame(
        versions, "doc_id: int, attr: string, valid_from: int, valid_to: int"
    )
    fdf = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(fact_ts)], "fid: int, doc_id: int, ts: int"
    )
    got = {
        r["fid"]: r["attr"]
        for r in temporal_join(fdf, vdf).collect()
    }

    def model(t):
        live = [v for v in versions if v[2] <= t and (v[3] is None or t < v[3])]
        return live[0][1] if live else None

    assert got == {i: model(t) for i, t in enumerate(fact_ts)}


# --- txlog MERGE vs a pure dict model -------------------------------------

_ops = st.lists(
    st.tuples(
        st.sampled_from(["merge", "append"]),
        st.dictionaries(
            st.integers(min_value=0, max_value=9),          # key
            st.sampled_from(["a", "b", "c", "d"]),           # value
            min_size=1,
            max_size=4,
        ),
    ),
    min_size=1,
    max_size=4,
)


@given(_ops)
@settings(**SETTINGS)
def test_txlog_merge_matches_dict_model(spark, tmp_path_factory, ops):
    """A random commit/merge sequence must leave the table equal to a plain
    python dict applying the same upserts (appends use fresh keys so the
    table stays key-unique, matching MERGE's contract)."""
    from lvm_datapipe_spark.sources import txlog

    t = str(tmp_path_factory.mktemp("txprop") / "tbl")
    model: dict[int, str] = {}
    fresh = 100  # disjoint key space for appends
    for kind, batch in ops:
        if kind == "append":
            batch = {fresh + i: v for i, v in enumerate(batch.values())}
            fresh += len(batch)
        rows = sorted(batch.items())
        df = spark.createDataFrame(rows, "id long, val string")
        if kind == "append" and txlog.latest_version(t) > 0:
            txlog.commit(spark, df, t, op="append")
        else:
            txlog.merge(spark, df, t, ["id"])
        model.update(batch)
    got = {r["id"]: r["val"] for r in txlog.read(spark, t).collect()}
    assert got == model
    # every historical version is still readable (time travel intact)
    for v in range(1, txlog.latest_version(t) + 1):
        assert txlog.read(spark, t, version=v).count() >= 0


@settings(
    deadline=None, max_examples=15,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_pareto_skyline_matches_bruteforce(spark, pts):
    # small coordinate alphabet forces heavy tie/duplicate coverage; the
    # bucketed distributed skyline must equal the O(n^2) definition on
    # every input
    from lvm_datapipe_spark.operators.relational import pareto_skyline_2d

    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(pts)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    got = sorted(
        r.id
        for r in pareto_skyline_2d(df.toDF("id", "o_totalprice", "o_orderdate")).collect()
    )
    want = sorted(
        i
        for i, x, y in rows
        if not any(
            xj >= x and yj >= y and (xj > x or yj > y)
            for jj, xj, yj in rows
            if jj != i
        )
    )
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),              # stream partition
            st.integers(min_value=0, max_value=5000),  # event-time seconds
        ),
        min_size=1,
        max_size=60,
    ),
    st.randoms(use_true_random=False),
)
@settings(**SETTINGS)
def test_watermark_audit_matches_python_replay(spark, evs, rng):
    """watermark_drop_audit == a pure-python high-water replay for ANY
    arrival permutation (the arrival order is a data column, so the
    property quantifies over it directly)."""
    from lvm_datapipe_spark.streaming.events import watermark_drop_audit

    seqs = list(range(len(evs)))
    rng.shuffle(seqs)
    rows = [(k, t, s) for (k, t), s in zip(evs, seqs)]
    delays = (0, 60, 600, 3600)
    df = spark.createDataFrame(
        [(k, t, q, q) for k, t, q in rows],
        "event_type string, tsec long, arr long, event_id long",
    )
    got = {
        (r.event_type, r.delay_s): (r.n_events, r.n_dropped, r.drop_ppm, r.max_late_s)
        for r in watermark_drop_audit(df).collect()
    }
    # python replay
    from collections import defaultdict

    bykey = defaultdict(list)
    for k, t, s in rows:
        bykey[k].append((s, t))
    expect = {}
    for k, e in bykey.items():
        e.sort()
        hw, late = None, []
        for _, t in e:
            hw = t if hw is None else max(hw, t)
            late.append(hw - t)
        for d in delays:
            dropped = sum(1 for x in late if x > d)
            expect[(k, d)] = (
                len(late), dropped, dropped * 1_000_000 // len(late), max(late)
            )
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([1, 2, 3]),
)
@settings(**SETTINGS)
def test_kcore_matches_python_fixpoint_on_random_graphs(spark, edges, k):
    """Converged kcore == the pure-python peel for arbitrary small graphs
    and k — including graphs whose core is empty and graphs that need
    multi-layer cascades."""
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(adj)
    while True:
        drop = {u for u in alive if len(adj[u] & alive) < k}
        if not drop:
            break
        alive -= drop
    expect = {(u, len(adj[u] & alive)) for u in alive}

    df = spark.createDataFrame(edges, "u long, v long")
    stats: dict = {}
    got = {
        (r.node, r.core_degree)
        for r in _kcore(df, k, 40, stats).collect()
    }
    assert stats["converged"] is True
    assert got == expect


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([2, 3]),
    st.sampled_from([2, 40]),
)
@settings(**SETTINGS)
def test_kcore_matches_capped_peel_model_property(spark, edges, k, cap):
    """kcore returns the pure-python peel's (node, core_degree) set AND
    converged flag on ARBITRARY edge lists — self-loops and duplicates
    included — at both a converging and an exhausting max_rounds.  The
    model checks the doomed frontier at the top of each of ``cap``
    rounds (empty ⇒ converged), treats an alive set emptied by the last
    round as converged, and keeps only nodes with >= 1 alive neighbor."""
    import warnings

    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    alive = set(adj)
    converged = False
    for _ in range(cap):
        drop = {u for u in alive if len(adj[u] & alive) < k}
        if not drop:
            converged = True
            break
        alive -= drop
    converged = converged or not alive
    expect = {
        (u, len(adj[u] & alive)) for u in alive if len(adj[u] & alive) >= 1
    }

    df = spark.createDataFrame(edges, "u long, v long")
    st_: dict = {}
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rows = _kcore(df, k, cap, st_).collect()
    assert {(r.node, r.core_degree) for r in rows} == expect
    assert st_["converged"] is converged


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ),
        min_size=0,
        max_size=30,
    ),
    st.sampled_from([-1, 1, 200_000]),
)
@settings(**SETTINGS)
def test_connected_components_matches_union_find_property(spark, edges, gate):
    """connected_components labels ARBITRARY edge lists — self-loops and
    duplicates included — with each node's reachable minimum, across
    driver-finish gate settings: -1 (pure distributed loop), 1 (on
    most drawn graphs the gate fires mid-loop) and the default (round-0
    driver finish)."""
    from lvm_datapipe_spark.operators.graph import connected_components

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {(x, find(x)) for x in list(parent)}

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r.id, r.cluster_id)
        for r in _patched(
            graph, "CC_DRIVER_FINISH_MAX_EDGES", gate, connected_components, df
        ).collect()
    }
    assert got == expect
