"""The query registry and the oracle helpers two or more query families use.

``_q(name, sql)`` registers a query function in ``QUERIES`` and its DuckDB
oracle SQL in ``ORACLE_SQL``."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators.graph import cap_baskets, partitioned_local_checkpoint
from lvm_datapipe_spark.operators.similarity import (
    DEFAULT_DIM, ivf_fixed_centroids, lsh_table_planes
)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def deco(fn):
        assert name not in QUERIES, f"duplicate query registration: {name}"
        QUERIES[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def _dsum(x: str) -> str:
    return f"CAST(SUM(CAST({x} AS DECIMAL(27,6))) AS DOUBLE)"


def _md5_u32(*parts: F.Column) -> F.Column:
    """The first 32 bits of md5(concat(parts)) as a BIGINT in [0, 2^32):
    a deterministic, partitioning-independent hash that DuckDB replays as
    ``('0x' || substr(md5(...), 1, 8))::BIGINT``."""
    return F.conv(
        F.substring(F.md5(F.concat(*parts).cast("binary")), 1, 8), 16, 10
    ).cast("bigint")


#: Hot-basket guard for every co-occurrence pair build (graph.cap_baskets):
#: baskets above this many distinct items are dropped before the pairwise
#: self-join.  declared-corpus baskets peak at ~17 distinct items, so the
#: cap is a no-op (pinned by tests/test_basket_cap.py); at 100 TB it bounds
#: the per-basket join fan-out at MAX_BASKET_SIZE**2.
MAX_BASKET_SIZE = 64


def _cap_baskets_sql(src: str) -> str:
    """Oracle mirror of graph.cap_baskets over the ``l_orderkey`` baskets
    of ``src``: the ``NOT IN`` offender-set form (ANSI; the Spark side is
    the equivalent left-anti join)."""
    cap = MAX_BASKET_SIZE
    return (
        f"(SELECT * FROM {src} WHERE l_orderkey NOT IN "
        f"(SELECT l_orderkey FROM {src} GROUP BY l_orderkey HAVING count(*) > {cap}))"
    )


#: oracle CTEs ``item`` and ``pair`` over the capped part baskets ``b``:
#: per-part basket counts and the part pairs co-occurring in >= 3 baskets
_PART_PAIRS_SQL = """item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY l_partkey),
    pair AS (
      SELECT x.l_partkey AS p1, y.l_partkey AS p2, CAST(count(*) AS BIGINT) AS co
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
      HAVING count(*) >= 3)"""


def _capped_baskets(spark: SparkSession, sf_dir: str, item_col: str):
    """The co-occurrence family's capped-basket source: the distinct
    ``(l_orderkey, item_col)`` table with hot baskets dropped
    (graph.cap_baskets), as an eager local checkpoint built once in the
    query build, because these queries read it 2-4 times in one plan.
    session.query_scope frees its blocks.

    Scale shape: ONE keyed exchange. The scan is repartitioned on the BASKET
    key, and the distinct and the cap's per-basket count window both run
    partition-local (a hash exchange on l_orderkey satisfies the clustering
    requirement of any grouping whose keys contain it).
    graph.partitioned_local_checkpoint keeps that hash partitioning (a plain
    checkpoint under AQE would drop it), so every downstream basket-keyed
    self-join reads a pre-partitioned table and plans NO exchange on its big
    sides. See OPTIMIZATION_r10 §12."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", item_col)
    b0 = li.repartition("l_orderkey").distinct()
    return partitioned_local_checkpoint(
        cap_baskets(b0, "l_orderkey", MAX_BASKET_SIZE)
    )


# SQL fragments shared by the oracles (DuckDB dialect), mirroring the Column
# expressions in operators/text.py and operators/dedup.py expression-for-
# expression so float/int results are bit-identical.

_SQL_TOKS = r"list_filter(string_split_regex(text, '\s+'), x -> x <> '')"
_SQL_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(t) - 2, 0)), "
    "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))"
)


def _dot_sql(a: str, b: str, dim: int = DEFAULT_DIM) -> str:
    """Explicit left-associated sum chain — same fold order as the Spark
    aggregate() in operators/similarity.py, so results are bit-identical."""
    return " + ".join(f"{a}[{i}]*{b}[{i}]" for i in range(1, dim + 1))


def _lsh_buckets_sql(n_tables: int = 8) -> str:
    """Bucket-assignment CTE body ``(vec_id, tbl, bucket)`` over the
    ``e(vec_id, v)`` corpus: 4 sign bits per table from the seeded plane
    literals the Spark LSH path draws."""
    n_planes = 4

    selects = []
    for t, planes in enumerate(lsh_table_planes(n_planes, n_tables, 42)):
        bits = " || ".join(
            "(CASE WHEN ("
            + " + ".join(
                f"v[{i + 1}]*('{float(planes[b][i])!r}'::DOUBLE)"
                for i in range(DEFAULT_DIM)
            )
            + ") >= 0 THEN '1' ELSE '0' END)"
            for b in range(n_planes)
        )
        selects.append(f"SELECT vec_id, {t} AS tbl, {bits} AS bucket FROM e")
    return "\nUNION ALL\n".join(selects)


def _lsh_near_dup_sql(n_tables: int = 8, threshold: float = 0.4) -> str:
    """DuckDB replay of the LSH scale path: the hyperplanes are fixed-seed
    numpy draws embedded as literals on both engines, so the candidate set
    is deterministic and the verify stage's exact cosine is bit-identical."""
    return _lsh_verify_sql("", _lsh_buckets_sql(n_tables), threshold)


def _lsh_verify_sql(ctes: str, buckets_sql: str, threshold: float) -> str:
    """The LSH oracle around a bucket CTE body over ``e(vec_id, v)``:
    ``ctes`` (text after the ``e`` CTE, ending in a comma) may add CTEs the
    buckets read; bucket collisions are the candidates, verified by exact
    cosine ``>= threshold``."""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),{ctes}
    nr AS (SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS nrm FROM e),
    u AS (SELECT vec_id, list_transform(v, x -> x / nrm) AS vn FROM nr),
    buckets AS ({buckets_sql}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.id_a, c.id_b, {_dot_sql('ua.vn', 'ub.vn')} AS cos_sim
    FROM cand c
    JOIN u ua ON ua.vec_id = c.id_a
    JOIN u ub ON ub.vec_id = c.id_b
    WHERE {_dot_sql('ua.vn', 'ub.vn')} >= {threshold}
    """


def _closure_sql(pairs_sql: str) -> str:
    """``(id, cluster_id)`` for every id on the undirected pair list
    ``pairs_sql`` selects as ``(id_a, id_b)``: the minimum id reachable
    through it, as a recursive-CTE transitive closure (the DuckDB twin of
    graph.connected_components). It also nests as a CTE body."""
    return f"""
    WITH RECURSIVE cpairs AS ({pairs_sql}),
    edges AS (SELECT id_a AS u, id_b AS w FROM cpairs
              UNION SELECT id_b AS u, id_a AS w FROM cpairs),
    reach AS (SELECT u, w FROM edges
              UNION SELECT r.u AS u, e2.w AS w
              FROM reach r JOIN edges e2 ON r.w = e2.u)
    SELECT u AS id, least(u, min(w)) AS cluster_id FROM reach GROUP BY u
    """


_SQL_LTOKS = r"list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')"


def _ivf_sims_sql() -> str:
    """Oracle list of ``v``'s cosines to the IVF_CELLS fixed-quantizer
    centroids (the Spark side's seeded draw, literals string-cast to
    DOUBLE), each dot in the Spark fold's left-to-right order."""
    def cos_lit(c) -> str:
        dot_vc = " + ".join(
            f"v[{i + 1}]*('{float(c[i])!r}'::DOUBLE)" for i in range(DEFAULT_DIM)
        )
        dot_cc = sum(float(x) * float(x) for x in c)
        return f"(({dot_vc}) / (sqrt({_dot_sql('v', 'v')}) * sqrt('{dot_cc!r}'::DOUBLE)))"

    cents = ivf_fixed_centroids()
    return "[" + ", ".join(cos_lit(c) for c in cents) + "]"


_DECILE_PS = [0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2, 0.1]


#: oracle CTEs ``tok`` … ``nrm``: each document's signed 64-bucket hashed
#: token counts ``w(doc_id, bucket, w)`` and squared norm ``nrm(doc_id,
#: norm2)`` (the text.hashed_features mirror)
_HASHED_COUNTS_SQL = """
    tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),
             '\\s+'), x -> x <> '')) AS token
      FROM documents),
    sgn AS (
      SELECT doc_id,
             ('0x' || substr(md5('feat' || token), 1, 8))::BIGINT % 64
               AS bucket,
             1 - 2 * (('0x' || substr(md5('feat' || token), 9, 1))::BIGINT % 2)
               AS sign
      FROM tok),
    w AS (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS w
          FROM sgn GROUP BY doc_id, bucket HAVING sum(sign) <> 0),
    nrm AS (SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
            FROM w GROUP BY doc_id)"""


def _pctile_mirror_sql(f: float) -> str:
    """DuckDB expression replicating Spark's ``percentile`` interpolation
    bit-exactly: with pos = f*(n-1), lower = floor(pos), higher = ceil(pos),
    ``lo*(higher - pos) + hi*(pos - lower)``, over the sorted list ``arr``
    of length ``n``."""
    pos = f"(('{f!r}'::DOUBLE) * (n - 1))"
    ki = f"CAST(floor({pos}) AS BIGINT)"
    kd = f"floor({pos})"
    lo = f"CAST(arr[{ki} + 1] AS DOUBLE)"
    hi = f"CAST(arr[{ki} + 2] AS DOUBLE)"
    return (
        f"(CASE WHEN {pos} = {kd} OR {lo} = {hi} THEN {lo} "
        f"ELSE {lo} * (({kd} + 1.0) - {pos}) + {hi} * ({pos} - {kd}) END)"
    )
