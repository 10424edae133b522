"""Graph queries: co-occurrence baskets, triangles, k-cores, reachability,
PageRank, link prediction and Markov chains."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import lineitem_row_count, load_table
from lvm_datapipe_spark.operators import similarity as V
from lvm_datapipe_spark.operators.graph import (
    PAGERANK_ITERS,
    kcore,
    kcore_driver_dense_from_baskets,
    khop_reachability_driver_dense_from_baskets,
    pagerank,
    triangle_counts,
    triangle_counts_driver_dense_from_baskets,
)
from lvm_datapipe_spark.queries._shared import (
    _PART_PAIRS_SQL, _cap_baskets_sql, _capped_baskets, _lsh_near_dup_sql, _q
)


@_q(
    "graph_supplier_triangles",
    f"""
    WITH b0 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    bb AS {_cap_baskets_sql('b0')},
    e AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM bb a JOIN bb b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
    tri AS (
      SELECT e1.s1 AS a, e1.s2 AS b, e2.s2 AS c
      FROM e e1
      JOIN e e2 ON e2.s1 = e1.s2
      JOIN e e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
    nodes AS (
      SELECT a AS s FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
    SELECT s AS s_suppkey, CAST(count(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY s
    """,
)
def graph_supplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oriented triangle counting on the supplier co-occurrence graph
    (suppliers sharing an order) — the clustering-density diagnostic for any
    pairwise-similarity graph (dup clusters, co-citation)."""
    bb = _capped_baskets(spark, sf_dir, "l_suppkey")
    a = bb.select("l_orderkey", F.col("l_suppkey").alias("s1"))
    b = bb.select("l_orderkey", F.col("l_suppkey").alias("s2"))
    # fast path: no pair join runs at all — the driver kernel collects the
    # basket table itself (sum k rows, half the bytes of the pair stream)
    # and generates the within-basket pairs in numpy; its gates read the
    # lineitem footer row count and the collected rows, so the collect is
    # the one job.
    dense = triangle_counts_driver_dense_from_baskets(bb, lineitem_row_count(sf_dir))
    if dense is not None:
        return spark.createDataFrame(
            dense, "s_suppkey long, n_triangles long"
        )
    # scale path: distinct edges, checkpointed — the adjacency build AND
    # the per-edge probe both scan it
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("s1") < F.col("s2"))
        .select("s1", "s2")
        .distinct()
        .localCheckpoint()
    )
    # oriented adjacency (the a<b convention = an acyclic orientation);
    # checkpointed because BOTH sides of the per-edge join scan it
    adj = (
        e.groupBy("s1").agg(F.sort_array(F.collect_list("s2")).alias("nb"))
        .localCheckpoint()
    )
    au = adj.select(F.col("s1").alias("u"), F.col("nb").alias("nu"))
    av = adj.select(F.col("s1").alias("v"), F.col("nb").alias("nv"))
    edges = e.select(F.col("s1").alias("u"), F.col("s2").alias("v"))
    # each w in N⁺(u) ∩ N⁺(v) closes the triangle u<v<w exactly once.
    # tri_e is CHECKPOINTED on purpose: the checkpoint is the projection
    # barrier that makes array_intersect compute once per edge; fusing the
    # three role aggregates into one explode(concat(...)) pass re-evaluates
    # the intersection per reference.
    tri_e = (
        edges.join(au, "u")
        .join(av, "v")
        .select("u", "v", F.array_intersect("nu", "nv").alias("ws"))
        .localCheckpoint()
    )
    cu = tri_e.groupBy(F.col("u").alias("s")).agg(F.sum(F.size("ws")).alias("n"))
    cv = tri_e.groupBy(F.col("v").alias("s")).agg(F.sum(F.size("ws")).alias("n"))
    cw = tri_e.select(F.explode("ws").alias("s")).groupBy("s").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = (
        cu.unionAll(cv)
        .unionAll(cw)
        .groupBy(F.col("s").alias("s_suppkey"))
        .agg(F.sum("n").cast("long").alias("n_triangles"))
        # an edge with an empty intersection contributes n = 0 for both
        # endpoints: drop the zero rows, which the SQL and the dense
        # driver kernel never emit
        .filter(F.col("n_triangles") > 0)
    )
    return out


@_q(
    "basket_part_lift",
    f"""
    WITH b0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b0')},
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
    {_PART_PAIRS_SQL}
    SELECT p.p1, p.p2, p.co,
           (CAST(p.co AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / (CAST(i1.cnt AS DOUBLE) * CAST(i2.cnt AS DOUBLE)) AS lift
    FROM pair p
    JOIN item i1 ON i1.l_partkey = p.p1
    JOIN item i2 ON i2.l_partkey = p.p2
    CROSS JOIN n
    """,
)
def basket_part_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (support + lift over co-purchased
    parts) — the co-occurrence-statistics shape behind token PMI, co-click
    analysis, and recommendation candidates."""
    b = _capped_baskets(spark, sf_dir, "l_partkey")
    n = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    x = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    y = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pair = (
        x.join(y, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 3)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("c1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("c2"))
    lift = (F.col("co").cast("double") * F.col("n_orders").cast("double")) / (
        F.col("c1").cast("double") * F.col("c2").cast("double")
    )
    out = (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .join(F.broadcast(n))
        .select("p1", "p2", "co", lift.alias("lift"))
    )
    return out


def _pagerank_oracle_sql() -> str:
    """Unrolled power-iteration oracle for graph_nation_pagerank in the
    operator's fixed-point integer arithmetic: ranks are BIGINT multiples of
    1e-12, contributions (rank * w) // out, the update base + (17 * sum) //
    20, so the replay is bit-identical."""
    head = """
    WITH e AS (
      SELECT cn.n_name AS src, sn.n_name AS dst, CAST(count(*) AS BIGINT) AS w
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      GROUP BY cn.n_name, sn.n_name),
    outw AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS o FROM e GROUP BY src),
    nodes AS (
      SELECT src AS node FROM e UNION SELECT dst FROM e),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    r0 AS (
      SELECT node, CAST(1000000000000 // nn.n AS BIGINT) AS r
      FROM nodes CROSS JOIN nn)"""
    step = """,
    r{k} AS (
      SELECT n.node,
             CAST((3 * 1000000000000) // (20 * nn.n)
                  + (17 * COALESCE(c.s, 0)) // 20 AS BIGINT) AS r
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst, CAST(SUM((p.r * e.w) // o.o) AS BIGINT) AS s
        FROM e
        JOIN outw o ON o.src = e.src
        JOIN r{j} p ON p.node = e.src
        GROUP BY e.dst) c
      ON c.dst = n.node)"""
    body = "".join(step.format(k=k, j=k - 1) for k in range(1, PAGERANK_ITERS + 1))
    return (
        head + body
        + f"""
    SELECT node, r AS rank_fp,
           CAST(r AS DOUBLE) / CAST(1000000000000 AS DOUBLE) AS rank
    FROM r{PAGERANK_ITERS}"""
    )


@_q("graph_nation_pagerank", _pagerank_oracle_sql())
def graph_nation_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the nation trade graph (customer nation →
    supplier nation, weight = lineitem count) via graph.pagerank."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cn = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("src")
        )
    )
    sn = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("dst")
        )
    )
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(cn, F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(sn, F.col("s_nationkey") == F.col("sn_key"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return pagerank(edges)


#: oracle CTEs ``b0`` … ``tri``: the :func:`_part_edges` graph ``e(a, bb)``,
#: its node degrees ``deg`` and every triangle ``tri(x, y, z)`` once, found
#: by orienting each edge from its lower-degree end
_PART_TRIANGLES_SQL = f"""WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b0')},
    e AS (
      SELECT x.l_partkey AS a, y.l_partkey AS bb
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
      HAVING count(*) >= 2),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
        SELECT a AS node FROM e UNION ALL SELECT bb AS node FROM e)
      GROUP BY node),
    d AS (
      SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.bb)
                  THEN e.a ELSE e.bb END AS u,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.a < e.bb)
                  THEN e.bb ELSE e.a END AS v
      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.bb),
    dv AS (SELECT d.u, d.v, deg.d AS dvg FROM d JOIN deg ON deg.node = d.v),
    tri AS (
      SELECT w1.u AS x, w1.v AS y, w2.v AS z
      FROM dv w1 JOIN dv w2 ON w1.u = w2.u
           AND ((w1.dvg < w2.dvg) OR (w1.dvg = w2.dvg AND w1.v < w2.v))
      JOIN d c ON c.u = w1.v AND c.v = w2.v)"""


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(a, bb)``: the part co-occurrence graph — part pairs sharing at
    least 2 capped baskets, ``a < bb``."""
    bb = _capped_baskets(spark, sf_dir, "l_partkey")
    x = bb.select("l_orderkey", F.col("l_partkey").alias("a"))
    y = bb.select("l_orderkey", F.col("l_partkey").alias("bb"))
    return (
        x.join(y, "l_orderkey")
        .filter(F.col("a") < F.col("bb"))
        .groupBy("a", "bb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
        .select("a", "bb")
    )


@_q(
    "graph_triangle_counts",
    f"""
    {_PART_TRIANGLES_SQL}
    SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
      SELECT x AS node FROM tri
      UNION ALL SELECT y AS node FROM tri
      UNION ALL SELECT z AS node FROM tri)
    GROUP BY node
    """,
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph (edges = part
    pairs co-ordered >= 2 times)."""
    return triangle_counts(_part_edges(spark, sf_dir), "a", "bb")


@_q(
    "audience_overlap_pairs",
    """
    WITH b AS (SELECT DISTINCT user_id, event_type FROM events),
    n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
          FROM b GROUP BY event_type),
    p AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM b x JOIN b y ON x.user_id = y.user_id
                AND x.event_type < y.event_type
          GROUP BY x.event_type, y.event_type)
    SELECT p.type_a, p.type_b, na.n_users AS n_a, nb.n_users AS n_b, p.n_both,
           CAST(p.n_both AS DOUBLE)
             / CAST(na.n_users + nb.n_users - p.n_both AS DOUBLE) AS jaccard
    FROM p JOIN n na ON na.event_type = p.type_a
           JOIN n nb ON nb.event_type = p.type_b
    """,
)
def audience_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types: |users(A and B)| and
    exact Jaccard for every (type_a < type_b) pair.

    Scale shape: the (user, type) base is one distinct aggregate; the pair
    counts come from a user_id-keyed equi-self-join whose per-user fan-out
    is bounded by types-per-user squared (types are a small enumerable set,
    not corpus-sized); per-type totals are broadcast back. Counts stay
    BIGINT; ONE final float division."""
    ev = load_table(spark, sf_dir, "events")
    b = ev.select("user_id", "event_type").distinct()
    n = b.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    x = b.select("user_id", F.col("event_type").alias("type_a"))
    y = b.select("user_id", F.col("event_type").alias("type_b"))
    p = (
        x.join(y, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    na = n.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    nb = n.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    jac = F.col("n_both").cast("double") / (
        (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double")
    )
    return (
        p.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select("type_a", "type_b", "n_a", "n_b", "n_both", jac.alias("jaccard"))
    )


@_q(
    "nation_catalog_jaccard",
    """
    WITH np AS (
      SELECT DISTINCT n.n_name, l.l_partkey
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey),
    sz AS (SELECT n_name, CAST(count(*) AS BIGINT) AS n_parts
           FROM np GROUP BY n_name),
    inter AS (
      SELECT a.n_name AS nation_a, b.n_name AS nation_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM np a JOIN np b ON a.l_partkey = b.l_partkey
                         AND a.n_name < b.n_name
      GROUP BY a.n_name, b.n_name)
    SELECT nation_a, nation_b, n_common,
           sa.n_parts AS n_parts_a, sb.n_parts AS n_parts_b,
           CAST(n_common AS DOUBLE)
             / (sa.n_parts + sb.n_parts - n_common) AS jaccard
    FROM inter
    JOIN sz sa ON sa.n_name = nation_a
    JOIN sz sb ON sb.n_name = nation_b
    """,
)
def nation_catalog_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity between the part catalogs shipped by each pair of
    nations.

    Scale shape: distinct (nation, part) -- one keyed dedup -- then a
    part-keyed self-join whose fan-out per part is bounded by |nations|, and
    a |nations|^2 output."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    np_ = (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("n_name", "l_partkey")
        .distinct()
    )
    sz = np_.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    a = np_.select(F.col("n_name").alias("nation_a"), "l_partkey")
    bb = np_.select(F.col("n_name").alias("nation_b"), "l_partkey")
    inter = (
        a.join(bb, "l_partkey")
        .filter(F.col("nation_a") < F.col("nation_b"))
        .groupBy("nation_a", "nation_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sz.select(
        F.col("n_name").alias("nation_a"), F.col("n_parts").alias("n_parts_a")
    )
    sb = sz.select(
        F.col("n_name").alias("nation_b"), F.col("n_parts").alias("n_parts_b")
    )
    return (
        inter.join(F.broadcast(sa), "nation_a")
        .join(F.broadcast(sb), "nation_b")
        .select(
            "nation_a",
            "nation_b",
            "n_common",
            "n_parts_a",
            "n_parts_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_parts_a") + F.col("n_parts_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


@_q(
    "graph_reachability_3hop",
    f"""
    WITH b0 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    bb AS {_cap_baskets_sql('b0')},
    e AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM bb a JOIN bb b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey),
    seeds AS (
      SELECT s1 AS seed FROM e GROUP BY s1
      ORDER BY count(*) DESC, s1 ASC LIMIT 5),
    h1 AS (SELECT DISTINCT s.seed, e.s2 AS node
           FROM seeds s JOIN e ON e.s1 = s.seed),
    h2 AS (SELECT DISTINCT h1.seed, e.s2 AS node
           FROM h1 JOIN e ON e.s1 = h1.node),
    h3 AS (SELECT DISTINCT h2.seed, e.s2 AS node
           FROM h2 JOIN e ON e.s1 = h2.node),
    r AS (
      SELECT seed, node, 1 AS hops FROM h1
      UNION ALL SELECT seed, node, 2 FROM h2
      UNION ALL SELECT seed, node, 3 FROM h3),
    best AS (
      SELECT seed, node, CAST(MIN(hops) AS INTEGER) AS min_hops
      FROM r WHERE node <> seed GROUP BY seed, node)
    SELECT seed, min_hops, CAST(count(*) AS BIGINT) AS n_reachable
    FROM best GROUP BY seed, min_hops
    """,
)
def graph_reachability_3hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS: from the 5 highest-degree suppliers in the
    co-fulfillment graph (shared orders), how many suppliers are first
    reached at 1, 2 and 3 hops.

    Scale shape: the edge list aggregates once from the fact table behind
    the hot-basket guard (graph.cap_baskets); each hop is a frontier-sized
    keyed join; seeds are a broadcast-tiny TakeOrdered. Depth is fixed -- no
    iterate-to-convergence driver loop."""
    bb = _capped_baskets(spark, sf_dir, "l_suppkey")
    dense = khop_reachability_driver_dense_from_baskets(bb, lineitem_row_count(sf_dir))
    if dense is not None:
        return spark.createDataFrame(
            dense, "seed long, min_hops int, n_reachable long"
        )
    a = bb.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s1"))
    b = bb.select(F.col("l_orderkey").alias("o"), F.col("l_suppkey").alias("s2"))
    e = (
        a.join(b, "o")
        .filter(F.col("s1") != F.col("s2"))
        .select("s1", "s2")
        .distinct()
    )
    e = e.localCheckpoint()
    seeds = (
        e.groupBy("s1")
        .agg(F.count(F.lit(1)).alias("deg"))
        .orderBy(F.desc("deg"), F.asc("s1"))
        .limit(5)
        .select(F.col("s1").alias("seed"))
    )
    # checkpoint h1/h2: each frontier feeds BOTH the next hop's join and
    # the final union — unmaterialized, the union re-executes h1's subtree
    # three times (directly, inside h2, inside h3's h2) and h2's twice,
    # i.e. 6 frontier joins + 6 distinct shuffles instead of 3 (the same
    # duplicated-subtree shape as the triangle-corner fix)
    h1 = (
        seeds.join(e, seeds.seed == e.s1)
        .select("seed", F.col("s2").alias("node"))
        .distinct()
        .localCheckpoint()
    )
    h2 = (
        h1.join(e, h1.node == e.s1)
        .select("seed", F.col("s2").alias("node"))
        .distinct()
        .localCheckpoint()
    )
    h3 = (
        h2.join(e, h2.node == e.s1)
        .select("seed", F.col("s2").alias("node"))
        .distinct()
    )
    r = (
        h1.withColumn("hops", F.lit(1))
        .unionAll(h2.withColumn("hops", F.lit(2)))
        .unionAll(h3.withColumn("hops", F.lit(3)))
    )
    best = (
        r.filter(F.col("node") != F.col("seed"))
        .groupBy("seed", "node")
        .agg(F.min("hops").cast("int").alias("min_hops"))
    )
    out = best.groupBy("seed", "min_hops").agg(
        F.count(F.lit(1)).cast("long").alias("n_reachable")
    )
    return out


@_q(
    "graph_degree_assortativity",
    f"""
    WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b0')},
    e AS (
      SELECT x.l_partkey AS p1, y.l_partkey AS p2
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                       AND x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
      HAVING count(*) >= 2),
    d AS (
      SELECT node, CAST(count(*) AS BIGINT) AS deg
      FROM (SELECT p1 AS node FROM e UNION ALL SELECT p2 FROM e)
      GROUP BY node),
    o AS (SELECT p1 AS u, p2 AS v FROM e
          UNION ALL SELECT p2, p1 FROM e),
    j AS (
      SELECT du.deg AS dx, dv.deg AS dy
      FROM o JOIN d du ON du.node = o.u JOIN d dv ON dv.node = o.v),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS np,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dy) AS BIGINT) AS sy,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dy * dy) AS BIGINT) AS syy,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy
      FROM j)
    SELECT CAST(np // 2 AS BIGINT) AS n_edges, sx AS sum_deg, sxx AS sum_deg_sq, sxy AS sum_dxdy,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0
                THEN CAST(np * sxy - sx * sy AS DOUBLE)
                     / sqrt(CAST(np * sxx - sx * sx AS DOUBLE)
                            * CAST(np * syy - sy * sy AS DOUBLE))
                ELSE CAST(0.0 AS DOUBLE) END AS assortativity
    FROM m
    """,
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase part graph: the Pearson
    correlation of endpoint degrees over all edge ends.

    Scale shape: the bounded co-purchase edge build (keyed self-join on
    order, behind the hot-basket guard graph.cap_baskets), a node-keyed
    degree count, two degree lookups keyed by endpoint, and a single scalar
    aggregate with map-side partials."""
    b = _capped_baskets(spark, sf_dir, "l_partkey")
    # checkpointed: the degree table reads both endpoint columns and the
    # oriented list reads both directions — four scans of the edge list
    e = (
        b.join(
            b.select(
                F.col("l_orderkey").alias("_o"),
                F.col("l_partkey").alias("p2"),
            ),
            (F.col("l_orderkey") == F.col("_o"))
            & (F.col("l_partkey") < F.col("p2")),
        )
        .groupBy(F.col("l_partkey").alias("p1"), "p2")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
        .select("p1", "p2")
        .localCheckpoint()
    )
    d = (
        e.select(F.col("p1").alias("node"))
        .unionAll(e.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    o = e.select(F.col("p1").alias("u"), F.col("p2").alias("v")).unionAll(
        e.select(F.col("p2").alias("u"), F.col("p1").alias("v"))
    )
    j = (
        o.join(
            d.select(F.col("node").alias("_u"), F.col("deg").alias("dx")),
            F.col("u") == F.col("_u"),
        )
        .join(
            d.select(F.col("node").alias("_v"), F.col("deg").alias("dy")),
            F.col("v") == F.col("_v"),
        )
        .select("dx", "dy")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
    )
    vx = F.col("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("np") * F.col("syy") - F.col("sy") * F.col("sy")
    out = m.select(
        (F.col("np") / 2).cast("long").alias("n_edges"),
        F.col("sx").alias("sum_deg"),
        F.col("sxx").alias("sum_deg_sq"),
        F.col("sxy").alias("sum_dxdy"),
        F.when(
            (vx > 0) & (vy > 0),
            (F.col("np") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.sqrt(vx.cast("double") * vy.cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )
    return out


def _kcore_sql() -> str:
    """DuckDB replay of the converged k-core peel: each recursion row
    carries the whole alive set as one sorted LIST, each iteration
    recomputes it from the previous row's list, and UNION-dedup stops the
    recursion when the list repeats. The final core is the shortest list,
    with degrees recomputed within it, matching ``graph.kcore``'s converged
    contract."""
    k = 3
    return f"""
    WITH RECURSIVE b00 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b00')},
    e0 AS (
      SELECT x.l_partkey AS p1, y.l_partkey AS p2
      FROM b x JOIN b y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey),
    sym AS MATERIALIZED (
      SELECT p1 AS u, p2 AS v FROM e0
      UNION ALL SELECT p2 AS u, p1 AS v FROM e0),
    peel(alive) AS (
      SELECT list(DISTINCT u ORDER BY u) AS alive FROM sym
      UNION
      SELECT COALESCE(list(p ORDER BY p), []) AS alive FROM (
        SELECT s.u AS p
        FROM sym s
        JOIN (SELECT unnest(alive) AS p FROM (SELECT alive FROM peel)) a
          ON a.p = s.u
        JOIN (SELECT unnest(alive) AS p FROM (SELECT alive FROM peel)) c
          ON c.p = s.v
        GROUP BY s.u
        HAVING count(*) >= {k})),
    core AS (
      SELECT unnest(alive) AS p
      FROM (SELECT alive FROM peel ORDER BY len(alive) ASC LIMIT 1))
    SELECT s.u AS p_partkey, CAST(count(*) AS BIGINT) AS core_degree,
           TRUE AS converged
    FROM sym s
    JOIN core a ON a.p = s.u
    JOIN core c ON c.p = s.v
    GROUP BY s.u
    """


@_q("graph_kcore_parts", _kcore_sql())
def graph_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph: repeatedly delete parts with
    fewer than 3 surviving co-purchase partners until the remainder is
    stable.

    Scale shape: the checkpointed capped basket table (``_capped_baskets``),
    then one of two peels with the same rows and schema. Below the dense
    basket gates (``graph.DENSE_TRIANGLE_MAX_EDGES`` against the lineitem
    footer row count and the collected pair count,
    ``DENSE_TRIANGLE_MAX_NODES`` against the collected part count) the peel
    runs on the driver (graph.kcore_driver_dense_from_baskets): one collect
    of the basket rows, the within-basket pairs built and deduped in numpy,
    an O(E) peel on a CSR degree vector. Above them, kcore() peels
    distributed: one order-keyed pair self-join over the basket table, a
    (node, alive-degree) state table, and per round only the edges incident
    to the doomed frontier (degree < k) are re-counted via a broadcast, O(E)
    decrement work in all. Every shuffle is keyed on part ids, no cartesian;
    nothing is left cached. See SCALE_BENCH §20."""
    b = _capped_baskets(spark, sf_dir, "l_partkey")
    # both peels run eagerly, so stats is final once one returns
    stats: dict = {}
    dense = kcore_driver_dense_from_baskets(b, lineitem_row_count(sf_dir), stats)
    if dense is not None:
        node_t = b.schema["l_partkey"].dataType.simpleString()
        core = spark.createDataFrame(dense, f"node {node_t}, core_degree long")
    else:
        x = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
        y = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
        core = kcore(x.join(y, "l_orderkey").filter(F.col("p1") < F.col("p2")), stats)
    return core.select(
        F.col("node").alias("p_partkey"),
        "core_degree",
        F.lit(bool(stats["converged"])).alias("converged"),
    )


@_q(
    "graph_jaccard_link_prediction",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql(n_tables=12)}),
    sym AS (SELECT id_a AS id, id_b AS nb FROM pairs
            UNION ALL SELECT id_b AS id, id_a AS nb FROM pairs),
    deg AS (SELECT id, count(*) AS d FROM sym GROUP BY id),
    cn AS (
      SELECT s1.id AS id_a, s2.id AS id_b, count(*) AS common
      FROM sym s1 JOIN sym s2
        ON s1.nb = s2.nb AND s1.id < s2.id
      GROUP BY s1.id, s2.id),
    nonedge AS (
      SELECT cn.* FROM cn
      LEFT JOIN pairs p ON p.id_a = cn.id_a AND p.id_b = cn.id_b
      WHERE p.id_a IS NULL),
    scored AS (
      SELECT n.id_a, n.id_b, n.common,
             n.common * 1000000 // (da.d + db.d - n.common) AS jaccard_micro
      FROM nonedge n
      JOIN deg da ON da.id = n.id_a
      JOIN deg db ON db.id = n.id_b)
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(common AS BIGINT) AS common,
           CAST(jaccard_micro AS BIGINT) AS jaccard_micro
    FROM scored
    ORDER BY jaccard_micro DESC, id_a, id_b
    LIMIT 50
    """,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the LSH near-dup graph: for every
    non-adjacent pair with a shared neighbour, |N(a) n N(b)| / |N(a) u N(b)|
    in integer micro-units, top 50 with an id tie-break.

    Scale shape: the LSH pair plan, one wedge self-join keyed by the shared
    neighbour (per-key fan-out deg^2), one anti-join against the edge set,
    two degree joins, and a GlobalLimit-bounded top-k. No cartesian, no
    window."""
    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint the pair list: it feeds FIVE plan branches (both wedge
    # legs, the degree table, and the anti-join), and unmaterialized the
    # whole LSH verify pipeline re-executes per branch
    pairs = (
        V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    sym = pairs.select(F.col("id_a").alias("id"), F.col("id_b").alias("nb")).unionAll(
        pairs.select(F.col("id_b").alias("id"), F.col("id_a").alias("nb"))
    )
    deg = sym.groupBy("id").agg(F.count(F.lit(1)).alias("d"))
    s1 = sym.select(F.col("id").alias("id_a"), "nb")
    s2 = sym.select(F.col("id").alias("id_b"), "nb")
    cn = (
        s1.join(s2, "nb")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nonedge = cn.join(pairs, ["id_a", "id_b"], "left_anti")
    scored = (
        nonedge.join(deg.select(F.col("id").alias("id_a"), F.col("d").alias("da")), "id_a")
        .join(deg.select(F.col("id").alias("id_b"), F.col("d").alias("db")), "id_b")
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("common").cast("long").alias("common"),
            F.expr("common * 1000000 DIV (da + db - common)")
            .cast("long")
            .alias("jaccard_micro"),
        )
    )
    out = scored.orderBy(
        F.col("jaccard_micro").desc(), "id_a", "id_b"
    ).limit(50)
    return out


def _markov_absorption_sql() -> str:
    """DuckDB replay of the fixed-point absorption iteration: p_k(s) =
    (sum_t c(s,t) * q_{k-1}(t)) DIV c_s with q(purchase) = 1e6, unrolled
    into one non-recursive query."""
    n_iter = 8
    ctes = [
        """
    e AS (SELECT user_id, ts, event_id, event_type FROM events),
    sq AS (SELECT event_type AS t,
                  lag(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS s
           FROM e),
    m AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c
          FROM sq WHERE s IS NOT NULL AND s <> 'purchase' GROUP BY s, t),
    cs AS (SELECT s, SUM(c) AS cs FROM m GROUP BY s),
    p0 AS (SELECT s AS state, CAST(0 AS BIGINT) AS p FROM cs)"""
    ]
    for k in range(1, n_iter + 1):
        ctes.append(f"""
    p{k} AS (
      SELECT m.s AS state,
             SUM(m.c * (CASE WHEN m.t = 'purchase' THEN 1000000
                             ELSE COALESCE(p{k - 1}.p, 0) END)) // cs.cs AS p
      FROM m JOIN cs ON cs.s = m.s
      LEFT JOIN p{k - 1} ON p{k - 1}.state = m.t
      GROUP BY m.s, cs.cs)""")
    return (
        "WITH" + ",".join(ctes) + f"""
    SELECT p{n_iter}.state AS state, CAST(cs.cs AS BIGINT) AS n_out,
           CAST(p{n_iter}.p AS BIGINT) AS p_absorb_micro
    FROM p{n_iter} JOIN cs ON cs.s = p{n_iter}.state
    """
    )


@_q("markov_absorption_to_purchase", _markov_absorption_sql())
def markov_absorption_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing Markov chain: per state, the probability that a journey
    reaches 'purchase' within 8 steps, from the empirical transition matrix
    with purchase absorbing.

    Scale shape (100 TB): ONE corpus-sized pass builds the transition counts
    (keyed lag window per user + a |types|^2 aggregate — the same shape as
    [[events_markov_transitions]]); the 8 iterations then run on the
    METADATA-sized matrix (joins over <= |types|^2 rows), so iteration cost
    is independent of corpus size."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sq = ev.select(
        F.col("event_type").alias("t"),
        F.lag("event_type").over(w).alias("s"),
    )
    m = (
        sq.filter(F.col("s").isNotNull() & (F.col("s") != "purchase"))
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # the 8 fixed-point iterations run over the METADATA-sized transition
    # matrix (<= |types|^2 rows — the Bradley-Terry-grid collect
    # precedent), so iterate in exact Python integers on the driver
    # instead of 8 chained join stages whose per-stage scheduling latency
    # dwarfed their 25-row compute.  Same integer arithmetic: c * q
    # summed per source, floor-divided by the row sum (Python // == SQL
    # DIV for the non-negative integers here).
    trans = [(r["s"], r["t"], r["c"]) for r in m.collect()]
    cs_map: dict = {}
    for s_, _, c_ in trans:
        cs_map[s_] = cs_map.get(s_, 0) + c_
    p_map = {s_: 0 for s_ in cs_map}
    for _ in range(8):
        new_p = {}
        for s_ in cs_map:
            num = 0
            for ss, t_, c_ in trans:
                if ss == s_:
                    q = 1_000_000 if t_ == "purchase" else p_map.get(t_, 0)
                    num += c_ * q
            new_p[s_] = num // cs_map[s_]
        p_map = new_p
    rows = [
        (s_, int(cs_map[s_]), int(p_map[s_])) for s_ in sorted(cs_map)
    ]
    return spark.createDataFrame(
        rows, "state string, n_out long, p_absorb_micro long"
    )


@_q(
    "graph_clustering_coefficient",
    f"""
    {_PART_TRIANGLES_SQL},
    tc AS (
      SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
        SELECT x AS node FROM tri
        UNION ALL SELECT y AS node FROM tri
        UNION ALL SELECT z AS node FROM tri)
      GROUP BY node)
    SELECT CAST(deg.node AS BIGINT) AS node, deg.d AS deg,
           CAST(COALESCE(tc.triangles, 0) AS BIGINT) AS triangles,
           CAST(2 * COALESCE(tc.triangles, 0) AS DOUBLE)
             / CAST(deg.d * (deg.d - 1) AS DOUBLE) AS clustering_coeff
    FROM deg LEFT JOIN tc ON tc.node = deg.node
    WHERE deg.d >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the co-purchase graph: C(v)
    = 2*tri(v) / (deg(v)*(deg(v)-1)), over the capped edge source of
    [[graph_triangle_counts]].

    Scale shape: the triangle core's degree orientation bounds wedge fan-out
    at O(sqrt(m)) per key; the coefficient adds one node-keyed left join
    against the degree table."""
    e = _part_edges(spark, sf_dir).localCheckpoint()
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("bb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    tc = triangle_counts(e, "a", "bb").withColumnRenamed("triangles", "_t")
    tri = F.coalesce(F.col("_t"), F.lit(0)).cast("long")
    out = (
        deg.filter(F.col("deg") >= 2)
        .join(tc.withColumnRenamed("node", "_n"), F.col("_n") == F.col("node"), "left")
        .select(
            F.col("node").cast("long").alias("node"),
            "deg",
            tri.alias("triangles"),
            (
                (2 * tri).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double")
            ).alias("clustering_coeff"),
        )
    )
    return out


@_q(
    "basket_rules_confidence",
    f"""
    WITH b0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b0')},
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
    item AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY l_partkey),
    pair AS (
      SELECT x.l_partkey AS ante, y.l_partkey AS cons, CAST(count(*) AS BIGINT) AS co
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                       AND x.l_partkey <> y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
      HAVING count(*) >= 3)
    SELECT CAST(p.ante AS BIGINT) AS ante, CAST(p.cons AS BIGINT) AS cons,
           p.co,
           CAST(p.co AS DOUBLE) / CAST(ia.cnt AS DOUBLE) AS confidence,
           (CAST(n.n_orders AS DOUBLE) - CAST(ic.cnt AS DOUBLE))
             / CAST(n.n_orders AS DOUBLE)
             / (1.0 - CAST(p.co AS DOUBLE) / CAST(ia.cnt AS DOUBLE)) AS conviction
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.ante
    JOIN item ic ON ic.l_partkey = p.cons
    CROSS JOIN n
    WHERE CAST(p.co AS DOUBLE) / CAST(ia.cnt AS DOUBLE) < 1.0
    """,
)
def basket_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed association rules: confidence(A->B) = co/cnt(A) and
    conviction(A->B) = (1 - supp(B)) / (1 - conf(A->B)) for every ordered
    co-purchase pair above the support floor.

    Scale shape: identical to the lift query — capped basket distinct,
    ordered-pair aggregate with the support floor IN the aggregate,
    broadcast item counts, two fixed float expressions."""

    b = _capped_baskets(spark, sf_dir, "l_partkey")
    n = b.agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    x = b.select("l_orderkey", F.col("l_partkey").alias("ante"))
    y = b.select("l_orderkey", F.col("l_partkey").alias("cons"))
    pair = (
        x.join(y, "l_orderkey")
        .filter(F.col("ante") != F.col("cons"))
        .groupBy("ante", "cons")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("ante"), F.col("cnt").alias("ca"))
    ic = item.select(F.col("l_partkey").alias("cons"), F.col("cnt").alias("cc"))
    conf = F.col("co").cast("double") / F.col("ca").cast("double")
    conv = (
        (F.col("n_orders").cast("double") - F.col("cc").cast("double"))
        / F.col("n_orders").cast("double")
        / (1.0 - conf)
    )
    out = (
        pair.join(F.broadcast(ia), "ante")
        .join(F.broadcast(ic), "cons")
        .join(F.broadcast(n))
        .filter(conf < 1.0)
        .select(
            F.col("ante").cast("long").alias("ante"),
            F.col("cons").cast("long").alias("cons"),
            "co",
            conf.alias("confidence"),
            conv.alias("conviction"),
        )
    )
    return out
