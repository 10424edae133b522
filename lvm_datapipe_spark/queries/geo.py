"""Geospatial queries over customer and supplier points: grid density,
radius neighbours, DBSCAN, quadkeys and nearest suppliers."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators.graph import connected_components
from lvm_datapipe_spark.operators.sampling import hash_bucket
from lvm_datapipe_spark.queries._shared import _closure_sql, _dsum, _q


#: fixed-point synthetic coordinate in [0, 1e6): first 8 md5 hex chars of
#: (salt || key) mod 1e6 — the repo's hash_bucket idiom, so both engines
#: derive identical integer coordinates and every distance below is EXACT
#: integer math (no libm trig, no float drift).
def _geo_sql(key: str, salt: str) -> str:
    return (
        f"(('0x' || substr(md5('{salt}' || {key}), 1, 8))::BIGINT % 1000000)"
    )


def _geo_col(key: str, salt: str):
    return hash_bucket(key, 1_000_000, salt)


@_q(
    "geo_grid_density",
    f"""
    WITH p AS (SELECT {_geo_sql('c_custkey', 'geox')} AS x,
                      {_geo_sql('c_custkey', 'geoy')} AS y,
                      c_acctbal
               FROM customer),
    g AS (SELECT x // 100000 AS cell_x, y // 100000 AS cell_y,
                 CAST(count(*) AS BIGINT) AS n_points,
                 {_dsum('c_acctbal')} AS sum_acctbal
          FROM p GROUP BY 1, 2),
    tot AS (SELECT SUM(n_points) AS n FROM g)
    SELECT cell_x, cell_y, n_points, sum_acctbal,
           CAST(n_points * 1000000 // tot.n AS BIGINT) AS density_ppm
    FROM g CROSS JOIN tot
    """,
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial grid density: customers at deterministic md5-derived
    fixed-point coordinates aggregated into a 10x10 grid (cell side 100,000
    micro-units), with per-cell population, exact decimal balance mass and
    density share in ppm.

    Scale shape: one scan, one keyed aggregate bounded by the grid size, one
    broadcast scalar for the share."""
    cust = load_table(spark, sf_dir, "customer")
    p = cust.select(
        _geo_col("c_custkey", "geox").alias("x"),
        _geo_col("c_custkey", "geoy").alias("y"),
        "c_acctbal",
    )
    g = (
        p.select(
            F.expr("x DIV 100000").alias("cell_x"),
            F.expr("y DIV 100000").alias("cell_y"),
            "c_acctbal",
        )
        .groupBy("cell_x", "cell_y")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum(F.col("c_acctbal").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_acctbal"),
        )
    )
    tot = g.agg(F.sum("n_points").alias("n"))
    return g.crossJoin(F.broadcast(tot)).select(
        "cell_x",
        "cell_y",
        "n_points",
        "sum_acctbal",
        F.expr("n_points * 1000000 DIV n").alias("density_ppm"),
    )


#: radius of the customer-location radius joins, and the side of their
#: grid cells: a point's partners within it lie in its own or one of the 8
#: adjacent cells
_GEO_R = 50_000


def _grid_probe(pts: DataFrame, key: str) -> DataFrame:
    """``(key, x, y, jcx, jcy)``: each point of ``pts`` (``key, x, y`` and
    its cell ``cx, cy``) once per cell ``(jcx, jcy)`` of its 3x3 grid
    neighbourhood, the probe side of a grid radius equi-join."""
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    return pts.select(
        key, "x", "y", F.explode(offsets).alias("o"), "cx", "cy"
    ).select(
        key,
        "x",
        "y",
        (F.col("cx") + F.col("o.dx")).alias("jcx"),
        (F.col("cy") + F.col("o.dy")).alias("jcy"),
    )


def _customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(id, x, y, cx, cy)``: each customer's hashed location and its
    ``_GEO_R`` grid cell."""
    r = _GEO_R
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        F.col("c_custkey").alias("id"),
        _geo_col("c_custkey", "geox").alias("x"),
        _geo_col("c_custkey", "geoy").alias("y"),
    ).select(
        "id",
        "x",
        "y",
        F.expr(f"x DIV {r}").alias("cx"),
        F.expr(f"y DIV {r}").alias("cy"),
    )


def _geo_d2() -> F.Column:
    """Exact integer squared distance between a probe point ``(x, y)`` and
    a build point ``(bx, by)``."""
    return (F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx")) + (
        F.col("y") - F.col("by")
    ) * (F.col("y") - F.col("by"))


def _customer_neighbours(pts: DataFrame) -> DataFrame:
    """Every ordered pair of distinct :func:`_customer_points` within
    ``_GEO_R`` of each other: ``id, x, y`` and the partner ``nb, bx, by``.
    Scale shape: the 3x3 grid cell equi-join and an exact verify; no
    cartesian."""
    r = _GEO_R
    build = pts.select(
        F.col("id").alias("nb"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("cx").alias("jcx"),
        F.col("cy").alias("jcy"),
    )
    return (
        _grid_probe(pts, "id")
        .join(build, ["jcx", "jcy"])
        .filter(F.col("id") != F.col("nb"))
        .filter(_geo_d2() <= r * r)
    )


@_q(
    "geo_grid_radius_nn",
    f"""
    WITH p AS (SELECT c_custkey AS id,
                      {_geo_sql('c_custkey', 'geox')} AS x,
                      {_geo_sql('c_custkey', 'geoy')} AS y
               FROM customer),
    d AS (SELECT a.id AS id, b.id AS nb,
                 (a.x - b.x) * (a.x - b.x)
                 + (a.y - b.y) * (a.y - b.y) AS d2
          FROM p a JOIN p b ON a.id <> b.id
          WHERE (a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) <= 2500000000),
    m AS (SELECT id, min(d2) AS nn_dist2 FROM d GROUP BY id)
    SELECT d.id AS c_custkey,
           CAST(min(d.nb) AS BIGINT) AS nn_custkey,
           CAST(m.nn_dist2 AS BIGINT) AS nn_dist2
    FROM d JOIN m ON d.id = m.id AND d.d2 = m.nn_dist2
    GROUP BY d.id, m.nn_dist2
    """,
)
def geo_grid_radius_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-bounded nearest neighbour by grid bucketing: for every
    customer point, the nearest other customer within R = 50,000 (smallest
    neighbour id breaks ties; points with none inside R are absent).

    Scale shape: candidate volume is n * (9 * points-per-cell), linear for
    any density-bounded corpus; one keyed shuffle for the join, one keyed
    aggregate for the min; no cartesian."""
    cand = _customer_neighbours(_customer_points(spark, sf_dir)).select(
        "id", "nb", _geo_d2().alias("d2")
    )
    nn = cand.groupBy("id").agg(
        F.min(F.struct(F.col("d2").alias("d2"), F.col("nb").alias("nb"))).alias(
            "m"
        )
    )
    return nn.select(
        F.col("id").alias("c_custkey"),
        F.col("m.nb").alias("nn_custkey"),
        F.col("m.d2").alias("nn_dist2"),
    )


@_q(
    "geo_colocation_quotient",
    f"""
    WITH c AS (SELECT {_geo_sql('c_custkey', 'geox')} // 100000 AS cell_x,
                      {_geo_sql('c_custkey', 'geoy')} // 100000 AS cell_y,
                      count(*) AS nc
               FROM customer GROUP BY 1, 2),
    s AS (SELECT {_geo_sql('s_suppkey', 'sgeox')} // 100000 AS cell_x,
                 {_geo_sql('s_suppkey', 'sgeoy')} // 100000 AS cell_y,
                 count(*) AS ns
          FROM supplier GROUP BY 1, 2),
    j AS (SELECT COALESCE(c.cell_x, s.cell_x) AS cell_x,
                 COALESCE(c.cell_y, s.cell_y) AS cell_y,
                 COALESCE(c.nc, 0) AS nc, COALESCE(s.ns, 0) AS ns
          FROM c FULL OUTER JOIN s
            ON c.cell_x = s.cell_x AND c.cell_y = s.cell_y),
    tot AS (SELECT SUM(nc) AS tc, SUM(ns) AS ts FROM j)
    SELECT cell_x, cell_y,
           CAST(nc AS BIGINT) AS n_cust, CAST(ns AS BIGINT) AS n_supp,
           CASE WHEN nc > 0 AND tot.ts > 0
                THEN CAST(ns * tot.tc * 1000000 // (nc * tot.ts) AS BIGINT)
           END AS clq_micro
    FROM j CROSS JOIN tot
    """,
)
def geo_colocation_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-location quotient per grid cell: CLQ = (ns/nc) / (TS/TC) in
    micro-units, how over- or under-represented suppliers are relative to
    customers.

    Scale shape: two independent scans each collapsing to a <= #cells keyed
    aggregate, one tiny full-outer join on the cell id, one broadcast scalar
    pair; all integer arithmetic (micro-quantized quotient) so the oracle is
    bit-exact."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = (
        cust.select(
            _geo_col("c_custkey", "geox").alias("x"),
            _geo_col("c_custkey", "geoy").alias("y"),
        )
        .select(
            F.expr("x DIV 100000").alias("cell_x"),
            F.expr("y DIV 100000").alias("cell_y"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    s = (
        supp.select(
            _geo_col("s_suppkey", "sgeox").alias("x"),
            _geo_col("s_suppkey", "sgeoy").alias("y"),
        )
        .select(
            F.expr("x DIV 100000").alias("cell_x"),
            F.expr("y DIV 100000").alias("cell_y"),
        )
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    j = (
        c.join(s, ["cell_x", "cell_y"], "full_outer")
        .select(
            "cell_x",
            "cell_y",
            F.coalesce("nc", F.lit(0)).alias("nc"),
            F.coalesce("ns", F.lit(0)).alias("ns"),
        )
    )
    tot = j.agg(F.sum("nc").alias("tc"), F.sum("ns").alias("ts"))
    return j.crossJoin(F.broadcast(tot)).select(
        "cell_x",
        "cell_y",
        F.col("nc").cast("long").alias("n_cust"),
        F.col("ns").cast("long").alias("n_supp"),
        F.when(
            (F.col("nc") > 0) & (F.col("ts") > 0),
            F.expr("ns * tc * 1000000 DIV (nc * ts)"),
        ).alias("clq_micro"),
    )


@_q(
    "geo_dbscan_core_points",
    f"""
    WITH p AS (SELECT c_custkey AS id,
                      {_geo_sql('c_custkey', 'geox')} AS x,
                      {_geo_sql('c_custkey', 'geoy')} AS y
               FROM customer),
    d AS (SELECT a.id AS id, count(*) AS n_neighbors
          FROM p a JOIN p b ON a.id <> b.id
          WHERE (a.x - b.x) * (a.x - b.x)
                + (a.y - b.y) * (a.y - b.y) <= 2500000000
          GROUP BY a.id)
    SELECT id AS c_custkey,
           CAST(n_neighbors AS BIGINT) AS n_neighbors,
           CAST(CASE WHEN n_neighbors >= 4 THEN 1 ELSE 0 END AS BIGINT)
             AS is_core
    FROM d
    """,
)
def geo_dbscan_core_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN CORE-POINT IDENTIFICATION (eps = 50,000, minPts = 4) on the
    grid — the first and dominant stage of distributed DBSCAN: a point is
    CORE iff at least minPts other points lie within eps.

    Scale shape: linear candidate volume for density-bounded data, one keyed
    shuffle + one keyed aggregate; no cartesian."""
    return (
        _customer_neighbours(_customer_points(spark, sf_dir))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_neighbors"))
        .select(
            F.col("id").alias("c_custkey"),
            F.col("n_neighbors").cast("long").alias("n_neighbors"),
            F.when(F.col("n_neighbors") >= 4, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_core"),
        )
    )


@_q(
    "geo_quadkey_pyramid",
    f"""
    WITH p AS (SELECT {_geo_sql('c_custkey', 'geox')} AS x,
                      {_geo_sql('c_custkey', 'geoy')} AS y
               FROM customer),
    z AS (SELECT unnest([1, 2, 3, 4]) AS zoom),
    g AS (SELECT z.zoom,
                 p.x // (1000000 // (1 << z.zoom)) AS qx,
                 p.y // (1000000 // (1 << z.zoom)) AS qy
          FROM p CROSS JOIN z),
    tot AS (SELECT count(*) AS n FROM p)
    SELECT CAST(zoom AS BIGINT) AS zoom,
           CAST(qx AS BIGINT) AS qx, CAST(qy AS BIGINT) AS qy,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(count(*) * 1000000 // tot.n AS BIGINT) AS share_ppm
    FROM g CROSS JOIN tot
    GROUP BY zoom, qx, qy, tot.n
    """,
)
def geo_quadkey_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid aggregation: point counts at zoom levels 1-4 in one
    result, each cell's parent being (qx DIV 2, qy DIV 2).

    Scale shape: one scan fanned out x4 (literal zoom array explode — the
    Expand-style multi-grouping trick), ONE keyed aggregate bounded by the
    tile count, one broadcast scalar for the shares. All integer."""
    cust = load_table(spark, sf_dir, "customer")
    p = cust.select(
        _geo_col("c_custkey", "geox").alias("x"),
        _geo_col("c_custkey", "geoy").alias("y"),
    )
    g = p.select(
        "x", "y", F.explode(F.array(*[F.lit(z) for z in (1, 2, 3, 4)])).alias("zoom")
    ).select(
        F.col("zoom").cast("long").alias("zoom"),
        F.expr("x DIV (1000000 DIV shiftleft(1, CAST(zoom AS INT)))").alias("qx"),
        F.expr("y DIV (1000000 DIV shiftleft(1, CAST(zoom AS INT)))").alias("qy"),
    )
    tot = p.agg(F.count(F.lit(1)).alias("n"))
    return (
        g.groupBy("zoom", "qx", "qy")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"))
        .crossJoin(F.broadcast(tot))
        .select(
            "zoom",
            "qx",
            "qy",
            "n_points",
            F.expr("n_points * 1000000 DIV n").alias("share_ppm"),
        )
    )


@_q(
    "geo_bipartite_nearest_supplier",
    f"""
    WITH c AS (SELECT c_custkey AS cid,
                      {_geo_sql('c_custkey', 'geox')} AS x,
                      {_geo_sql('c_custkey', 'geoy')} AS y
               FROM customer),
    s AS (SELECT s_suppkey AS sid,
                 {_geo_sql('s_suppkey', 'sgeox')} AS x,
                 {_geo_sql('s_suppkey', 'sgeoy')} AS y
          FROM supplier),
    d AS (SELECT c.cid, s.sid,
                 (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y) AS d2
          FROM c JOIN s
            ON (c.x - s.x) * (c.x - s.x)
               + (c.y - s.y) * (c.y - s.y) <= 2500000000),
    m AS (SELECT cid, min(d2) AS nn_dist2 FROM d GROUP BY cid)
    SELECT d.cid AS c_custkey,
           CAST(min(d.sid) AS BIGINT) AS nn_suppkey,
           CAST(m.nn_dist2 AS BIGINT) AS nn_dist2
    FROM d JOIN m ON d.cid = m.cid AND d.d2 = m.nn_dist2
    GROUP BY d.cid, m.nn_dist2
    """,
)
def geo_bipartite_nearest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite radius join: the nearest supplier within R = 50,000 of each
    customer; customers with none inside R are absent.

    Scale shape: probe fan-out x9, one cell equi-join (small side
    broadcastable), exact integer verify, one keyed min."""
    r = _GEO_R
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    c = cust.select(
        F.col("c_custkey").alias("cid"),
        _geo_col("c_custkey", "geox").alias("x"),
        _geo_col("c_custkey", "geoy").alias("y"),
    ).select(
        "cid",
        "x",
        "y",
        F.expr(f"x DIV {r}").alias("cx"),
        F.expr(f"y DIV {r}").alias("cy"),
    )
    s = supp.select(
        F.col("s_suppkey").alias("sid"),
        _geo_col("s_suppkey", "sgeox").alias("sx"),
        _geo_col("s_suppkey", "sgeoy").alias("sy"),
    ).select(
        "sid",
        "sx",
        "sy",
        F.expr(f"sx DIV {r}").alias("jcx"),
        F.expr(f"sy DIV {r}").alias("jcy"),
    )
    probe = _grid_probe(c, "cid")
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    cand = (
        probe.join(s, ["jcx", "jcy"])
        .select("cid", "sid", d2.alias("d2"))
        .filter(F.col("d2") <= r * r)
    )
    nn = cand.groupBy("cid").agg(
        F.min(F.struct(F.col("d2").alias("d2"), F.col("sid").alias("sid"))).alias("m")
    )
    return nn.select(
        F.col("cid").alias("c_custkey"),
        F.col("m.sid").alias("nn_suppkey"),
        F.col("m.d2").alias("nn_dist2"),
    )


@_q(
    "geo_dbscan_clusters",
    f"""
    WITH p AS (
      SELECT c_custkey AS id,
             {_geo_sql('c_custkey', 'geox')} AS x,
             {_geo_sql('c_custkey', 'geoy')} AS y
      FROM customer),
    nb AS (
      SELECT a.id AS id, b.id AS nb
      FROM p a JOIN p b ON a.id <> b.id
      WHERE (a.x - b.x) * (a.x - b.x)
            + (a.y - b.y) * (a.y - b.y) <= 2500000000),
    dg AS (SELECT id, count(*) AS n FROM nb GROUP BY id),
    core AS (SELECT id FROM dg WHERE n >= 4),
    ce AS (
      SELECT nb.id AS u, nb.nb AS w FROM nb
      JOIN core ca ON ca.id = nb.id
      JOIN core cb ON cb.id = nb.nb),
    lab AS ({_closure_sql("SELECT u AS id_a, w AS id_b FROM ce")}),
    corelab AS (
      SELECT c.id, COALESCE(l.cluster_id, c.id) AS cluster_id
      FROM core c LEFT JOIN lab l ON l.id = c.id),
    border AS (
      SELECT nb.id AS id, min(cl.cluster_id) AS cluster_id
      FROM nb JOIN corelab cl ON cl.id = nb.nb
      WHERE nb.id NOT IN (SELECT id FROM core)
      GROUP BY nb.id)
    SELECT CAST(id AS BIGINT) AS c_custkey,
           CAST(cluster_id AS BIGINT) AS cluster_id, 'core' AS role
    FROM corelab
    UNION ALL
    SELECT CAST(id AS BIGINT), CAST(cluster_id AS BIGINT), 'border'
    FROM border
    """,
)
def geo_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN cluster assignment (eps = 50,000, minPts = 4): core points
    from the grid neighbour count, core-core edges clustered by
    graph.connected_components, and border points assigned to the minimum
    adjacent core cluster.

    Scale shape: grid-bounded neighbor candidates (3x3 cell equi-join,
    linear for density-bounded data), one keyed count, a subcell
    pre-contraction, the O(log² n)-round CC contraction on the rep-rep edge
    list, then one keyed min-aggregate for borders. No cartesian anywhere;
    the oracle's brute-force O(n^2) join is the proof the grid candidates
    are complete."""
    pts = _customer_points(spark, sf_dir)
    nbj = _customer_neighbours(pts).select("id", "nb").localCheckpoint()
    core = (
        nbj.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 4)
        .select("id")
    )
    # GEOMETRIC pre-contraction (shrink the data before the iterative
    # algorithm): any two points in one subcell of side
    # s = floor(eps/√2) = 35355 are within eps of each other (max per-axis
    # delta s−1 ⇒ d² ≤ 2·35354² = 2,499,810,632 ≤ eps² = 2.5e9; the hash
    # coordinates are non-negative, so DIV is a true floor) — so CORE
    # points sharing a subcell are pairwise directly connected in the
    # core-core graph and provably one cluster.  Contract each subcell's
    # core points to their MIN id before CC: the rep graph is
    # subcell-count-sized, small enough for the CC engine's round-0
    # driver-finish gate.
    # Labels are exactly preserved: a component's global-min core id m is
    # its own subcell's rep (rep ≤ m and rep is core in m's subcell ⇒
    # rep = m by minimality), so component-min over rep ids == component-
    # min over core ids, and expansion is one (core → rep) join.  The
    # subcell identity comes from the METRIC and costs one cells-sized
    # groupBy (no full-edge aggregate over graph neighborhoods).
    # ce_rep stays symmetric (nbj emits both orientations via the
    # partner's cell; the rep map and ≠-filter are symmetric), so the
    # engine can still skip its symmetrize pass.
    sub = 35_355
    crep = (
        core.join(
            pts.select(
                "id",
                F.expr(f"x DIV {sub}").alias("sx"),
                F.expr(f"y DIV {sub}").alias("sy"),
            ),
            "id",
        )
    )
    rep = crep.groupBy("sx", "sy").agg(F.min("id").alias("rep"))
    crep = crep.join(rep, ["sx", "sy"]).select("id", "rep").localCheckpoint()
    ce_rep = (
        nbj.join(crep.select("id", F.col("rep").alias("ru")), "id")
        .join(
            crep.select(F.col("id").alias("nb"), F.col("rep").alias("rw")),
            "nb",
        )
        .filter(F.col("ru") != F.col("rw"))
        .select(F.col("ru").alias("u"), F.col("rw").alias("w"))
        .distinct()
    )
    cc = connected_components(
        ce_rep, src="u", dst="w", assume_symmetric=True
    )
    corelab = crep.join(
        cc.withColumnRenamed("id", "_i"), F.col("_i") == F.col("rep"), "left"
    ).select("id", F.coalesce("cluster_id", F.col("rep")).alias("cluster_id"))
    border = (
        nbj.join(core.withColumnRenamed("id", "_c"), F.col("_c") == F.col("id"), "left_anti")
        .join(
            corelab.select(
                F.col("id").alias("nb"), F.col("cluster_id").alias("_cl")
            ),
            "nb",
        )
        .groupBy("id")
        .agg(F.min("_cl").alias("cluster_id"))
    )
    out = corelab.select(
        F.col("id").cast("long").alias("c_custkey"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.lit("core").alias("role"),
    ).unionAll(
        border.select(
            F.col("id").cast("long").alias("c_custkey"),
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.lit("border").alias("role"),
        )
    )
    return out
