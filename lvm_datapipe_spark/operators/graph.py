"""Graph operators: connected components, k-core, PageRank, triangles.

Every dedup family in this engine (exact, MinHash/LSH, SimHash, n-gram
Jaccard, embedding cosine) emits PAIRS (id_a, id_b).  Turning pairs into
dedup decisions needs one more step: group transitively-connected documents
into clusters and pick one representative per cluster (the reference
pipeline stops at per-clip scores; cluster assignment is the extension a
100 TB training-data dedup actually ships — "keep one doc per cluster").

Connected components has ONE engine, :func:`connected_components`: the
alternating large-star/small-star contraction of Kiveris et al. 2014.
Contract: every node that appears in the pair list is labeled with the
minimum node id reachable from it — order-independent and deterministic,
so it is oracle-checkable against a recursive-CTE transitive closure.
Scale shape: O(log² n) rounds on any graph shape (chains AND hubs), each
round a few keyed shuffles over the shrinking parent-edge set with
``localCheckpoint`` lineage truncation, no cross product; once the
parent set fits a fixed collect bound the fixpoint finishes as one
driver union-find.  The engine history (min-label propagation, pointer
jumping and graph pre-contraction, each measured and retired) is in
SCALE_BENCH.md §16, §17 and §19.

k-core has ONE distributed engine, :func:`kcore`: the decremental peel
(SCALE_BENCH §18, §20 and §20b hold the retired recompute engine's
history).  Below the dense basket gates the same peel runs on the driver
from the collected basket table (:func:`kcore_driver_dense_from_baskets`,
SCALE_BENCH §21f) and returns the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def fresh_local_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` that also DROPS the carried Catalyst statistics.

    ``DataFrame.localCheckpoint`` truncates RDD lineage, but the resulting
    ``LogicalRDD`` leaf CARRIES the checkpointed plan's *estimated*
    ``Statistics`` (its ``originStats`` field — verified against the
    shipped spark-sql 4.1.2 jar).  In an iterative loop whose round joins
    TWO references of the previous round's checkpoint through plain
    boolean equi-joins, Catalyst's size-only join estimate MULTIPLIES the
    two carried ``sizeInBytes``, so the estimate's DIGIT COUNT DOUBLES
    per round: measured 9 → 19 → 41 → 83 → … digits (exact ×2/round) on a
    30-node path under :func:`kcore`'s round shape.  By round ~20 the
    driver spends its time in Toom-Cook BigInteger multiplication inside
    ``SizeInBytesOnlyStatsPlanVisitor`` (thread-dump-verified), and a
    long enough peel dies with ``ArithmeticException: BigInteger would
    overflow supported range`` — a pure DRIVER-side failure at kilobyte
    data sizes.  The other iterative loops here (the
    :func:`connected_components` contraction, pagerank) only grow the
    estimate ~linearly (~1 digit/round, measured) and don't need this.

    The fix: rebuild the frame from the checkpointed RDD WITHOUT
    ``originStats`` — ``internalCreateDataFrame`` (the same JVM entry
    point ``spark.createDataFrame`` uses) leaves the leaf's statistics at
    ``defaultSizeInBytes``, holding the estimate CONSTANT at 19-20 digits
    per round (measured; SCALE_BENCH §20).  The rebuilt frame loses
    partitioning/ordering metadata the plain checkpoint would have kept,
    so use it in loops that don't rely on co-partitioning of the loop
    state — every loop here re-shuffles or broadcasts the state anyway.
    """
    ck = df.localCheckpoint()
    jdf = ck._jdf
    spark = df.sparkSession
    fresh = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    return DataFrame(fresh, spark)


def observed_checkpoint(
    df: DataFrame, *metrics, fresh: bool = False
) -> tuple[DataFrame, dict]:
    """Eager local checkpoint of ``df`` and the metrics observed by the job
    that built it: ``n_rows`` plus any ``metrics`` (named aggregate
    columns), read from an ``Observation`` on the checkpoint job
    (plans.pipeline.observed_stage), so a size gate on the checkpoint
    costs no job of its own.  The observation reports on empty input
    (``n_rows`` 0).  Each call observes under its own name, so repeated
    and nested calls in one session never read each other's metrics.
    ``fresh=True`` checkpoints with :func:`fresh_local_checkpoint`."""
    import uuid

    from lvm_datapipe_spark.plans.pipeline import observed_stage

    staged, obs = observed_stage(df, f"checkpoint-{uuid.uuid4().hex}", *metrics)
    ck = fresh_local_checkpoint(staged) if fresh else staged.localCheckpoint()
    return ck, obs.get


def partitioned_local_checkpoint(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` that KEEPS ``df``'s hash partitioning.

    The ``LogicalRDD`` a checkpoint leaves reports the output partitioning
    of the plan that built it, but under AQE that plan is an
    ``AdaptiveSparkPlanExec``, which reports ``UnknownPartitioning``
    (measured on spark-sql 4.1.2): a join keyed on the partitioning
    column would then re-shuffle both sides of the checkpoint.  Planning
    the checkpoint job with AQE off keeps the ``hashpartitioning`` of a
    ``repartition(col)`` (at ``spark.sql.shuffle.partitions``), so a
    downstream join or aggregate keyed on that column plans no exchange
    over the checkpoint.  Only the checkpoint job runs without AQE;
    every plan that reads the checkpoint is adaptive as usual.  The
    switch is a session conf, so a query planned on the same session
    from another thread at that moment would also plan without AQE."""
    conf = df.sparkSession.conf
    key = "spark.sql.adaptive.enabled"
    old = conf.get(key)
    conf.set(key, "false")
    try:
        return df.localCheckpoint()
    finally:
        conf.set(key, old)


def cap_baskets(
    df: DataFrame,
    basket_col: str,
    max_basket_size: int = 64,
) -> DataFrame:
    """Drop baskets larger than ``max_basket_size`` items before a
    pairwise (item, item) self-join — the co-occurrence twin of
    ``dedup.ngram_jaccard_pairs``'s ``MAX_SHINGLE_FREQ`` stop-shingle
    guard.

    Every basket-pair build (triangles, k-core, lift/cosine/PMI edge
    sources) joins the (basket, item) table to itself on the basket key,
    so ONE pathological basket of B items contributes B²/2 joined rows:
    a single 10k-item basket is 50M rows on one shuffle key — a straggler
    no partitioning fixes.  A basket that large is also semantically
    boilerplate (a crawler cart, a batch import), the association-mining
    analog of a stop-shingle: its pairs carry ~no signal for lift or
    clustering but dominate the join.  The guard deletes those baskets
    up front, bounding per-key fan-out at ``max_basket_size``² while
    leaving every real basket untouched (declared-corpus baskets peak at
    ~17 distinct items, so capped == uncapped bit-exactly — the
    equivalence test in tests/test_basket_cap.py pins that).

    Scale shape: one ``count(*) OVER (PARTITION BY basket)`` window
    annotates every row with its basket's size, then a filter keeps rows
    at or under the cap.  On an input already hash-partitioned by the
    basket key (``_capped_baskets``) the window plans NO exchange and the
    output keeps that partitioning, so the downstream basket-keyed pair
    self-join still reads its big sides without a shuffle.  (An offender
    aggregate + left-anti join would read the input twice, and Catalyst
    pushes that anti join below the repartition, so the basket shuffle
    would run once per branch.)  Rows with a NULL basket key are kept,
    whatever their count, exactly as under the anti join (a NULL key
    never matches an offender).  Oracle mirror: ``HAVING count(*) > cap``
    + ``NOT IN`` — see ``queries._cap_baskets_sql``.
    """
    n = F.count(F.lit(1)).over(Window.partitionBy(basket_col))
    return (
        df.withColumn("_n", n)
        .filter(F.col(basket_col).isNull() | (F.col("_n") <= max_basket_size))
        .drop("_n")
    )


def dedup_keep_representatives(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """The end-to-end dedup decision over ``vec_id``: keep exactly one row
    per near-dup cluster (the minimum id — deterministic) plus every row
    that has no near-dup at all.  Clusters come from :func:`connected_components`;
    then one left join against the (small relative to the corpus)
    cluster table, where rows whose id is not a cluster member are kept
    by the null branch."""
    cc = connected_components(pairs, src="id_a", dst="id_b")
    return (
        df.join(cc.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .filter(F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("vec_id")))
        .drop("cluster_id")
    )


#: :func:`kcore` broadcasts each round's doomed frontier below this many
#: nodes (a per-round slice of the node set, almost always tiny); above
#: it the frontier joins are shuffled.
KCORE_BROADCAST_DOOMED_MAX = 2_000_000
#: peel rounds before kcore gives up on the fixpoint (a path graph peels
#: one layer per round)
KCORE_MAX_ROUNDS = 30


#: kcore's core order: a survivor keeps at least this many alive neighbors
KCORE_K = 3


def kcore(edges: DataFrame, stats: dict | None = None) -> DataFrame:
    """CONVERGED k-core peel (Seidman 1983) of a ``(p1, p2)`` edge list:
    repeatedly delete nodes with fewer than ``k = KCORE_K`` surviving
    neighbors until the alive set stabilizes,
    returning ``(node, core_degree)`` for the survivors (degree counted
    within the FINAL core — at the fixpoint every survivor's degree is
    ≥ k by construction).

    Decremental peel: the state is one ``(node, alive-degree)`` table,
    maintained exactly.  Each round removes the DOOMED frontier (alive
    degree < k) and subtracts, per surviving neighbor, the number of
    edges it lost to that frontier.  Only edges incident to the frontier
    are touched, so the decrement work summed over ALL rounds is O(E).
    Doomed sets are disjoint across rounds, so no edge is subtracted
    twice, and the maintained degree always equals the node's degree
    within the current alive set.  The fixpoint is observed the round
    the doomed frontier empties.

    Set-up: the symmetric edge list is built in ONE pass over ``edges``:
    a distinct over each edge's canonical orientation (E rows, not 2E),
    then both orientations emitted after that shuffle (a self-loop once),
    checkpointed eagerly with :func:`fresh_local_checkpoint`: every round
    reads it, and a ``.persist()``ed table read twice in one plan would
    re-run its cache stage per reference (ARCHITECTURE.md §3).  Duplicate
    and reversed input edges are harmless; the caller need not dedup.
    Edges with a NULL endpoint are dropped.

    Scale shape per round: one state checkpoint whose own job also counts
    the doomed frontier (an observed ``count_if(deg < k)``, see
    :func:`observed_checkpoint`: no count job), one frontier checkpoint
    (only when that count is non-zero), one frontier-keyed filter pass
    over the symmetric edge list (broadcast below
    ``KCORE_BROADCAST_DOOMED_MAX``), one small decrement aggregate and one
    anti/left join on the node-sized state — no cartesian, no
    driver-side graph.  The per-round truncation uses
    :func:`fresh_local_checkpoint`, NOT the plain ``localCheckpoint``:
    each round joins two references of the previous round's state, which
    would otherwise DOUBLE the carried Catalyst size estimate's digit
    count every round until the driver overflows near round ~25.  The
    measured history (the retired recompute engine, its alive-set
    broadcast gate, the carried-statistics bug) is SCALE_BENCH §18, §20
    and §20b.

    ``KCORE_MAX_ROUNDS`` bounds pathological peel chains.  If the bound trips BEFORE the fixpoint the
    result is NOT a true k-core (some survivors may still be peelable);
    the exit is never silent: ``stats['converged']`` is set False and a
    ``UserWarning`` is emitted.  The returned degrees are still exact
    within the final alive set, and only nodes with at least one alive
    neighbor are returned (``core_degree >= 1``; on a converged exit
    every degree is ≥ k anyway).  An empty state table is the fixpoint
    by definition, so a core that empties in the final round reads
    converged (its row count is observed on the same checkpoint job).
    ``stats`` (a dict, optional) receives ``rounds``,
    ``checks`` and ``converged``."""
    # one row per unordered edge: the distinct runs on the canonical
    # orientation, E rows instead of 2E, and both orientations are emitted
    # after its shuffle (a self-loop once).  A NULL id is no node, as in a
    # SQL join: the frontier joins could never match it, so it would be
    # doomed again every round
    k = KCORE_K
    src, dst = F.col("p1"), F.col("p2")
    lo = dst < src
    canon = edges.filter(src.isNotNull() & dst.isNotNull()).select(
        F.when(lo, dst).otherwise(src).alias("a"),
        F.when(lo, src).otherwise(dst).alias("b"),
    ).distinct()
    sym = fresh_local_checkpoint(
        canon.select(
            F.inline(
                F.array_distinct(
                    F.array(
                        F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                        F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                    )
                )
            )
        )
    )

    def _state(df: DataFrame) -> tuple[DataFrame, dict]:
        # the state checkpoint's own job counts its doomed frontier
        return observed_checkpoint(
            df, F.count_if(F.col("deg") < k).alias("n_doomed"), fresh=True
        )

    deg, seen = _state(
        sym.groupBy(F.col("u").alias("p"))
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    rounds = checks = 0
    converged = False
    for _ in range(KCORE_MAX_ROUNDS):
        checks += 1
        n_doomed = seen["n_doomed"]
        if n_doomed == 0:
            converged = True
            break
        doomed = deg.filter(F.col("deg") < k).select("p").localCheckpoint()
        d_dec = doomed.select(F.col("p").alias("_d"))
        d_anti = doomed.select(F.col("p").alias("_dp"))
        if n_doomed <= KCORE_BROADCAST_DOOMED_MAX:
            d_dec, d_anti = F.broadcast(d_dec), F.broadcast(d_anti)
        dec = (
            sym.join(d_dec, F.col("_d") == F.col("v"))
            .groupBy(F.col("u").alias("p"))
            .agg(F.count(F.lit(1)).cast("long").alias("dec"))
        )
        deg, seen = _state(
            deg.join(d_anti, F.col("_dp") == F.col("p"), "left_anti")
            .join(dec, "p", "left")
            .select(
                "p",
                (F.col("deg") - F.coalesce(F.col("dec"), F.lit(0))).alias(
                    "deg"
                ),
            )
        )
        rounds += 1
    # an EMPTY state table is definitionally the fixpoint (nothing left to
    # peel)
    _kcore_exit(converged or seen["n_rows"] == 0, rounds, checks, stats)
    out = (
        # on a NON-converged exit an alive node whose last neighbor died in
        # the closing round has degree 0: drop it (the core_degree >= 1
        # contract).  On a converged exit every degree is >= k, so this is
        # a no-op.
        deg.filter(F.col("deg") >= 1)
        .select(F.col("p").alias("node"), F.col("deg").alias("core_degree"))
        .localCheckpoint()
    )
    return out


def _kcore_exit(converged: bool, rounds: int, checks: int, stats: dict | None):
    """The shared exit of both k-core peels: warn on a non-converged exit
    and fill ``stats`` (``rounds``, ``checks``, ``converged``)."""
    if not converged:
        import warnings

        warnings.warn(
            f"kcore(k={KCORE_K}) hit max_rounds={KCORE_MAX_ROUNDS} before "
            "the peel fixpoint — the result is NOT a converged k-core (raise "
            "KCORE_MAX_ROUNDS); stats['converged'] is False",
            UserWarning,
            stacklevel=3,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["checks"] = checks
        stats["converged"] = converged


#: pagerank's fixed iteration count (the SQL replay unrolls as many steps)
PAGERANK_ITERS = 5


def pagerank(edges: DataFrame) -> DataFrame:
    """Weighted PageRank of a ``(src, dst, w)`` edge list (integer weights)
    in FIXED-POINT integer arithmetic — the second iterative graph operator
    next to :func:`connected_components` (power iteration instead of
    contraction).

    Two deliberate design points:

    * **Fixed iteration count, no convergence action.**  The whole run is
      ONE job of ``PAGERANK_ITERS`` chained keyed shuffles — no per-round driver
      round-trip — and the computation is exactly replayable as an
      unrolled SQL query (a convergence loop is not; recursive CTEs
      cannot aggregate in the recursive term).

    * **Integer (fixed-point) arithmetic throughout.**  Ranks are BIGINT
      multiples of ``1/scale``; edge probabilities stay as the exact
      integer ratio w(u,v)/out(u) and each contribution is
      ``(rank * w) DIV out``; the damped update is
      ``base + (num * Σ) DIV den`` with damping as the exact rational
      num/den.  Floating-point PageRank is NOT portable across engines —
      double→decimal rounding (Java shortest-repr BigDecimal vs exact
      binary expansion) diverges in the last ulp — whereas integer
      division and summation are bit-identical everywhere.  The floor
      losses (< |E|/scale of total mass per round) are part of the
      operator's SPEC, not error.  Dangling mass is not redistributed
      (graphs with sinks: add self-loops first).

    Overflow bound: per-edge product rank·w ≤ scale·max_w must fit BIGINT
    — with the default scale 1e12, max integer edge weight ~9e6; hotter
    edge weights need a smaller scale (the product bound is checked, not
    silent).

    Scale shape: edges with their out-degree totals, and the node set, are
    each ONE :func:`observed_checkpoint` whose job also observes the
    maximum weight and the node count (no collect or count job); each
    iteration is an edges⋈ranks equi-join on the source key plus a
    re-aggregate on the destination key — two keyed shuffles over |E|
    rows, rank state |V| rows, run as one checkpoint job at the end.

    Returns (node, rank_fp BIGINT, rank DOUBLE = rank_fp/scale).
    """
    scale = 10**12
    from fractions import Fraction

    fr = Fraction("0.85")
    num, den = fr.numerator, fr.denominator
    e = edges.select(
        F.col("src").alias("_src"),
        F.col("dst").alias("_dst"),
        F.col("w").cast("long").alias("_w"),
    )
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_out"))
    ew, seen = observed_checkpoint(
        e.join(out_w, "_src"), F.max("_w").alias("max_w")
    )
    max_w = seen["max_w"]
    if max_w is not None and max_w * scale >= 2**63:
        raise ValueError(
            f"scale {scale} * max edge weight {max_w} overflows BIGINT; "
            "pass a smaller scale"
        )
    # derive nodes from the CHECKPOINTED ew, not the raw edge plan: ew's
    # inner join with out_w loses no rows (every _src has an out_w row by
    # construction), and reading the checkpoint avoids re-executing the
    # caller's edge build — often a multi-table fact join — a second
    # time for the node set (r10 opt, guide §1.2)
    nodes, seen = observed_checkpoint(
        ew.select(F.col("_src").alias("_node"))
        .union(ew.select(F.col("_dst")))
        .distinct()
    )
    n_nodes = seen["n_rows"]
    if n_nodes == 0:
        # empty edge set: return an empty rank table with the right schema
        # instead of dividing by zero (a filtered edge build legitimately
        # produces no edges)
        return nodes.select(
            F.col("_node").alias("node"),
            F.lit(0).cast("long").alias("rank_fp"),
            F.lit(0.0).alias("rank"),
        )
    base = ((den - num) * scale) // (den * n_nodes)
    ranks = nodes.select(
        "_node", F.lit(scale // n_nodes).cast("long").alias("_r")
    )
    for _ in range(PAGERANK_ITERS):
        contrib = (
            ew.join(ranks, ew._src == ranks._node)
            .select(
                "_dst",
                F.expr("(_r * _w) DIV _out").alias("_c"),
            )
            .groupBy("_dst")
            .agg(F.sum("_c").alias("_s"))
        )
        ranks = nodes.join(
            contrib, nodes._node == contrib._dst, "left_outer"
        ).select(
            "_node",
            (
                F.lit(base).cast("long")
                + F.expr(f"({num} * coalesce(_s, 0L)) DIV {den}")
            ).alias("_r"),
        )
    # iterations chain LAZILY — the docstring's "one job of chained keyed
    # shuffles" contract; a localCheckpoint per round would be one
    # driver-synchronized job per round on |V|-sized state.  They run
    # once, here, as one checkpoint of the final ranks.
    ranks = ranks.localCheckpoint()
    return ranks.select(
        F.col("_node").alias("node"),
        F.col("_r").alias("rank_fp"),
        (F.col("_r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


#: connected_components finishes on the driver once the edge set is this
#: small (200k edges ≈ 3 MB of longs collected); a negative value never
#: finishes there (pure distributed loop)
CC_DRIVER_FINISH_MAX_EDGES = 200_000


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    stats: dict | None = None,
    assume_symmetric: bool = False,
) -> DataFrame:
    """Cluster assignment for an undirected pair list: every node that
    appears in ``pairs`` is mapped to the minimum node id reachable from
    it.  Returns ``(id, cluster_id)``, one row per distinct node.
    Nodes with no edges never appear in ``pairs`` and are their own
    singleton clusters by definition — left-join this result and
    ``coalesce(cluster_id, id)`` to label a full corpus.  A node whose
    only pairs are self-loops is returned as its own singleton cluster.

    Engine: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond"), O(log² n)
    rounds on any graph shape.  It handles long chains (which cost
    diameter-many rounds under min-label propagation) and HIGH-DEGREE
    HUBS (large-star rewires all larger neighbors of a node straight to
    its current minimum, so hub neighborhoods contract exponentially
    instead of being re-shuffled through one hot reducer every round).

    * large-star(u): every neighbor v > u re-points to
      m = min(N(u) ∪ {u});
    * small-star(u), on parent edges (u > v only): every v ∈ N(u) ∪ {u}
      re-points to m = min(N(u) ∪ {u}).

    At the fixpoint the edge set is a forest of stars whose centers are
    the component minima.

    Scale shape: each half-round is one groupBy(u) + one keyed join (the
    emitted edge list), dedup'd, with ``localCheckpoint`` lineage
    truncation; convergence is detected by a scalar (count,
    xxhash64-xor) signature of the canonical parent-edge set, observed
    on the job that checkpoints it (:func:`observed_checkpoint`: no
    aggregate job per round) — no pairwise old-vs-new comparison.
    SCALE_BENCH §16, §17 and §19 hold the measured history against the
    retired min-label engine.

    ``assume_symmetric=True`` asserts the caller's pair list already
    contains BOTH orientations of every edge (e.g. a grid/band self-join
    whose predicate is symmetric): the symmetrize union + distinct + its
    checkpoint are skipped entirely (duplicates would only cost, never
    corrupt — every downstream step is a min-aggregate or distinct).

    ``CC_DRIVER_FINISH_MAX_EDGES`` is the SIZE-GATED driver finish:
    contraction shrinks the parent-edge set geometrically, so the late
    rounds run driver-synchronized keyed shuffles over a few thousand
    rows — pure per-round barrier cost at any cluster size.  When a
    round's signature count drops to the gate, the remaining fixpoint is
    computed as one union-find over the collected parent edges — bit-identical labels
    (the parent set at every round spans the same components as the
    input, the contraction invariant the algorithm's correctness rests
    on).  The gate is also checked at ROUND 0: an input edge list already
    within the bound is union-found directly (its edge count is observed
    on the pair-list checkpoint, so the gate costs no job; at scale the
    gate does not fire and the loop runs unchanged).
    ``stats`` (a dict, optional) receives ``rounds`` and
    ``driver_finish``."""
    # one materialization of the raw pair list: BOTH branches below (the
    # contraction working set and the self-loop singleton recovery) read
    # the checkpointed form, so the upstream pair pipeline (often an LSH /
    # grid-join build) is scanned exactly once — same source-pass count as
    # before the self-loop fix
    p0, seen = observed_checkpoint(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")),
        F.count_if(F.col("u") != F.col("v")).alias("n_edges"),
    )
    # self-loop pairs carry no connectivity but DO declare the node: a node
    # whose only pairs are self-loops must surface as its own singleton
    # cluster — remember them and union the missing ones back after the
    # contraction.
    selfs = p0.filter(F.col("u") == F.col("v")).select("u").distinct()
    e0 = p0.filter(F.col("u") != F.col("v"))
    rounds = 0
    max_edges = CC_DRIVER_FINISH_MAX_EDGES
    # ROUND-0 gate (r10 opt): when the RAW edge list is already within the
    # driver-finish bound, every distributed round the loop would run is
    # pure overhead — the same union-find that finishes the late rounds
    # labels the input directly (it needs neither parent orientation nor
    # deduplication, and the gate bounds the collect exactly as it does
    # mid-loop).  The p0 checkpoint's own job counted its non-self-loop
    # edges, so the gate costs no job; at scale it simply does not fire.
    finished_on_driver = seen["n_edges"] <= max_edges
    uf_edges = e0 if finished_on_driver else None
    if uf_edges is not None:
        edges = e0  # loop skipped; nothing else reads this
    elif assume_symmetric:
        # caller guarantees both orientations are present: the working
        # set reads straight off the p0 checkpoint — no symmetrize
        # union, no second distinct+checkpoint job over 2|E| rows
        edges = e0
    else:
        # undirected working set, both orientations
        edges = e0.union(
            e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct().localCheckpoint()

    prev_sig = None
    for _ in (range(40) if uf_edges is None else ()):
        # -- large-star: v > u re-points to min(N(u) + {u})
        mins = edges.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # large-star rows are ALREADY parent-oriented: m = min(N(u) ∪ {u})
        # ≤ u < v strictly, so the emitted (v, m) pair has u' > v' with no
        # reorientation and no self-pair possible — one distinct suffices
        # (the historical reorient-then-re-distinct paid a second full
        # shuffle per round on an identity mapping; r10 opt, guide §2.2)
        par = (
            edges.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # -- small-star on parent edges: all of N(u) + {u} -> min
        smins = par.groupBy("u").agg(F.min("v").alias("m"))
        ss_children = (
            par.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ss_self = smins.select("u", F.col("m").alias("v"))
        # the parent set's checkpoint job also takes its signature
        par, seen = observed_checkpoint(
            ss_children.unionAll(ss_self)
            .filter(F.col("u") != F.col("v"))
            .distinct(),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        )
        rounds += 1
        sig = (seen["n_rows"], seen["h"])
        if sig == prev_sig:
            break
        if sig[0] <= max_edges:
            finished_on_driver = True
            uf_edges = par
            break
        prev_sig = sig
        # resymmetrize LAZILY over the just-checkpointed parent set: the
        # union is narrow, so the next round's two scans replay it from
        # the checkpoint — materializing it was a third driver-
        # synchronized job per round for no lineage benefit (r10 opt)
        edges = par.union(
            par.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["driver_finish"] = finished_on_driver
    if finished_on_driver:
        # gated finish: the collected edge set (the raw input at round 0,
        # or the round's parent set mid-loop) spans the same components
        # as the input, so one union-find over its (bounded, observed)
        # rows yields the final (node, component-min) map directly — no
        # more distributed rounds.  Path-halving find,
        # union by lesser root id (the label IS the min, so roots are
        # kept as minima); duplicate rows and either orientation are
        # harmless to union-find.
        parent: dict = {}

        def _find(x):
            r = x
            while parent.get(r, r) != r:
                parent[r] = parent.get(parent[r], parent[r])
                r = parent[r]
            return r

        for row in uf_edges.collect():
            ra, rb = _find(row[0]), _find(row[1])
            if ra == rb:
                continue
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
        lab_rows = [(n, _find(n)) for n in parent] + [
            (n, n)
            for n in {_find(n) for n in parent}
        ]
        utype = p0.schema["u"].dataType
        labeled = p0.sparkSession.createDataFrame(
            lab_rows,
            T.StructType(
                [
                    T.StructField("id", utype, False),
                    T.StructField("cluster_id", utype, False),
                ]
            ),
        )
    else:
        # parent edges now form stars: (child, root); roots label
        # themselves
        roots = (
            par.select(F.col("v").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("label"))
        )
        children = par.select(
            F.col("u").alias("id"), F.col("v").alias("label")
        )
        labeled = (
            children.unionAll(roots)
            .groupBy("id")
            .agg(F.min("label").alias("cluster_id"))
        )
    singles = selfs.join(
        labeled, selfs["u"] == labeled["id"], "left_anti"
    ).select(F.col("u").alias("id"), F.col("u").alias("cluster_id"))
    return labeled.unionByName(singles)


def triangle_counts(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Per-node triangle counts with DEGREE ORIENTATION (Chiba-Nishizeki;
    Suri & Vassilvitskii's MapReduce adaptation): each undirected edge is
    directed from its lower-(degree, id) endpoint, so every wedge is
    enumerated exactly once AT its lowest vertex and the wedge join's
    per-key fan-out is bounded by oriented out-degree — O(sqrt(m)) — the
    hub vertex that explodes a naive 2-hop self-join never becomes a
    join key.  Closing edges resolve with one equi-join back to the
    oriented set (the total order makes the closing direction unique).

    ``edges`` must be an undirected simple edge list (each edge once, in
    either orientation, no self-loops).  Returns ``(node, triangles)``
    for every node in at least one triangle.

    Below the :func:`triangle_counts_driver_dense` gates the counts come
    from the driver bitset kernel (identical integers, one bounded
    collect instead of the wedge join — see its docstring); the wedge
    engine below is the scale shape above the gates.  The edge list is
    an eager :func:`observed_checkpoint` whose own job counts the rows
    the gate reads, so the gate runs no count job."""
    e, seen = observed_checkpoint(
        edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("bb"))
    )
    dense = triangle_counts_driver_dense(e, seen["n_rows"], "a", "bb")
    if dense is not None:
        spark = edges.sparkSession
        node_t = edges.schema[a_col].dataType
        schema = T.StructType(
            [
                T.StructField("node", node_t),
                T.StructField("triangles", T.LongType()),
            ]
        )
        return spark.createDataFrame(dense, schema)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("bb").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("node").alias("bb"), F.col("d").alias("db"))
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("bb"))
    )
    d = (
        e.join(da, "a")
        .join(db, "bb")
        .select(
            F.when(fwd, F.col("a")).otherwise(F.col("bb")).alias("u"),
            F.when(fwd, F.col("bb")).otherwise(F.col("a")).alias("v"),
        )
        .localCheckpoint()
    )
    dv = d.join(
        deg.select(F.col("node").alias("v"), F.col("d").alias("dvg")), "v"
    )
    w1 = dv.select(F.col("u"), F.col("v").alias("v1"), F.col("dvg").alias("g1"))
    w2 = dv.select(F.col("u"), F.col("v").alias("v2"), F.col("dvg").alias("g2"))
    wedge_order = (F.col("g1") < F.col("g2")) | (
        (F.col("g1") == F.col("g2")) & (F.col("v1") < F.col("v2"))
    )
    tri = (
        w1.join(w2, "u")
        .filter(wedge_order)
        .join(
            d.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
            ["v1", "v2"],
            "left_semi",
        )
        .select(
            F.col("u").alias("x"), F.col("v1").alias("y"), F.col("v2").alias("z")
        )
    )
    # ONE streaming pass over the triangle set: the historical 3-way
    # unionAll of per-corner projections re-executed the wedge join (the
    # operator's dominant cost) once per branch — tri was never
    # materialized.  explode(array(x,y,z)) feeds the same map-side-
    # combinable count from a single execution; counts are identical
    # (each triangle still contributes exactly one row per corner).
    # (r10 opt, guide §1.2/§2.2)
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("triangles"))
    )


#: Gates for :func:`triangle_counts_driver_dense`.  24576 nodes keeps the
#: packed bit adjacency at 75 MB (the transient byte matrix it is packed
#: from at ~600 MB, well inside the driver sandbox) and the per-edge
#: AND+popcount sweep under ~1 s; the edge cap bounds the Arrow collect
#: (2 int64 cols, ≤128 MB).  Both are driver-memory constants, not
#: data-size tunables — above either gate the distributed engines
#: (array_intersect adjacency / degree-oriented wedge join) carry the
#: query, so the fallback is the scale plan, not an error path.  The
#: kernels read them at call time; a negative gate never fires.
DENSE_TRIANGLE_MAX_NODES = 24_576
DENSE_TRIANGLE_MAX_EDGES = 8_000_000


#: 16-bit popcount lookup table, built once per process (the 8-bit table
#: indexed per byte measured ~1.6x slower end-to-end: half the gather count
#: wins even though the table no longer fits in L1).
_POPCOUNT16: "object" = None


def _popcount16_lut():
    global _POPCOUNT16
    if _POPCOUNT16 is None:
        import numpy as np

        l8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)
        _POPCOUNT16 = (l8[:, None] + l8[None, :]).reshape(-1).astype(np.uint8)
    return _POPCOUNT16


def triangle_counts_driver_dense(
    edges: DataFrame,
    n_rows: int,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> list[tuple[int, int]] | None:
    """Per-node triangle counts for a METADATA-SIZED graph, computed on the
    driver with a packed-bitset adjacency and one vectorized AND+popcount
    sweep over the edges — the same size-gated driver-finish pattern as the
    CC union-find finish and the Markov absorption iteration (both <= a
    fixed collect bound, both falling back to the distributed engine above
    it).

    ``edges`` is an undirected edge list with no self-loops; DUPLICATE rows
    are fine (deduplicated after the remap), which lets callers skip their
    edge-distinct exchange on the fast path — the edge gate then bounds the
    raw COLLECT size, its actual job.  ``n_rows`` is ``edges``' row count
    as the caller already knows it without a job (observed on the job that
    built ``edges``); the edge gate reads it.  Node ids may be any orderable type
    (ints here; strings work via the same remap).  Returns
    ``[(node, n_triangles), ...]`` for every node in >=1 triangle, or
    ``None`` when the graph exceeds either gate (the caller then runs its
    distributed engine; the wasted work is one bounded collect).

    Math: a triangle {a,b,c} is seen from node ``a`` at BOTH its incident
    edges ((a,b) closing through c and (a,c) closing through b), so with a
    symmetric bit adjacency ``tri(x) = (sum over edges (x,y) of
    |N(x) & N(y)|) / 2`` — per distinct edge, one bitwise AND of two packed
    rows and a popcount, credited to both endpoints.  All-integer, exact by
    construction (an r11 rework of the r11 float32-matmul first cut: the
    bitset form is O(m*n/64) instead of O(n^3), which lifts the node gate
    from 4096 to 24576 and brings the 20k-node part co-purchase graph of
    graph_triangle_counts / graph_clustering_coefficient under it).

    Why a driver bitset beats every distributed engine at this size: the
    r10 round measured the per-edge ``array_intersect`` plan at ~4 s beyond
    the shared edge build and a Catalyst packed-bitset engine <=1.08x with
    an 8-90 s janino cold-start; numpy does the same ANDs over a <=75 MB
    packed matrix in milliseconds and the edge list ships once (~7 MB at
    sf0.1).  The crossover the gates encode: the bit matrix is O(n^2/8)
    memory and the sweep O(m*n/64) work — driver-trivial ONLY below the
    fixed bounds (``DENSE_TRIANGLE_MAX_NODES`` / ``_MAX_EDGES``)."""
    import numpy as np
    import pandas as pd

    if n_rows > DENSE_TRIANGLE_MAX_EDGES:
        return None
    pdf = edges.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).toPandas()
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    if len(a) == 0:
        return []
    # hash-based id remap (r11: pd.factorize replaces the sorting
    # np.unique(return_inverse) — O(m) vs O(m log m); output row order is
    # appearance order, fine for set-compared query results)
    inv, nodes = pd.factorize(np.concatenate([a, b]))
    nodes = np.asarray(nodes)
    n = len(nodes)
    if n > DENSE_TRIANGLE_MAX_NODES:
        return None
    ia = inv[: len(a)].astype(np.int64)
    ib = inv[len(a):].astype(np.int64)
    cnt = _dense_tri_sweep(ia, ib, n)
    keep = cnt > 0
    return list(zip(nodes[keep].tolist(), cnt[keep].tolist()))


def _dedupe_pairs(ia, ib, n):
    """Each unordered pair of remapped endpoint codes (``0 <= ia, ib < n``)
    once, self-loops dropped: ``(lo, hi)`` with ``lo < hi``, sorted."""
    import numpy as np

    key = np.unique(np.minimum(ia, ib) * n + np.maximum(ia, ib))
    lo, hi = key // n, key % n
    keep = lo != hi
    return lo[keep], hi[keep]


def _concat_ranges(starts, lens):
    """``concatenate([arange(s, s + l) for s, l in zip(starts, lens)])``
    without the Python loop (``lens >= 0``, int64)."""
    import numpy as np

    offs = np.cumsum(lens) - lens
    return np.arange(lens.sum(), dtype=np.int64) - np.repeat(offs - starts, lens)


def _dense_tri_sweep(ia, ib, n):
    """The numpy core of the dense driver kernel: per-node triangle counts
    from REMAPPED pair endpoints (``0 <= ia, ib < n``; duplicates and
    self-loops tolerated — :func:`_dedupe_pairs`).  Returns an
    ``int64[n]`` count vector."""
    import numpy as np

    ia, ib = _dedupe_pairs(ia, ib, n)
    # symmetric adjacency as packed bits: byte matrix (duplicate-safe
    # constant assignment) -> packbits rows, padded to an even byte width
    # so the sweep can gather uint16 words (half the lookups of the r11
    # first-cut 8-bit LUT, measured ~1.6x end-to-end)
    byte = np.zeros((n, n), dtype=np.uint8)
    byte[ia, ib] = 1
    byte[ib, ia] = 1
    nb = (n + 15) // 16 * 2
    packed = np.zeros((n, nb), dtype=np.uint8)
    packed[:, : (n + 7) // 8] = np.packbits(byte, axis=1)
    del byte
    p16 = packed.view(np.uint16)
    lut = _popcount16_lut()
    # float64 accumulator: np.bincount(weights=...) is the vectorized
    # scatter-add (np.add.at measured 2-3x slower); every partial is an
    # integer < 2^53, so the float64 sums are exact by IEEE construction
    cnt = np.zeros(n, dtype=np.float64)
    step = max(1, 32_000_000 // max(1, nb))
    for s in range(0, len(ia), step):
        ca, cb = ia[s : s + step], ib[s : s + step]
        common = lut[p16[ca] & p16[cb]].sum(axis=1, dtype=np.int64)
        cnt += np.bincount(ca, weights=common, minlength=n)
        cnt += np.bincount(cb, weights=common, minlength=n)
    return cnt.astype(np.int64) // 2


def triangle_counts_driver_dense_from_baskets(
    baskets: DataFrame,
    row_bound: int | None,
) -> list[tuple[int, int]] | None:
    """Dense driver triangle counts straight from a BASKET table (each row
    one (basket, item); items distinct within a basket): the
    co-occurrence pair stream the distributed engines self-join for is
    generated ON THE DRIVER by :func:`_dense_basket_pairs` — the collect
    ships the basket rows (sum k, HALF the bytes of the pair stream at this
    corpus) and no pair-join job runs at all.  Returns the same
    ``[(item, n_triangles), ...]`` contract as
    :func:`triangle_counts_driver_dense`, or ``None`` above a gate."""
    got = _dense_basket_pairs(baskets, row_bound)
    if got is None:
        return None
    ia, ib, nodes = got
    n = len(nodes)
    if n == 0:
        return []
    cnt = _dense_tri_sweep(ia, ib, n)
    keep = cnt > 0
    return list(zip(nodes[keep].tolist(), cnt[keep].tolist()))


def _dense_basket_pairs(baskets: DataFrame, row_bound: int | None):
    """The dense basket graph the driver kernels start from: gate, collect
    the two-column (basket, item) table, and generate its within-basket
    co-occurrence pairs on the driver.  Returns ``(ia, ib, nodes)`` with
    remapped endpoint codes (``0 <= ia, ib < len(nodes)``; each unordered
    pair once per basket containing it), or ``None`` above a gate.

    No gate runs a job.  ``row_bound`` is an upper bound on ``baskets``'
    rows the caller knows without one (the lineitem parquet footers,
    ``catalog.lineitem_row_count``); above ``DENSE_TRIANGLE_MAX_EDGES``,
    or when unknown (``None``), the kernel declines before the collect.
    Otherwise the collect is the one job, and the collected rows are
    checked before any pair is built: the within-basket pair count
    Σ k·(k−1)/2 (exactly the co-occurrence self-join's output size)
    against ``DENSE_TRIANGLE_MAX_EDGES`` and the item count against
    ``DENSE_TRIANGLE_MAX_NODES``.  A row with a NULL basket or item is
    dropped, as the distributed self-join's equality and item filters
    drop it."""
    import numpy as np
    import pandas as pd

    if row_bound is None or row_bound > DENSE_TRIANGLE_MAX_EDGES:
        return None
    o_col, i_col = baskets.columns
    pdf = (
        baskets.where(F.col(o_col).isNotNull() & F.col(i_col).isNotNull())
        .select(F.col(o_col).alias("o"), F.col(i_col).alias("i"))
        .toPandas()
    )
    oc, _ = pd.factorize(pdf["o"].to_numpy())
    sizes = np.bincount(oc).astype(np.int64)
    if int((sizes * (sizes - 1) // 2).sum()) > DENSE_TRIANGLE_MAX_EDGES:
        return None
    inv, nodes = pd.factorize(pdf["i"].to_numpy())
    nodes = np.asarray(nodes)
    if len(nodes) > DENSE_TRIANGLE_MAX_NODES:
        return None
    # group items by basket (stable sort on the factorized basket id), then
    # pair the element at local index L with the L elements before it
    items = inv[np.argsort(oc, kind="stable")].astype(np.int64)
    idx = np.arange(len(items), dtype=np.int64)
    loc = idx - np.repeat(np.cumsum(sizes) - sizes, sizes)
    return items[_concat_ranges(idx - loc, loc)], items[np.repeat(idx, loc)], nodes


def kcore_driver_dense_from_baskets(
    baskets: DataFrame,
    row_bound: int | None,
    stats: dict | None,
) -> list[tuple[int, int]] | None:
    """The :func:`kcore` peel of a METADATA-SIZED basket co-occurrence
    graph, run on the driver: :func:`_dense_basket_pairs` collects the
    basket table and builds the within-basket pairs (same gates, same
    ``None`` fallback contract as the dense triangle kernel), the pairs
    are deduped (:func:`_dedupe_pairs`), and the peel runs on a CSR
    adjacency with a numpy degree vector.

    The peel is the round-synchronous form of the O(m) core peel of
    Batagelj & Zaversnik (arXiv cs/0310049) and gives exactly
    :func:`kcore`'s result: each round removes the whole doomed frontier
    (alive degree < ``KCORE_K``) and subtracts, per surviving neighbor,
    the edges it lost to that frontier (only the frontier's CSR rows are
    read, so the work over all rounds is O(m)); it stops after
    ``KCORE_MAX_ROUNDS`` rounds with the same ``converged`` rule,
    ``UserWarning`` and ``stats`` keys, an emptied state counting as
    converged; and it returns ``[(node, core_degree), ...]`` for the alive
    nodes with ``core_degree >= 1``.

    Scale shape: one collect of the basket rows, O(m) numpy memory; above
    a gate the caller runs :func:`kcore`, the scale plan."""
    import numpy as np

    got = _dense_basket_pairs(baskets, row_bound)
    if got is None:
        return None
    ia, ib, nodes = got
    n = len(nodes)
    lo, hi = _dedupe_pairs(ia, ib, n)
    src = np.concatenate([lo, hi])
    nbr = np.concatenate([hi, lo])[np.argsort(src, kind="stable")]
    n_nbrs = np.bincount(src, minlength=n).astype(np.int64)
    first = np.cumsum(n_nbrs) - n_nbrs
    deg = n_nbrs.copy()
    # a node is in the state table when it has an edge
    alive = n_nbrs > 0
    rounds = checks = 0
    converged = False
    for _ in range(KCORE_MAX_ROUNDS):
        checks += 1
        doomed = np.flatnonzero(alive & (deg < KCORE_K))
        if len(doomed) == 0:
            converged = True
            break
        alive[doomed] = False
        lost = nbr[_concat_ranges(first[doomed], n_nbrs[doomed])]
        deg -= np.bincount(lost, minlength=n)
        rounds += 1
    _kcore_exit(converged or not alive.any(), rounds, checks, stats)
    keep = alive & (deg >= 1)
    return list(zip(nodes[keep].tolist(), deg[keep].tolist()))


def khop_reachability_driver_dense_from_baskets(
    baskets: DataFrame,
    row_bound: int | None,
) -> list[tuple[int, int, int]] | None:
    """Bounded-depth BFS on a METADATA-SIZED co-occurrence graph, computed
    on the driver with the packed-bitset adjacency — the k-hop sibling of
    :func:`triangle_counts_driver_dense_from_baskets` (the same
    :func:`_dense_basket_pairs` gates and collect, same fallback contract).

    Semantics pinned to graph_reachability_3hop's declared SQL: seeds are
    the 5 highest-degree nodes (degree = distinct neighbors; ties by
    ascending node id); hop h ≤ 3's frontier is the neighbor set of hop
    h−1's; a node's ``min_hops`` is the smallest h at which it appears;
    the seed itself is excluded.  Returns
    ``[(seed, min_hops, n_reachable), ...]`` or ``None`` above a gate.

    Why the driver wins here: each distributed hop is a frontier⋈edges
    join + a distinct exchange over ~frontier×degree rows (≈4.5M on the
    91%-dense 1k-node supplier graph), three times; the bitset form is
    three row-gathers + OR-reduces over a ≤75 MB packed matrix —
    microseconds — and the collect it needs is the same bounded basket
    table the triangle kernel already ships."""
    import numpy as np

    got = _dense_basket_pairs(baskets, row_bound)
    if got is None:
        return None
    ia, ib, nodes = got
    n = len(nodes)
    if n == 0:
        return []
    # symmetric packed adjacency (dedupe is implicit: bit assignment)
    byte = np.zeros((n, n), dtype=np.uint8)
    byte[ia, ib] = 1
    byte[ib, ia] = 1
    np.fill_diagonal(byte, 0)
    deg = byte.sum(axis=1, dtype=np.int64)
    packed = np.packbits(byte, axis=1)
    del byte
    # top-5 by (degree DESC, original id ASC); isolated nodes can seed too
    # (they then reach nothing, matching the SQL's empty h1)
    order = np.lexsort((nodes, -deg))
    seed_codes = order[:5]
    out: list[tuple[int, int, int]] = []
    for sc in seed_codes:
        seen = np.zeros(n, dtype=bool)
        frontier = np.unpackbits(packed[sc], count=n).astype(bool)
        counts = []
        for _hop in range(3):
            newly = frontier.copy()
            newly[sc] = False  # node <> seed
            counts.append((newly & ~seen).sum())
            seen |= newly
            rows = np.flatnonzero(frontier)
            if len(rows) == 0:
                frontier = np.zeros(n, dtype=bool)
                continue
            nxt = np.bitwise_or.reduce(packed[rows], axis=0)
            frontier = np.unpackbits(nxt, count=n).astype(bool)
        for h, c in enumerate(counts, start=1):
            if c > 0:
                out.append((int(nodes[sc]), h, int(c)))
    return out
