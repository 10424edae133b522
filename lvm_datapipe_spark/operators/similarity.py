"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline, native Column math (zip_with +
  aggregate fold — stays in codegen, left-to-right fold is bit-deterministic
  and matches the SQL oracle's explicit sum chain);
- embedding-cosine near-dup pairs;
- random-hyperplane LSH bucketing: the scale path — candidates meet only
  inside a bucket, so the join is keyed, not a cross product.

At 100 TB the brute-force variant is only for broadcast-sized query sets
(crossJoin(broadcast(queries)) = one pass over the corpus, no shuffle);
the LSH variant buckets the corpus once and probes per-bucket.
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: embedding dimensionality of the driver's tables; flat expressions need
#: it.  It and ``IVF_CELLS`` are read at call time, so tests run the
#: quantizer kernels on 2-8-dim vectors by patching them
DEFAULT_DIM = 64
#: the fixed IVF quantizer the IVF-family kernels and their DuckDB oracles
#: share: cell count, cells probed per query, centroid seed
IVF_CELLS = 16
IVF_PROBES = 4
IVF_SEED = 42
#: the PQ codebook the PQ kernels and their DuckDB oracles share:
#: subspaces, centroids per subspace, codebook seed
PQ_SUBSPACES = 32
PQ_KSUB = 8
PQ_SEED = 7
#: neighbors every top-k kernel returns per query
TOPK = 10
#: semdedup_keep's duplicate cosine: same-cell pairs at or above it are
#: duplicates
SEMDEDUP_EPS = 0.4
#: kcenter_coreset's representatives per cell
KCENTER_K = 8


def as_double() -> Column:
    """The ``embedding`` column as ``array<double>``."""
    return F.col("embedding").cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Left-to-right fold of elementwise products: ((0+x1)+x2)+... — the
    same association order as an explicit x1+x2+... sum, so bit-identical
    to the DuckDB oracle.

    This is the PREFERRED dot for every pairwise hot path.  Measured on the
    bench corpus: inside join stages (where Catalyst pushes the similarity
    filter into the join condition and whole-stage codegen fuses join+project
    into one method) a flattened 64-term expression tree blows janino's
    64 KB method limit, the stage falls back to row-interpreted eval with
    per-node Double boxing, and the query runs 4-6× SLOWER than this fold
    (7.7 s vs 1.35 s on the sf0.1 crossJoin).  The fold stays a single
    compact expression node at any dimensionality — no codegen cliff."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def sql_lit_array(vals) -> str:
    """Literal double array as SQL text.  ``repr()`` doubles round-trip
    bit-exactly through the SQL parser (including scientific notation with
    the D suffix), so the parsed values are identical to the ``F.lit`` form
    and to the oracle's ``!r`` literals."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"


def sql_fold_dot(vec_sql: str, vals) -> str:
    """``dot(vec, literal_array)`` as SQL text — the same
    aggregate/zip_with fold as :func:`dot` (same association order, same
    ``0.0`` seed → bit-identical), but parsed in ONE py4j call instead of
    ~6 lambda-conversion round-trips per plane.  With 32 planes per LSH
    query the Column-API construction alone cost ~1.5 s of driver time."""
    return (
        f"aggregate(zip_with({vec_sql}, {sql_lit_array(vals)}, "
        "(x, y) -> x * y), 0.0D, (acc, v2) -> acc + v2)"
    )


def dot_flat(a: Column, b: Column) -> Column:
    """``a[1]*b[1] + a[2]*b[2] + ...`` as a flat left-associated expression
    tree — bit-identical to :func:`dot` (same association order; the fold's
    leading ``0.0 +`` is exact).  Only for narrow Project stages with a
    SINGLE tree (e.g. the norm in :func:`unit_vectors`); see :func:`dot` for
    why join-adjacent paths must use the fold.  ``DEFAULT_DIM`` MUST equal
    the array length: larger raises INVALID_ARRAY_INDEX, smaller silently
    truncates."""
    return reduce(
        operator.add,
        [F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(DEFAULT_DIM)],
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Exact cosine top-``TOPK``: broadcast the query set against the corpus.

    Plan: one scan of ``emb``, per-row loop over broadcast queries (no
    shuffle), then a per-query top-k window.  Ties broken by neighbor id so
    the result set is deterministic.
    """
    # norms are computed ONCE per side (|queries| + |corpus| folds) instead
    # of per candidate pair — cosine() would re-fold sqrt(dot(v,v)) for both
    # vectors on every crossJoin row (3 interpreted HOF folds per candidate
    # instead of 1).  Same fold, same association order ⇒ identical doubles.
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"), as_double().alias("qv")
        ).withColumn("qn", l2_norm(F.col("qv")))
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), as_double().alias("nv")
    ).withColumn("nn", l2_norm(F.col("nv")))
    scored = (
        c.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cos_sim",
            dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("nn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank")
    )


def unit_vectors(emb: DataFrame) -> DataFrame:
    """Project each ``embedding`` to unit length ONCE (norm materialized as
    a row column before the per-element divide), so downstream pairwise
    cosine is a single dot instead of three."""
    withnorm = emb.select(
        F.col("vec_id"), as_double().alias("v")
    ).withColumn(
        # fold == flat sum bit-exactly (leading 0.0+ is exact); one parsed
        # expression instead of 64 element_at Column constructions
        "nrm",
        F.expr(
            "sqrt(aggregate(zip_with(v, v, (x, y) -> x * y), 0.0D,"
            " (acc, v2) -> acc + v2))"
        ),
    )
    return withnorm.select(
        F.col("vec_id"),
        F.expr("transform(v, x -> x / nrm)").alias("vn"),
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """All pairs with cosine ≥ threshold.  Exact (quadratic) form — since
    r5 this is a PYTEST-ONLY recall oracle (tests/test_dedup_similarity):
    no declared query uses it, because the corpus×corpus crossJoin cannot
    survive a large corpus; every declared dedup path runs
    :func:`lsh_near_dup_pairs`.  Normalize-first: n² pairs each cost one
    64-element dot, not three.

    The unit-vector table is an eager checkpoint: without the barrier,
    projection collapse inlines ``transform(v, x/nrm)`` into every
    ``element_at`` of the pairwise dot, recomputing the whole normalization
    per term (measured ~10× slowdown).  It lives until the caller's sink;
    :func:`lvm_datapipe_spark.session.query_scope` frees it."""
    u = unit_vectors(emb).localCheckpoint()
    a = u.select(F.col("vec_id").alias("id_a"), F.col("vn").alias("va"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("vn").alias("vb"))
    out = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )
    return out


def _sql_sign_bit(plane) -> str:
    return (
        f"(CASE WHEN {sql_fold_dot('_v', plane)} >= 0.0D THEN '1' ELSE '0' END)"
    )


def lsh_table_planes(n_planes: int, n_tables: int, seed: int) -> list:
    """The deterministic hyperplane sets for multi-table LSH: table t uses
    ``n_planes`` Gaussian ``DEFAULT_DIM``-dim planes drawn from numpy PCG64
    with seed ``seed+t``.  Exposed so the SQL oracle can replay the exact
    same literals."""
    import numpy as np

    return [
        np.random.default_rng(seed + t).standard_normal((n_planes, DEFAULT_DIM))
        for t in range(n_tables)
    ]


#: auto_n_planes' sizing rule, shared with its DuckDB oracle: the bucket
#: occupancy it aims at and the most planes per table
LSH_TARGET_OCCUPANCY = 100
LSH_MAX_PLANES = 16


def auto_n_planes(n_rows: int) -> int:
    """The measured sizing rule (SCALE_BENCH.md §1): smallest ``p ≥ 4`` with
    ``2^p * LSH_TARGET_OCCUPANCY ≥ n`` (i.e. ceil(log2(n/target)), floored
    at the fixture-tuned 4 and capped at ``LSH_MAX_PLANES``).  Keeps per-table bucket
    occupancy ~constant so the candidate join stays near-linear instead of
    degrading toward n²/2^planes.

    Deliberately INTEGER math (no log2): the DuckDB oracle replays the same
    decision from COUNT(*) via ``(1 << p) * target >= n`` over a tiny range
    scan, which is bit-portable where float log2 near exact powers of two is
    not.  numpy's per-table plane draws are PREFIX-STABLE in ``p``
    (standard_normal fills C-order), so a ``p``-bit bucket is exactly the
    first ``p`` bits of the ``LSH_MAX_PLANES``-bit bucket — the oracle
    embeds that many planes as literals and takes a substring prefix."""
    p = 4
    while p < LSH_MAX_PLANES and (1 << p) * LSH_TARGET_OCCUPANCY < n_rows:
        p += 1
    return p


def _observed_corpus(emb: DataFrame) -> tuple[DataFrame, int]:
    """The projected ``(vec_id, embedding)`` corpus as an eager checkpoint,
    and its row count observed on the job that built it
    (graph.observed_checkpoint: no count job).  The auto-sizing paths size the plane budget from that
    count, and every table they build then reads the checkpoint instead of
    re-running the corpus scan (and its rebalance shuffle)."""
    from lvm_datapipe_spark.operators.graph import observed_checkpoint

    corpus, seen = observed_checkpoint(
        emb.select(F.col("vec_id"), as_double().alias("embedding"))
    )
    return corpus, seen["n_rows"]


def lsh_ann_candidates(
    emb: DataFrame,
    n_planes: int = 4,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Multi-table hyperplane LSH over the ``(vec_id, embedding)`` corpus:
    candidates over ``n_tables`` independent plane sets to trade compute
    for recall.  Output: (id_a < id_b) candidate pairs, one row per bucket
    collision (a pair colliding in k tables appears k times) — feed to
    exact cosine for verification: a verifier that filters to a small
    survivor set dedups AFTER its filter far cheaper than shuffling the
    full candidate set here (the cos_sim it attaches is a pure function of
    the pair, so post-filter distinct is set-identical).

    Plan shape: ONE corpus scan computes every table's bucket key
    (n_tables × n_planes literal-plane dot folds, all codegen), explodes to
    (id, table, bucket) rows, and self-equi-joins on (table, bucket) — one
    scan and one keyed shuffle instead of a scan+join per table.  The bucket
    KEY is the sign bits packed into one BIGINT (bit i = plane i) rather
    than a '0'/'1' string — a bijection for a fixed plane count, so the
    grouping is identical, but the shuffle key is 8 fixed bytes instead of
    an n_planes-char string (measured 1.3× on the candidate join).  Both
    join sides read the bucket table, so it is built once, in the call,
    as an eager ``localCheckpoint`` (not a ``persist()``, which Spark
    4.1.2 would run once per join side — ARCHITECTURE.md §3); its blocks
    live until the caller's sink, and session.query_scope frees them.
    """
    entries = []
    # fold dots for the plane literals: n_tables × n_planes flat dot trees
    # in one expression exceed janino's 64 KB method limit (codegen
    # failure → interpreted fallback for the whole stage); the fold stays
    # compact at any plane count.  All tables' buckets are
    # ONE parsed expression: the Column-API form cost ~1.5 s of driver-side
    # py4j/lambda construction PER QUERY BUILD at 8×4×64 (see sql_fold_dot).
    for t, planes in enumerate(lsh_table_planes(n_planes, n_tables, seed)):
        bits = " + ".join(
            f"(CASE WHEN {sql_fold_dot('_v', p)} >= 0.0D THEN {1 << i}L ELSE 0L END)"
            for i, p in enumerate(planes)
        )
        entries.append(f"struct({t} AS tbl, ({bits}) AS bucket)")
    buckets = (
        emb.select(F.col("vec_id"), as_double().alias("_v"))
        .select(
            F.col("vec_id"),
            F.explode(F.expr("array(" + ",".join(entries) + ")")).alias("tb"),
        )
        .select("vec_id", "tb.tbl", "tb.bucket")
        .localCheckpoint()
    )
    a = buckets.select(F.col("vec_id").alias("id_a"), "tbl", "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "tbl", "bucket")
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )


def lsh_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    **lsh_kwargs,
) -> DataFrame:
    """Scale-path near-dup: LSH candidates → exact cosine verify.  Recall is
    probabilistic (tunable via n_planes/n_tables) but DETERMINISTIC given the
    fixed seed — the candidate set is reproducible, so the whole pipeline is
    oracle-checkable; precision is exact (every emitted cos_sim is the true
    cosine).  Verify normalizes each vector ONCE (|corpus| rows, an eager
    ``localCheckpoint`` read by both verify joins — see
    :func:`embedding_near_dup_pairs` for why the barrier matters) so the
    per-candidate work is a single flat dot, not three.  The projected
    ``(id, vector)`` corpus is checkpointed once, with its row count
    observed on that job; ``n_planes=None`` sizes the plane budget from
    that count (:func:`auto_n_planes`: no count job — the only place the
    budget is sized), and both the bucket table and the unit vectors read
    the checkpoint, so the corpus scan and its rebalance shuffle run
    once.  All three are checkpoints, so the result holds no cached
    relation.

    SIZING RULE (measured, SCALE_BENCH.md §1): keep per-table bucket
    occupancy roughly constant by growing ``n_planes`` ≈ log2(n/100) with
    the corpus.  The defaults (4 planes = 16 buckets/table) are tuned for
    the sf0.1 fixtures; left fixed, occupancy grows linearly with n and the
    candidate set degrades toward n²/16 — the scale bench shows the
    superlinear wall.  Recall lost to narrower buckets is rebuilt by the
    independent tables (``n_tables=12`` held ~0.9 pair recall at the 0.9
    threshold in the measured runs)."""
    # dedup AFTER the exact-cosine filter: the candidate multiset (one row
    # per bucket collision) goes straight into the verify joins, and the
    # distinct runs over the tiny threshold-survivor set instead of
    # shuffling the full candidate set first.  cos_sim is a pure function
    # of the pair, so the result set is identical (measured 1.75× with the
    # int bucket keys at sf0.1, where 2k vectors make 1.5M collisions).
    corpus, n_rows = _observed_corpus(emb)
    if "n_planes" in lsh_kwargs and lsh_kwargs["n_planes"] is None:
        lsh_kwargs["n_planes"] = auto_n_planes(n_rows)
    cand = lsh_ann_candidates(corpus, **lsh_kwargs)
    u = unit_vectors(corpus).localCheckpoint()
    a = u.select(F.col("vec_id").alias("id_a"), F.col("vn").alias("va"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("vn").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cos_sim", dot(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
        .distinct()
    )


def ivf_fixed_centroids():
    """``IVF_CELLS`` seeded Gaussian coarse-quantizer centroids of
    ``DEFAULT_DIM`` dimensions (numpy PCG64, seed ``IVF_SEED``) — a FIXED
    quantizer whose cell assignment is a pure expression of the input
    vector, so the whole IVF pipeline is deterministic and SQL-replayable
    (unlike k-means, whose result depends on partitioning/iteration order).
    Quality sits between random projection and trained k-means; the trained
    variant remains :func:`ivf_index`/:func:`ivf_topk`."""
    import numpy as np

    return np.random.default_rng(IVF_SEED).standard_normal((IVF_CELLS, DEFAULT_DIM))


def _ivf_cell_sims_sql(vec: str, norm: str) -> str:
    """Per-cell cosine array as ONE parsed expression.  Fold-based dot per
    centroid: ``IVF_CELLS`` flat dot trees in one projection blow janino's 64 KB
    method limit, the fold stays compact; the norm is materialized as a row
    column shared across all cells (see sql_fold_dot)."""
    cents = ivf_fixed_centroids()
    # centroid norms as Python-side left-assoc sums — same doubles as the
    # engine folding the literal array, constant for the whole query
    cells = ",".join(
        f"({sql_fold_dot(vec, c)}) / ({norm} * sqrt({sum(float(x) * float(x) for x in c)!r}D))"
        for c in cents
    )
    return f"array({cells})"


def ivf_fixed_assign(emb: DataFrame, keep_norm: bool = False) -> DataFrame:
    """Corpus side of IVF: (neighbor_id, nv, cell) — the ``vec_id``, the
    ``embedding`` and its cell = argmax-cosine centroid of the fixed
    ``IVF_CELLS`` quantizer (first index on ties) — one scan, no shuffle.

    ``keep_norm=True`` retains the already-computed ``vnorm`` column so a
    downstream exact-cosine verify can divide by it instead of re-folding
    sqrt(dot(nv, nv)) per candidate pair (dot_flat is bit-identical to the
    fold — same association order)."""
    out = (
        emb.select(F.col("vec_id").alias("neighbor_id"), as_double().alias("nv"))
        .withColumn("vnorm", F.sqrt(dot_flat(F.col("nv"), F.col("nv"))))
        .withColumn(
            "sims",
            F.expr(_ivf_cell_sims_sql("nv", "vnorm")),
        )
        .withColumn(
            "cell", (F.expr("array_position(sims, array_max(sims))") - 1).cast("int")
        )
        .drop("sims")
    )
    return out if keep_norm else out.drop("vnorm")


def _ivf_probe_cells(queries: DataFrame) -> DataFrame:
    """Query side of IVF over the ``(vec_id, embedding)`` queries:
    (query_id, qv, qn, cell, cell_sim) — one row per (query, cell) of the
    fixed ``IVF_CELLS`` quantizer, ranked downstream to the n_probe best.
    ``qn`` is the query norm, carried so the exact verify divides by it
    instead of re-folding it per candidate (dot_flat == the fold bit for
    bit)."""
    q = queries.select(F.col("vec_id").alias("query_id"), as_double().alias("qv"))
    return q.withColumn(
        "vnorm", F.sqrt(dot_flat(F.col("qv"), F.col("qv")))
    ).select(
        "query_id",
        "qv",
        F.col("vnorm").alias("qn"),
        F.posexplode(
            F.expr(_ivf_cell_sims_sql("qv", "vnorm"))
        ).alias("cell", "cell_sim"),
    )


def ivf_fixed_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF top-``TOPK`` over the FIXED quantizer: assign each corpus vector
    to the argmax-cosine centroid cell of ``IVF_CELLS`` (first index on
    ties), probe the ``IVF_PROBES`` best cells per query, exact-rank inside
    them.  Every step is a deterministic expression over literals — fully
    oracle-checkable.

    Scale shape: assignment is one scan (16 literal-dot folds in codegen);
    the probe join is keyed on the cell (at 100 TB, PARTITION the stored
    corpus by cell so probing is partition pruning, not a shuffle)."""
    corpus = ivf_fixed_assign(emb, keep_norm=True)
    qs = _ivf_probe_cells(queries)
    wp = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell"))
    probe = (
        qs.withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= IVF_PROBES)
        .select("query_id", "qv", "qn", "cell")
    )
    cand = corpus.join(probe, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # norms ride the rows (computed once per vector in assign/probe) —
    # cosine() would re-fold both sqrt(dot(v, v)) terms per candidate; the
    # division below is the identical double arithmetic (guide §1.2)
    scored = cand.withColumn(
        "cos_sim",
        dot(F.col("qv"), F.col("nv")) / (F.col("qn") * F.col("vnorm")),
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank")
    )


# -- IVF (inverted-file) ANN -------------------------------------------------


def ivf_index(emb: DataFrame) -> tuple[DataFrame, list[list[float]]]:
    """Coarse quantizer: k-means (MLlib, ``IVF_CELLS`` cells, seed
    ``IVF_SEED``) over the ``(vec_id, embedding)`` corpus; every vector is
    assigned to its nearest centroid's cell.  Returns the cell-assigned
    ``(vec_id, v, cell)`` corpus and the centroid list.

    At 100 TB: train on a sample, assign in one scan, and PARTITION the
    stored table by cell — each query then reads only n_probe cells
    (partition pruning does the candidate selection).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array  # noqa: F401

    from lvm_datapipe_spark.operators.graph import observed_checkpoint

    id_col = "vec_id"
    # pins the multi-pass fit's input; its job counts the rows k needs
    vecs, seen = observed_checkpoint(
        emb.select(F.col(id_col), as_double().alias("v"))
        # a NULL vector cannot be assigned to a cell (and crashes the
        # KMeans fit) — un-indexable rows are dropped, matching the
        # brute-force/LSH paths where a null cosine filters out
        .filter(F.col("v").isNotNull())
        .withColumn("features", array_to_vector(F.col("v")))
    )
    n = seen["n_rows"]
    if n == 0:
        # MLlib KMeans cannot fit zero rows; an empty corpus has a
        # well-defined IVF answer (no cells, no candidates) — return it
        # instead of an opaque fit error
        empty = vecs.select(id_col, "v", F.lit(0).alias("cell")).limit(0)
        return empty, []
    if n == 1:
        # KMeans also rejects k=1; one row IS its own (only) centroid
        row = vecs.select(id_col, "v").first()
        return (
            vecs.select(id_col, "v", F.lit(0).alias("cell")),
            [[float(x) for x in row["v"]]],
        )
    km = KMeans(
        k=min(IVF_CELLS, n), seed=IVF_SEED, featuresCol="features",
        predictionCol="cell",
    )
    # k-means|| seeds and iterates per partition, so the fit input gets a
    # fixed layout: without it the cells (and the answers) follow the
    # scan's core-count-dependent partitioning
    model = km.fit(vecs.repartition(8, id_col).sortWithinPartitions(id_col))
    assigned = model.transform(vecs).select(id_col, "v", "cell")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF approximate top-``TOPK``: probe only the ``IVF_PROBES`` of the
    ``IVF_CELLS`` cells whose centroids are most cosine-similar to the
    query, then exact-rank inside them.  Work per query drops from |corpus|
    to ~|corpus|·IVF_PROBES/IVF_CELLS (probing every cell → exact).
    """
    assigned, centroids = ivf_index(emb)

    q = queries.select(F.col("vec_id").alias("query_id"), as_double().alias("qv"))
    if not centroids:  # empty corpus: no cells, no neighbors
        return q.select(
            "query_id",
            F.col("query_id").alias("neighbor_id"),
            F.lit(0).alias("rank"),
        ).limit(0)
    cent_rows = [(i, c) for i, c in enumerate(centroids)]
    cents = q.sparkSession.createDataFrame(cent_rows, ["cell", "centroid"]).withColumn(
        "centroid", F.col("centroid").cast("array<double>")
    )
    # rank cells per query by centroid cosine; keep the n_probe best
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "cell_sim", cosine(F.col("qv"), F.col("centroid"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell"))
    probe = (
        qc.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= IVF_PROBES)
        .select("query_id", "qv", "cell")
    )
    # candidates = corpus rows in probed cells only (at scale: partition
    # pruning on the cell column), then exact cosine rank.  Norms are folded
    # once per vector on each side instead of per candidate row — identical
    # doubles (dot/l2_norm share one association order), a third of the
    # per-candidate HOF work (guide §1.2)
    assigned = assigned.withColumn("_vn", l2_norm(F.col("v")))
    probe = probe.withColumn("_qn", l2_norm(F.col("qv")))
    cand = assigned.join(probe, "cell").filter(F.col("vec_id") != F.col("query_id"))
    scored = cand.withColumn(
        "cos_sim",
        dot(F.col("qv"), F.col("v")) / (F.col("_qn") * F.col("_vn")),
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization — the storage format a
    100 TB vector corpus actually persists (4× smaller than float32, 8× vs
    float64; recall loss negligible for near-dup/ANN workloads).

    scale = max|x| / n_levels;  q_i = clamp(floor(x_i/scale + 0.5), ±n_levels)

    floor(x+0.5) is used instead of round() deliberately: round() half-even
    vs half-up semantics differ between engines, floor does not — every step
    (abs-max, divide, floor, clamp, int cast) is bit-portable, so the
    quantized codes are oracle-checkable.  Zero vectors quantize to all-zero
    codes with scale 0 (guarded, no division).  One narrow projection — no
    shuffle, runs at scan speed.
    """
    n_levels = 127
    v = as_double()
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / float(n_levels)
    lv = float(n_levels)
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.least(
                F.greatest(F.floor(x / scale + 0.5), F.lit(-lv)), F.lit(lv)
            ).cast("int"),
        )
    )
    return emb.select(
        F.col("vec_id"),
        scale.alias("scale"),
        q.alias("q"),
    )


# -- product quantization (PQ) -----------------------------------------------


def pq_codebooks(m: int, ksub: int, dsub: int, seed: int):
    """Seeded Gaussian PQ codebooks, shape (m, ksub, dsub) — a FIXED
    quantizer in the ivf_fixed_centroids spirit: every code assignment is
    a pure expression of the input vector, so encode + ADC search are
    deterministic and SQL-replayable (a trained k-means codebook would
    depend on partitioning/iteration order).  m subvectors × ksub
    centroids compress a dim-double vector to m small ints — at 100 TB
    the 64-dim float corpus (256 B/vec) becomes m bytes/vec (8× at the
    m=32 default, 32× at m=8), which is what makes exhaustive ADC
    ranking affordable as a scan.  The m=32/ksub=8 default is the
    measured recall sweet spot for untrained codebooks on this corpus
    (recall@10 ≈ 0.4 vs 0.24 at m=8/ksub=16 — finer subvectors forgive
    random centroids more than wider codebooks do).

    Draws are scaled to 1/sqrt(m·dsub): for UNIT-NORM embeddings (this
    corpus) each component is ~N(0, 1/dim), so matching the codebook
    spread to the data spread keeps the 16 centroids discriminative —
    unscaled N(0,1) centroids all sit far outside the data shell and
    every subvector collapses onto the nearest-to-origin code (measured:
    recall@10 0.04 unscaled → ~0.5 scaled)."""
    import numpy as np

    dim = m * dsub
    rng = np.random.default_rng(seed)
    return rng.standard_normal((m, ksub, dsub)) / float(np.sqrt(dim))


def _pq_dists_sql(j: int, cb_j, dsub: int) -> str:
    """Per-centroid squared-L2 array for subvector j of ``nv`` as ONE parsed
    expression: ksub compact zip_with folds over slice(nv) — the same
    janino-safe shape as _ivf_cell_sims_sql (flat 8-term trees × 128
    centroids would blow the 64 KB method limit)."""
    start = j * dsub + 1
    cells = ",".join(
        f"aggregate(zip_with(slice(nv, {start}, {dsub}), "
        + "array(" + ",".join(f"{float(c)!r}D" for c in cent) + "), "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v)"
        for cent in cb_j
    )
    return f"array({cells})"


def _pq_cb_sql(cbs) -> str:
    """The whole (m, ksub, dsub) codebook as ONE literal nested-array SQL
    text (array<array<array<double>>>) — a single constant in the plan
    instead of m*ksub scattered literal arrays."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(sql_lit_array(cent) for cent in cb_j) + ")"
            for cb_j in cbs
        )
        + ")"
    )


def _pq_dists_j_sql(vec_sql: str, cbs, dsub: int) -> str:
    """Per-centroid squared-L2 array for the RUNTIME subvector index ``j``
    (a lambda variable) — the same slice/zip_with/aggregate fold (same
    association order, same 0.0 seed) as :func:`_pq_dists_sql`, but with
    the subvector index as an expression so one nested ``transform``
    covers all m subspaces."""
    return (
        f"transform(element_at({_pq_cb_sql(cbs)}, j + 1), cent -> "
        f"aggregate(zip_with(slice({vec_sql}, j * {dsub} + 1, {dsub}),"
        " cent, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, v2) -> acc + v2))"
    )


def _pq_codes_sql(cbs, m: int, dsub: int) -> str:
    """All m PQ codes of ``nv`` as ONE array<int> expression (argmin with the
    array_position first-index-on-ties convention — element-identical to
    m per-subspace argmin columns; pinned by tests).  Collapsing the m
    literal-heavy code columns into a single nested transform cuts the
    analyzer/codegen surface ~m-fold — measured 7.7 → 3.1 s on the
    declared IVF-PQ query at sf0.1, where per-stage planning and janino
    compilation of 64 giant expression trees dominated (guide §7.3).  Each
    subspace's distance array is computed once, then reduced to its
    argmin."""
    return (
        f"transform({_pq_all_dists_sql('nv', cbs, m, dsub)}, "
        "ds -> cast(array_position(ds, array_min(ds)) - 1 as int))"
    )


def _pq_all_dists_sql(vec: str, cbs, m: int, dsub: int) -> str:
    """All m per-centroid distance arrays of ``vec`` as ONE
    array<array<double>> expression: a query's LUTs (``qv``), or the
    arrays a corpus vector's codes take the argmin of (``nv``) —
    value-identical to m per-subspace columns (same fold)."""
    return f"transform(sequence(0, {m - 1}), j -> {_pq_dists_j_sql(vec, cbs, dsub)})"


#: ADC distance over the nested columns: ((0.0 + t_0) + t_1) + ... is
#: bit-identical to the old t_0 + t_1 + ... left-associated column sum
#: (the leading 0.0 + is exact).
_PQ_ADC_DIST_SQL = (
    "aggregate(zip_with(luts, codes, (l, c) -> element_at(l, c + 1)), "
    "0.0D, (acc, v2) -> acc + v2)"
)


def pq_adc_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Asymmetric-distance (ADC) top-``TOPK``: queries keep full precision, the
    corpus is ranked through its PQ codes — approx ||q − x||² = Σ_j
    lut_j[code_j] with lut_j the query's per-centroid distance table for
    subvector j.

    Scale shape: the corpus side touches ONLY the m int codes (a scan of
    the 8-byte-per-vector code table — this is PQ's whole point); the
    query side (tiny) computes its m×ksub LUT once per query and
    BROADCASTS, so the per-pair distance is m flat element_at lookups in
    whole-stage codegen; one query-keyed window takes the top-k.  Exclude
    self-matches; ties break to the lower neighbor id."""
    m = PQ_SUBSPACES
    dsub = DEFAULT_DIM // m
    cbs = pq_codebooks(m, PQ_KSUB, dsub, PQ_SEED)
    # nested single-expression codes/LUTs (see _pq_codes_sql): element-
    # identical to an m-column codes/lut_j form, ~m-fold less
    # analyzer/codegen surface
    codes = emb.select(
        F.col("vec_id").alias("neighbor_id"), as_double().alias("nv")
    ).select(
        "neighbor_id", F.expr(_pq_codes_sql(cbs, m, dsub)).alias("codes")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), as_double().alias("qv")
    ).select(
        "query_id", F.expr(_pq_all_dists_sql("qv", cbs, m, dsub)).alias("luts")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        codes.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.expr(_PQ_ADC_DIST_SQL))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivfpq_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-PQ — the FAISS-standard production ANN layout, composed from
    the two fixed quantizers already in this module: the IVF coarse cells
    prune WHICH corpus slices each query touches (partition pruning at
    the store level, a keyed equi-join here), and PQ codes compress WHAT
    is read per candidate (m bytes instead of the full vector).  Corpus
    side: one scan computes cell + codes (no shuffle); query side probes
    its ``IVF_PROBES`` best cells and broadcasts per-subvector LUTs; candidates
    rank by ADC distance inside probed cells only.  Both quantizers are
    seeded literals, so the full pipeline stays SQL-replayable."""
    m = PQ_SUBSPACES
    dsub = DEFAULT_DIM // m
    cbs = pq_codebooks(m, PQ_KSUB, dsub, PQ_SEED)
    corpus = ivf_fixed_assign(emb)
    # nested single-expression codes/LUTs (see _pq_codes_sql): element-
    # identical to the m-column form, ~m-fold less analyzer/codegen
    # surface — measured 7.7 → 3.1 s on the declared query at sf0.1
    corpus = corpus.select(
        "neighbor_id",
        "cell",
        F.expr(_pq_codes_sql(cbs, m, dsub)).alias("codes"),
    )
    qs = _ivf_probe_cells(queries)
    wp = Window.partitionBy("query_id").orderBy(F.desc("cell_sim"), F.asc("cell"))
    probe = (
        qs.withColumn("_r", F.row_number().over(wp))
        .filter(F.col("_r") <= IVF_PROBES)
        .select("query_id", "qv", "cell")
    )
    probe = probe.select(
        "query_id",
        "cell",
        F.expr(_pq_all_dists_sql("qv", cbs, m, dsub)).alias("luts"),
    )
    wr = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        corpus.join(F.broadcast(probe), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adc_dist", F.expr(_PQ_ADC_DIST_SQL))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def semdedup_keep(emb: DataFrame) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
    by clustering embeddings, then dropping within-cluster items whose cosine
    to another cluster member reaches ``SEMDEDUP_EPS``, keeping — per the paper's
    best-performing variant — the member with the LOWEST similarity to its
    centroid.

    This implementation uses the repo's FIXED coarse quantizer
    (:func:`ivf_fixed_centroids`) instead of trained k-means so the whole
    pipeline is a deterministic expression over literals and fully
    oracle-checkable; the trained quantizer drops in via :func:`ivf_index`
    without changing the plan shape.  The paper's per-cluster duplicate-group
    reduction is expressed as a deterministic DOMINANCE rule: a vector is
    removed iff some same-cell neighbor with cosine >= SEMDEDUP_EPS has strictly lower
    centroid-similarity (ties broken by lower id).  Chains (a~b~c with a!~c)
    may keep more than one representative — the connected-components-exact
    variant is ``lsh_near_dup_pairs`` + ``graph.connected_components``.

    Plan shape (scales to 100 TB): cell assignment is one scan (IVF_CELLS
    literal-dot folds in codegen, no shuffle); candidate pairs meet on a
    cell equi-self-join — pair blow-up is bounded by cell size (size cells
    via IVF_CELLS ~ corpus/target_cell_size, as SemDeDup does with k=50000 for
    LAION), never corpus x corpus; the removal set is a keyed anti-join.

    Returns ``(vec_id, cell, centroid_sim, keep)`` for every input vector.
    """
    a = (
        emb.select("vec_id", as_double().alias("v"))
        .withColumn("nrm", F.sqrt(dot_flat(F.col("v"), F.col("v"))))
        .withColumn("sims", F.expr(_ivf_cell_sims_sql("v", "nrm")))
        .withColumn(
            "cell", (F.expr("array_position(sims, array_max(sims))") - 1).cast("int")
        )
        .withColumn("centroid_sim", F.array_max("sims"))
        .withColumn("vn", F.expr("transform(v, x -> x / nrm)"))
        .select("vec_id", "cell", "centroid_sim", "vn")
        # the assignment scan (IVF_CELLS literal-dot folds per row) feeds both
        # sides of the pair join AND the final output — checkpoint so it
        # runs once, not three times (measured 6.6 s -> ~4 s at sf0.1)
        .localCheckpoint()
    )
    lhs = a.select(
        F.col("vec_id").alias("id_a"),
        "cell",
        F.col("centroid_sim").alias("cs_a"),
        F.col("vn").alias("va"),
    )
    rhs = a.select(
        F.col("vec_id").alias("id_b"),
        "cell",
        F.col("centroid_sim").alias("cs_b"),
        F.col("vn").alias("vb"),
    )
    removed = (
        lhs.join(rhs, "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .filter(dot(F.col("va"), F.col("vb")) >= F.lit(SEMDEDUP_EPS))
        .filter(
            (F.col("cs_a") < F.col("cs_b"))
            | ((F.col("cs_a") == F.col("cs_b")) & (F.col("id_a") < F.col("id_b")))
        )
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_removed", F.lit(True))
    )
    out = a.join(removed, "vec_id", "left").select(
        "vec_id", "cell", "centroid_sim", F.col("_removed").isNull().alias("keep")
    )
    return out


def _cell_assigned(emb: DataFrame) -> DataFrame:
    """Non-NULL vectors with their norm ``nrm``, their cosine ``sims`` to
    each fixed-quantizer centroid, their ``cell`` (the argmax) and the unit
    vector ``vn``: the one-scan prologue of the per-cell greedy
    selections.  A NULL vector cannot join a similarity chain — it is
    dropped, matching the ivf_index null-payload rule."""
    return (
        emb.select("vec_id", as_double().alias("v"))
        .filter(F.col("v").isNotNull())
        .withColumn("nrm", F.sqrt(dot_flat(F.col("v"), F.col("v"))))
        .withColumn("sims", F.expr(_ivf_cell_sims_sql("v", "nrm")))
        .withColumn(
            "cell", (F.expr("array_position(sims, array_max(sims))") - 1).cast("int")
        )
        .withColumn("vn", F.expr("transform(v, x -> x / nrm)"))
    )


def _per_cell(a: DataFrame, walk) -> DataFrame:
    """Run ``walk`` (one cell's rows -> its picked ``vec_id`` list, in
    order) as ONE ``applyInPandas`` over the cell groups of ``a``; returns
    ``(vec_id, cell, pos)`` with ``pos`` the 1-based slot in that order.
    The UDF keeps ``walk``'s name, so plans name the walk."""
    import functools

    import pandas as pd

    @functools.wraps(walk)
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = walk(pdf)
        cell = int(pdf["cell"].iloc[0])
        return pd.DataFrame(
            {"vec_id": ids, "cell": [cell] * len(ids), "pos": range(1, len(ids) + 1)}
        )

    return a.groupBy("cell").applyInPandas(run, "vec_id long, cell int, pos long")


def icl_chain_order(emb: DataFrame) -> DataFrame:
    """In-Context Pretraining document ordering (Shi et al. 2023,
    arXiv:2310.10638): place semantically related documents next to each
    other in the training stream by traversing each similarity cluster as a
    greedy nearest-neighbor path.  Cells come from the repo's FIXED coarse
    quantizer (deterministic, SQL-replayable — the SemDeDup choice); within
    each cell the chain starts at the lowest id and repeatedly hops to the
    most-similar unvisited member (ties to the lower id), which is the
    paper's degree-bounded graph traversal specialized to a path.

    Returns ``(vec_id, cell, pos)`` — pos is the document's slot in its
    cell's stream; a dataloader concatenates cells in cell order.

    Plan shape: cell assignment is the one-scan literal-dot fold shared with
    the IVF/SemDeDup family (no shuffle); the traversal is ONE
    ``applyInPandas`` over cell groups — per-cell cost is O(cell² · dim),
    which is the published algorithm's cost model, and cell size is
    controlled by IVF_CELLS exactly as in SemDeDup (k=50000 for LAION-scale).
    The UDF computes every dot as an explicit LEFT-ASSOCIATED fold so the
    comparisons that drive the traversal are bit-identical to the SQL
    oracle's fold — the ordering is reproducible across engines, batch
    sizes, and partitionings.
    """
    a = _cell_assigned(emb).select("vec_id", "cell", "vn")

    def chain(pdf):
        import numpy as np

        # Vectorized greedy walk, bit-identical to the scalar left-fold scan:
        # the per-candidate dot is row-wise cumsum(x*y)[-1] — numpy's cumsum
        # accumulates STRICTLY sequentially (unlike add.reduce/np.dot, which
        # use pairwise/blocked summation), so each value equals the scalar
        # ((0.0+p0)+p1)+... fold double for double; and np.argmax takes the
        # FIRST occurrence of the max over ascending-id rows, which is
        # exactly the old "first strict improvement wins" tie rule.  The
        # per-cell cost drops from interpreted O(cell²·dim) Python to
        # vectorized numpy (measured ~5× on the declared corpus).
        srt = pdf.sort_values("vec_id")
        ids = srt["vec_id"].to_numpy()
        mat = np.array([list(v) for v in srt["vn"]], dtype=np.float64)
        n = len(ids)
        alive = np.ones(n, dtype=bool)
        alive[0] = False  # ascending sort ⇒ row 0 is min(ids), the seed
        order = [int(ids[0])]
        curv = mat[0]
        for _ in range(n - 1):
            idxs = np.nonzero(alive)[0]
            dots = np.cumsum(mat[idxs] * curv, axis=1)[:, -1]
            if np.isnan(dots).any():
                # NaN ordering under the scalar scan ("c > best is False for
                # NaN") differs from argmax's NaN propagation — replay the
                # exact scan for this step (never taken on finite inputs)
                best_j, best_c = 0, dots[0]
                for jj in range(1, len(dots)):
                    if dots[jj] > best_c:
                        best_j, best_c = jj, dots[jj]
                j = idxs[best_j]
            else:
                j = idxs[int(np.argmax(dots))]
            order.append(int(ids[j]))
            alive[j] = False
            curv = mat[j]
        return order

    return _per_cell(a, chain)


def kcenter_coreset(emb: DataFrame) -> DataFrame:
    """Greedy k-center CORESET selection (Sener & Savarese 2018,
    arXiv:1708.00489 — the active-learning/data-pruning selection rule):
    within each quantizer cell, start from the lowest id and repeatedly add
    the point FARTHEST from the current selection (max over candidates of
    min cosine distance to any selected point; ties to the lower id), up to
    ``KCENTER_K`` representatives per cell.  The selected set is the 2-approximate
    k-center cover — the diversity-preserving subsample that keeps one
    exemplar per region instead of one per duplicate-cluster (SemDeDup's
    complementary failure mode).

    Returns ``(vec_id, cell, pos)`` for SELECTED points only; pos is the
    selection order (pos=1 is the seed, early picks are the most spread).

    Plan shape: identical family to :func:`icl_chain_order` — one-scan cell
    assignment, one ``applyInPandas`` per cell group, per-cell cost
    O(k · cell · dim).  Distances are exact left-fold cosines so the
    traversal decisions replay bit-identically in the recursive SQL oracle.
    """
    a = _cell_assigned(emb).select("vec_id", "cell", "vn")
    k = KCENTER_K

    def select_cell(pdf):
        ids = pdf["vec_id"].tolist()
        by_id = dict(zip(ids, (list(v) for v in pdf["vn"].tolist())))

        def dist(x, y):
            acc = 0.0
            for i in range(len(x)):
                acc += x[i] * y[i]
            return 1.0 - acc

        seed_id = min(ids)
        chosen = [seed_id]
        mind = {
            i: dist(by_id[seed_id], by_id[i]) for i in ids if i != seed_id
        }
        while mind and len(chosen) < k:
            best_id, best_d = None, None
            for cand in sorted(mind):
                d = mind[cand]
                if best_d is None or d > best_d:
                    best_id, best_d = cand, d
            chosen.append(best_id)
            del mind[best_id]
            bv = by_id[best_id]
            for cand in mind:
                d = dist(bv, by_id[cand])
                if d < mind[cand]:
                    mind[cand] = d
        return chosen

    return _per_cell(a, select_cell)


#: MMR trade-off weight and its complement — computed ONCE in Python so the
#: Spark UDF and the SQL oracle score candidates with the same two doubles.
MMR_LAMBDA = 0.7
MMR_ONE_MINUS_LAMBDA = 1.0 - MMR_LAMBDA


def mmr_select(emb: DataFrame) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE selection (Carbonell & Goldstein 1998,
    SIGIR) — the relevance-vs-redundancy greedy rule used to pick diverse
    in-context examples / retrieval results: repeatedly add the candidate
    maximizing ``lambda*rel(c) - (1-lambda)*max_{s in S} sim(c, s)``.
    Relevance here is the candidate's cosine to its quantizer-cell centroid
    (the shared fixed-literal quantizer), redundancy the max cosine to
    anything already selected; the seed is the most relevant point.  Where
    :func:`kcenter_coreset` maximizes pure spread, MMR trades spread against
    staying close to the query/topic — lambda=1 degenerates to top-k by
    relevance, lambda=0 to farthest-point diversity.

    Returns ``(vec_id, cell, pos)`` for selected points, pos = pick order.

    Plan shape: identical family to kcenter_coreset — one-scan cell+rel
    assignment, one ``applyInPandas`` per cell, O(k · cell · dim) per cell.
    Scores are exact left-fold doubles with shared literal constants, so the
    greedy decisions replay bit-identically in a recursive SQL oracle."""
    a = (
        _cell_assigned(emb)
        .withColumn("rel", F.expr("array_max(sims)"))
        .select("vec_id", "cell", "rel", "vn")
    )

    def select_cell(pdf):
        ids = pdf["vec_id"].tolist()
        by_id = dict(zip(ids, (list(v) for v in pdf["vn"].tolist())))
        rel = dict(zip(ids, pdf["rel"].tolist()))

        def sim(x, y):
            acc = 0.0
            for i in range(len(x)):
                acc += x[i] * y[i]
            return acc

        seed_id, seed_r = None, None
        for i in sorted(ids):
            if seed_r is None or rel[i] > seed_r:
                seed_id, seed_r = i, rel[i]
        chosen = [seed_id]
        maxsim = {
            i: sim(by_id[seed_id], by_id[i]) for i in ids if i != seed_id
        }
        while maxsim and len(chosen) < 8:
            best_id, best_s = None, None
            for cand in sorted(maxsim):
                s = MMR_LAMBDA * rel[cand] - MMR_ONE_MINUS_LAMBDA * maxsim[cand]
                if best_s is None or s > best_s:
                    best_id, best_s = cand, s
            chosen.append(best_id)
            del maxsim[best_id]
            bv = by_id[best_id]
            for cand in maxsim:
                s = sim(bv, by_id[cand])
                if s > maxsim[cand]:
                    maxsim[cand] = s
        return chosen

    return _per_cell(a, select_cell)
