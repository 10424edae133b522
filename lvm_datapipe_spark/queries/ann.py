"""Vector and retrieval queries over ``embeddings``: exact, LSH, IVF and PQ
nearest neighbours, ranking, and embedding-quality readouts."""

from __future__ import annotations

from decimal import Decimal
from math import sqrt as _sqrt

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators import ranking as RK
from lvm_datapipe_spark.operators import similarity as V
from lvm_datapipe_spark.operators import text as X
from lvm_datapipe_spark.operators.ranking import BM25_TERMS
from lvm_datapipe_spark.operators.similarity import (
    DEFAULT_DIM,
    IVF_CELLS,
    IVF_PROBES,
    MMR_LAMBDA,
    MMR_ONE_MINUS_LAMBDA,
    PQ_KSUB,
    PQ_SEED,
    PQ_SUBSPACES,
    _pq_dists_sql,
    _sql_sign_bit,
    as_double,
    brute_force_topk,
    cosine,
    dot_flat,
    icl_chain_order,
    ivf_fixed_assign,
    ivf_fixed_topk,
    ivf_topk,
    ivfpq_topk,
    kcenter_coreset,
    lsh_table_planes,
    mmr_select,
    pq_adc_topk,
    pq_codebooks,
    quantize_embeddings,
)
from lvm_datapipe_spark.queries._shared import (
    ORACLE_SQL,
    _HASHED_COUNTS_SQL,
    _PART_PAIRS_SQL,
    _SQL_LTOKS,
    _cap_baskets_sql,
    _capped_baskets,
    _dot_sql,
    _ivf_sims_sql,
    _lsh_buckets_sql,
    _lsh_near_dup_sql,
    _q,
)


def _cos_sql(a: str, b: str) -> str:
    dim = DEFAULT_DIM
    return (
        f"({_dot_sql(a, b, dim)}) / "
        f"(sqrt({_dot_sql(a, a, dim)}) * sqrt({_dot_sql(b, b, dim)}))"
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@_q(
    "ann_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_cos_sql('qv', 'v')} AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k (the ANN baseline): 10 query vectors
    against the full embeddings table, top-10 neighbors each."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return V.brute_force_topk(emb, queries)


# Scale-path embedding near-dup (hyperplane LSH candidates → exact cosine
# verify).  Fully oracle-checked: fixed seeds make the candidate set
# deterministic, so DuckDB replays the same plane literals (no corpus×corpus
# crossJoin anywhere in this plan — see tests/test_plan_quality.py).
@_q("ann_lsh_near_dup", _lsh_near_dup_sql())
def ann_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH near-duplicate pairs over embeddings: 8
    signed-projection bucket tables in one scan, (table, bucket) equi-self-
    join, exact cosine verify at threshold 0.4 -- never all-pairs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return V.lsh_near_dup_pairs(emb, threshold=0.4)


# IVF ANN scale path (k-means coarse quantizer + cell probing). Clustering-
# dependent → rows-only check; tests/test_dedup_similarity asserts recall vs
# the exact baseline and probe-all == exact.
@_q("ann_ivf_topk")
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN top-k: iterative centroid refinement, cell
    assignment, probe-limited search (rows-only: centroids depend on
    iteration order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(emb, queries)


def _pq_dists_list_sql(vec: str, j: int) -> str:
    """Oracle list of the squared distances from subvector ``j`` of ``vec``
    to each of the PQ_KSUB seeded codewords of subspace ``j``, every sum in
    the Spark fold's left-to-right order."""
    dsub = DEFAULT_DIM // PQ_SUBSPACES
    cbs = pq_codebooks(PQ_SUBSPACES, PQ_KSUB, dsub, PQ_SEED)

    def dist(cent) -> str:
        s = j * dsub
        terms = " + ".join(
            f"(({vec}[{s + i + 1}] - CAST('{float(cent[i])!r}' AS DOUBLE))"
            f" * ({vec}[{s + i + 1}] - CAST('{float(cent[i])!r}' AS DOUBLE)))"
            for i in range(dsub)
        )
        return f"(0.0 + {terms})"

    return "[" + ", ".join(dist(cbs[j][c]) for c in range(PQ_KSUB)) + "]"


def _ivf_fixed_sql() -> str:
    """DuckDB replay of the fixed-quantizer IVF: seeded centroid literals,
    first-index argmax cell assignment, probe ranking and final cosine
    ranking with identical tie-breaks."""
    n_cells = IVF_CELLS
    n_probe = IVF_PROBES
    k = 10
    sims = _ivf_sims_sql()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS neighbor_id, v AS nv, {sims} AS sims FROM e),
    c AS (SELECT neighbor_id, nv,
                 CAST(list_indexof(sims, list_max(sims)) - 1 AS INTEGER) AS cell
          FROM c0),
    q0 AS (SELECT vec_id AS query_id, v AS qv, {sims} AS sims
           FROM e WHERE vec_id < 10),
    qs AS (SELECT query_id, qv, u.i AS cell, sims[u.i + 1] AS cell_sim
           FROM q0 CROSS JOIN (SELECT unnest(generate_series(0, {n_cells - 1})) AS i) u),
    probe AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cell_sim DESC, cell) AS rn
        FROM qs) WHERE rn <= {n_probe}),
    cand AS (
      SELECT p.query_id, c.neighbor_id, {_cos_sql('p.qv', 'c.nv')} AS cos_sim
      FROM probe p JOIN c ON c.cell = p.cell AND c.neighbor_id <> p.query_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS rank
    FROM cand
    QUALIFY rank <= {k}
    """


# Fixed-quantizer IVF: deterministic centroid literals make the whole
# pipeline (cell argmax, probe ranking, final cosine rank) SQL-replayable —
# the oracle-checked counterpart of the k-means ivf_topk above.
@_q("ann_ivf_fixed_topk", _ivf_fixed_sql())
def ann_ivf_fixed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k with fixed seeded centroids, the deterministic oracle
    twin of [[ann_ivf_topk]]: probe only the query's closest cells, exact
    cosine inside."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_fixed_topk(emb, queries)


@_q(
    "embedding_quantize",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    s AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
          FROM e)
    SELECT vec_id, scale,
           CASE WHEN scale = 0
                THEN array_to_string(list_transform(v, x -> 0), ',')
                ELSE array_to_string(list_transform(v, x ->
                  CAST(least(greatest(floor(x / scale + 0.5), -127.0), 127.0) AS INTEGER)), ',')
           END AS q_csv
    FROM s
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of the embedding column
    (similarity.quantize_embeddings), with floor(x+0.5) for bit-portable
    rounding; codes projected to CSV for the hash gate."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(emb)
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.transform(F.col("q"), lambda x: x.cast("string"))).alias(
            "q_csv"
        ),
    )


@_q(
    "embedding_centroid_by_label",
    """
    WITH ex AS (
      SELECT label, u.pos AS pos, embedding[u.pos]::DOUBLE AS x
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) u)
    SELECT label, pos,
           CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / COUNT(x)
             AS centroid_value,
           COUNT(x) AS n_vectors
    FROM ex GROUP BY label, pos
    """,
)
def embedding_centroid_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class centroid of the embedding corpus — the building block for
    class-balanced sampling, label-noise detection, and IVF-style seeded
    quantizers."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos0", "x"),
    ).select("label", (F.col("pos0") + 1).alias("pos"), "x")
    return ex.groupBy("label", "pos").agg(
        (A.decimal_sum("x") / F.count("x")).alias("centroid_value"),
        F.count("x").alias("n_vectors"),
    )


def _pq_adc_sql() -> str:
    """DuckDB replay of the PQ/ADC path: the seeded codebooks embed as
    string-cast DOUBLE literals on both engines and every squared-distance
    sum follows the Spark fold's left-to-right order, so codes, LUT lookups
    and ranking are bit-identical."""
    m = PQ_SUBSPACES
    k = 10
    code_cols = ",\n             ".join(
        f"(list_position({_pq_dists_list_sql('v', j)}, list_min({_pq_dists_list_sql('v', j)})) - 1) AS code_{j}"
        for j in range(m)
    )
    lut_cols = ",\n             ".join(
        f"{_pq_dists_list_sql('v', j)} AS lut_{j}" for j in range(m)
    )
    adc = " + ".join(f"l.lut_{j}[c.code_{j} + 1]" for j in range(m))
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    codes AS (
      SELECT vec_id AS neighbor_id,
             {code_cols}
      FROM e),
    lut AS (
      SELECT vec_id AS query_id,
             {lut_cols}
      FROM e WHERE vec_id < 10),
    pairs AS (
      SELECT l.query_id, c.neighbor_id, ({adc}) AS adc_dist
      FROM codes c CROSS JOIN lut l
      WHERE c.neighbor_id <> l.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc_dist ASC, neighbor_id ASC)
                  AS INTEGER) AS rank
      FROM pairs)
    SELECT query_id, neighbor_id, rank, adc_dist FROM ranked WHERE rank <= {k}
    """


# Product-quantization ANN (ADC): the canonical 100 TB embedding-compression
# search — the corpus is ranked through 8 int codes (8 B/vector instead of
# 256 B), queries keep full precision via per-subvector lookup tables.
# Fixed seeded codebooks make encode + search SQL-replayable end to end.
@_q("ann_pq_adc_topk", _pq_adc_sql())
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC top-k (similarity.pq_adc_topk): corpus vectors compress to
    m=32 argmin-centroid codes in one scan; each of the 10 queries
    broadcasts its 32×8 distance LUT and one query-keyed window takes the
    top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_adc_topk(emb, queries)


def _ivfpq_sql() -> str:
    """DuckDB replay of IVF-PQ: the cell-assignment/probe CTEs of
    _ivf_fixed_sql composed with the PQ encode/LUT/ADC CTEs of _pq_adc_sql,
    every sum in the Spark fold's order."""
    n_cells = IVF_CELLS
    n_probe = IVF_PROBES
    k = 10
    m = PQ_SUBSPACES
    sims = _ivf_sims_sql()
    code_cols = ",\n             ".join(
        f"(list_position({_pq_dists_list_sql('v', j)}, list_min({_pq_dists_list_sql('v', j)})) - 1) AS code_{j}"
        for j in range(m)
    )
    lut_cols = ",\n             ".join(f"{_pq_dists_list_sql('qv', j)} AS lut_{j}" for j in range(m))
    adc = " + ".join(f"p.lut_{j}[c.code_{j} + 1]" for j in range(m))
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id AS neighbor_id, v, {sims} AS sims FROM e),
    c AS (SELECT neighbor_id,
                 CAST(list_indexof(sims, list_max(sims)) - 1 AS INTEGER) AS cell,
             {code_cols}
          FROM c0),
    q0 AS (SELECT vec_id AS query_id, v AS qv, {sims} AS sims
           FROM e WHERE vec_id < 10),
    qs AS (SELECT query_id, qv, u.i AS cell, sims[u.i + 1] AS cell_sim
           FROM q0 CROSS JOIN (SELECT unnest(generate_series(0, {n_cells - 1})) AS i) u),
    probe0 AS (
      SELECT query_id, qv, cell FROM (
        SELECT query_id, qv, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cell_sim DESC, cell) AS rn
        FROM qs) WHERE rn <= {n_probe}),
    probe AS (
      SELECT query_id, cell,
             {lut_cols}
      FROM probe0),
    cand AS (
      SELECT p.query_id, c.neighbor_id, ({adc}) AS adc_dist
      FROM c JOIN probe p ON c.cell = p.cell
      WHERE c.neighbor_id <> p.query_id)
    SELECT query_id, neighbor_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY adc_dist ASC, neighbor_id ASC) AS INTEGER) AS rank,
           adc_dist
    FROM cand
    QUALIFY rank <= {k}
    """


# IVF-PQ: the FAISS-standard layout — coarse cells prune WHICH corpus
# slices a query touches, PQ codes compress WHAT is read per candidate.
@_q("ann_ivfpq_topk", _ivfpq_sql())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (similarity.ivfpq_topk): IVF cell pruning by a keyed
    equi-join on the probed cells, then PQ/ADC ranking over m int codes."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(emb, queries)


@_q(
    "negatives_ring_by_lang",
    """
    WITH h AS (
      SELECT doc_id, lang, md5('ring1' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents),
    r AS (
      SELECT doc_id, lang, hk,
             lead(doc_id, 1) OVER w AS neg_1,
             lead(doc_id, 2) OVER w AS neg_2,
             first_value(doc_id) OVER w AS ring_first,
             nth_value(doc_id, 2) OVER w AS ring_second,
             CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS ring_n,
             CAST(row_number() OVER w AS BIGINT) AS pos
      FROM h
      WINDOW w AS (PARTITION BY lang ORDER BY hk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
    SELECT doc_id, lang,
           CASE WHEN ring_n < 2 THEN NULL
                WHEN neg_1 IS NULL THEN ring_first ELSE neg_1 END AS neg_1,
           CASE WHEN ring_n < 3 THEN NULL
                WHEN neg_2 IS NULL THEN
                  CASE WHEN pos = ring_n THEN ring_second ELSE ring_first END
                ELSE neg_2 END AS neg_2
    FROM r
    """,
)
def negatives_ring_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling: each doc gets the next 2
    same-language docs on a ring sorted by md5('ring1'||id), wrapping at the
    end."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.md5(F.concat(F.lit("ring1"), F.col("doc_id").cast("string")).cast("binary")).alias("hk"),
    )
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    wf = Window.partitionBy("lang").orderBy("hk", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wn = Window.partitionBy("lang")
    r = docs.select(
        "doc_id",
        "lang",
        F.lead("doc_id", 1).over(w).alias("neg_1_raw"),
        F.lead("doc_id", 2).over(w).alias("neg_2_raw"),
        F.first("doc_id").over(wf).alias("ring_first"),
        F.nth_value("doc_id", 2).over(wf).alias("ring_second"),
        F.count(F.lit(1)).over(wn).alias("ring_n"),
        F.row_number().over(w).cast("long").alias("pos"),
    )
    neg1 = F.when(F.col("ring_n") < 2, F.lit(None)).otherwise(
        F.coalesce(F.col("neg_1_raw"), F.col("ring_first"))
    )
    neg2 = F.when(F.col("ring_n") < 3, F.lit(None)).otherwise(
        F.coalesce(
            F.col("neg_2_raw"),
            F.when(F.col("pos") == F.col("ring_n"), F.col("ring_second"))
            .otherwise(F.col("ring_first")),
        )
    )
    return r.select(
        "doc_id", "lang", neg1.alias("neg_1"), neg2.alias("neg_2")
    )


def _ann_recall_sql() -> str:
    """Recall@10 oracle: the exact brute-force top-10 CTE joined against
    the fixed-quantizer IVF top-10 (both replayed with the same literals
    and tie-breaks as their standalone oracle-checked queries)."""
    exact_body = ORACLE_SQL["ann_cosine_topk"]
    ivf_body = _ivf_fixed_sql()
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({exact_body}) x),
    approx AS (SELECT query_id, neighbor_id FROM ({ivf_body}) a),
    base AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
             FROM exact GROUP BY query_id),
    hit AS (SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
            FROM exact e JOIN approx a
              ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
            GROUP BY e.query_id)
    SELECT b.query_id, b.n_exact,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / CAST(b.n_exact AS DOUBLE)
             AS recall
    FROM base b LEFT JOIN hit h ON b.query_id = h.query_id
    """


@_q("ann_recall_eval", _ann_recall_sql())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine ANN quality evaluation: recall@10 of the fixed-quantizer
    IVF (n_probe=4 of 16 cells) against the exact brute-force top-10, per
    query.

    Scale shape: inherits the probed-cell pruning of the IVF side and the
    broadcast-queries scan of the exact side. Both top-k outputs are
    k*|queries|-sized and are materialized via localCheckpoint before the
    recall join, so the two windowed literal-expression subplans are not
    re-planned inside the join stages. One left join with a hit flag plus
    one aggregate computes n_exact and n_hit in a single pass (the approx
    side's (query_id, neighbor_id) rows are unique, so the left join never
    duplicates an exact row)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = (
        brute_force_topk(emb, queries)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    approx = (
        ivf_fixed_topk(emb, queries)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
    )
    agg = (
        exact.join(
            approx.withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit"),
        )
    )
    return agg.select(
        "query_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.col("n_hit").cast("bigint").alias("n_hit"),
        (
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double")
        ).alias("recall"),
    )


def _cosines_to_vec0(emb: DataFrame) -> DataFrame:
    """``(vec_id, cos_sim)``: every other embedding's cosine to the query
    vector ``vec_id = 0``, broadcast across one scan."""
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(
            V.as_double().alias("qv")
        )
    )
    return (
        emb.crossJoin(q)
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            V.cosine(F.col("qv"), V.as_double()).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Retrieval: BM25 lexical ranking, hybrid lexical+vector fusion, skip-grams
# ---------------------------------------------------------------------------

def _bm25_lexagg_sql() -> str:
    """CTE chain computing per-doc BM25 scores from the same Python float
    literals as the Spark side's F.lit values (cast '::DOUBLE'), combining
    terms in the Spark side's fixed coalesce order."""
    k1 = 1.2
    b = 0.75
    in_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    combine = "\n          + ".join(
        f"COALESCE(MAX(CASE WHEN token = '{t}' THEN s END), 0.0)" for t in BM25_TERMS
    )
    return f"""
    tok AS (SELECT doc_id, unnest({_SQL_LTOKS}) AS token FROM documents),
    dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(dl) AS BIGINT) AS total_toks FROM dl),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
           WHERE token IN ({in_list}) GROUP BY doc_id, token),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    s AS (SELECT tf.doc_id, tf.token,
            ((CAST(n.n_docs AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5)
              / (CAST(dft.df AS DOUBLE) + 0.5))
            * (CAST(tf.tf AS DOUBLE) * '{k1 + 1.0!r}'::DOUBLE)
            / (CAST(tf.tf AS DOUBLE)
               + '{k1!r}'::DOUBLE * ('{1.0 - b!r}'::DOUBLE
                  + '{b!r}'::DOUBLE * (CAST(dl.dl AS DOUBLE)
                     / (CAST(n.total_toks AS DOUBLE)
                        / CAST(n.n_docs AS DOUBLE)))))
            AS s
          FROM tf JOIN dl USING (doc_id) JOIN dft USING (token) CROSS JOIN n),
    lexagg AS (SELECT doc_id, {combine} AS score FROM s GROUP BY doc_id)"""


@_q(
    "bm25_topk",
    f"""
    WITH {_bm25_lexagg_sql()}
    SELECT doc_id, score FROM lexagg ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: top-10 documents for a fixed 3-term query
    (log-free linear idf — see operators/ranking.py for the spec and the
    bit-portability rationale).

    Scale shape: the token stream is filtered to the query's terms BEFORE
    the (doc, term) aggregate, so the scoring shuffle is sized by those
    terms' posting lists, not the corpus; df (≤3 rows) and the corpus
    scalars broadcast; doc length is one scan-shaped keyed count; the
    final top-10 is TakeOrderedAndProject (per-task heaps, no global
    sort)."""
    docs = load_table(spark, sf_dir, "documents")
    scored = RK.bm25_scores(docs)
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(10)


@_q(
    "hybrid_rank_fusion",
    f"""
    WITH {_bm25_lexagg_sql()},
    lextop AS (SELECT doc_id, score FROM lexagg
               ORDER BY score DESC, doc_id LIMIT 50),
    lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS rank FROM lextop),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    sc AS (SELECT vec_id, {_cos_sql('qv', 'v')} AS cos_sim
           FROM e CROSS JOIN q WHERE vec_id <> 0),
    vectop AS (SELECT vec_id, cos_sim FROM sc
               ORDER BY cos_sim DESC, vec_id LIMIT 50),
    vec AS (SELECT vec_id AS doc_id,
                   ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS rank
            FROM vectop)
    SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
           COALESCE(1.0 / CAST(60 + lex.rank AS DOUBLE), 0.0)
           + COALESCE(1.0 / CAST(60 + vec.rank AS DOUBLE), 0.0) AS rrf
    FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
)
def hybrid_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of a BM25 lexical top-50 and
    an exact-cosine vector top-50 (query = embedding of vec_id 0; the tables
    share the 0..N id space, the classic doc/embedding sidecar layout).

    Scale shape: each leg's candidate list is a bounded top-50
    (TakeOrderedAndProject); the rank windows and the full-outer fusion join
    run over ≤50-row inputs, so nothing downstream of the two corpus scans
    grows with the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = RK.ranked_topk(RK.bm25_scores(docs), "score", "doc_id", 50)
    sc = _cosines_to_vec0(emb)
    vec = RK.ranked_topk(sc, "cos_sim", "vec_id", 50).withColumnRenamed(
        "vec_id", "doc_id"
    )
    fused = RK.rrf_fuse(lex, vec)
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)



@_q(
    "sparse_cosine_topk",
    f"""
    WITH {_HASHED_COUNTS_SQL},
    q AS (SELECT bucket, w AS qw FROM w WHERE doc_id = 0),
    qn AS (SELECT norm2 AS qnorm2 FROM nrm WHERE doc_id = 0),
    dots AS (
      SELECT w.doc_id, CAST(sum(w.w * q.qw) AS BIGINT) AS dot_i
      FROM w JOIN q USING (bucket)
      WHERE w.doc_id <> 0
      GROUP BY w.doc_id)
    SELECT d.doc_id,
           CAST(d.dot_i AS DOUBLE)
           / (sqrt(CAST(n.norm2 AS DOUBLE)) * sqrt(CAST(qn.qnorm2 AS DOUBLE)))
             AS cos_sim
    FROM dots d JOIN nrm n USING (doc_id) CROSS JOIN qn
    ORDER BY cos_sim DESC, doc_id LIMIT 10
    """,
)
def sparse_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine retrieval over the hashing-trick features: the top-10
    documents most similar to doc 0, by joining the broadcast query vector
    to the corpus postings on bucket."""
    docs = load_table(spark, sf_dir, "documents")
    w = X.hashed_counts(docs).localCheckpoint()
    nrm = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("norm2")
    )
    q = F.broadcast(
        w.filter(F.col("doc_id") == 0).select("bucket", F.col("w").alias("qw"))
    )
    qn = F.broadcast(
        nrm.filter(F.col("doc_id") == 0).select(F.col("norm2").alias("qnorm2"))
    )
    dots = (
        w.filter(F.col("doc_id") != 0)
        .join(q, "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).cast("long").alias("dot_i"))
    )
    cos = F.col("dot_i").cast("double") / (
        F.sqrt(F.col("norm2").cast("double")) * F.sqrt(F.col("qnorm2").cast("double"))
    )
    out = (
        dots.join(nrm, "doc_id")
        .crossJoin(qn)
        .select("doc_id", cos.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc("doc_id"))
        .limit(10)
    )
    return out


@_q(
    "item_item_cosine",
    f"""
    WITH b0 AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b0')},
    {_PART_PAIRS_SQL}
    SELECT p.p1, p.p2, p.co,
           CAST(p.co AS DOUBLE)
             / (sqrt(CAST(i1.cnt AS DOUBLE)) * sqrt(CAST(i2.cnt AS DOUBLE)))
             AS cosine
    FROM pair p
    JOIN item i1 ON i1.l_partkey = p.p1
    JOIN item i2 ON i2.l_partkey = p.p2
    """,
)
def item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity over co-purchase sets: cos(p1, p2) = co /
    (sqrt(c1)·sqrt(c2)) with exact BIGINT counts and one float expression.

    Scale shape: identical to the lift query — basket distinct, canonical
    (p1 < p2) pair aggregate with the support floor applied IN the
    aggregate, item counts broadcast back — behind the hot-basket guard
    (graph.cap_baskets, no-op at the declared corpus)."""

    b = _capped_baskets(spark, sf_dir, "l_partkey")
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    x = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    y = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pair = (
        x.join(y, "l_orderkey")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= 3)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("c1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("c2"))
    cos = F.col("co").cast("double") / (
        F.sqrt(F.col("c1").cast("double")) * F.sqrt(F.col("c2").cast("double"))
    )
    out = (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .select("p1", "p2", "co", cos.alias("cosine"))
    )
    return out


@_q(
    "hard_negative_mining",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS qlabel, v AS qv
          FROM e WHERE vec_id < 10),
    s AS (SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id, e.label,
                 {_cos_sql('qv', 'v')} AS cos_sim
          FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    pos AS (SELECT query_id, neighbor_id, cos_sim
            FROM (SELECT query_id, neighbor_id, cos_sim,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rn
                  FROM s WHERE label = qlabel) x WHERE rn = 1),
    neg AS (SELECT query_id, neighbor_id, cos_sim, rnk FROM (
              SELECT s.query_id, s.neighbor_id, s.cos_sim,
                     CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id
                          ORDER BY s.cos_sim DESC, s.neighbor_id) AS INTEGER)
                       AS rnk
              FROM s JOIN pos p ON p.query_id = s.query_id
              WHERE s.label <> s.qlabel AND s.cos_sim < p.cos_sim) x
            WHERE rnk <= 3)
    SELECT query_id, neighbor_id, 'positive' AS role,
           CAST(1 AS INTEGER) AS rnk, cos_sim FROM pos
    UNION ALL
    SELECT query_id, neighbor_id, 'semi_hard_negative' AS role, rnk, cos_sim
    FROM neg
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard negative mining: per anchor, the top same-label neighbor is
    the positive, and the negatives are the most similar different-label
    items strictly less similar than it.

    Scale shape: the anchor set is bounded and BROADCAST (one corpus scan
    scores all anchors — the ann_cosine_topk plan); both rank windows
    partition by query_id, so their width is the anchor count, never the
    corpus. The cosine is the proven left-fold form — bit-identical across
    engines — so the cos < pos_cos comparison is portable."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double().alias("v"))
    q = F.broadcast(
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
            F.col("v").alias("qv"),
        )
    )
    s = (
        e.crossJoin(q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "qlabel",
            F.col("vec_id").alias("neighbor_id"),
            "label",
            cosine(F.col("qv"), F.col("v")).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    pos = (
        s.filter(F.col("label") == F.col("qlabel"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "neighbor_id", "cos_sim")
    )
    pcos = F.broadcast(
        pos.select("query_id", F.col("cos_sim").alias("pos_cos"))
    )
    neg = (
        s.join(pcos, "query_id")
        .filter((F.col("label") != F.col("qlabel")) & (F.col("cos_sim") < F.col("pos_cos")))
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("query_id", "neighbor_id", "rnk", "cos_sim")
    )
    return pos.select(
        "query_id",
        "neighbor_id",
        F.lit("positive").alias("role"),
        F.lit(1).cast("int").alias("rnk"),
        "cos_sim",
    ).unionByName(
        neg.select(
            "query_id",
            "neighbor_id",
            F.lit("semi_hard_negative").alias("role"),
            "rnk",
            "cos_sim",
        )
    )


def _top4_mean_sql(rank_col: str) -> str:
    """Fixed-association mean of the top-4 cos values: conditional-MAX
    pivot + explicit left-assoc sum chain (the bm25 pattern) — aggregate
    order can't change bits."""
    c = [f"max(CASE WHEN {rank_col} = {r} THEN cos_sim END)" for r in (1, 2, 3, 4)]
    return f"((({c[0]} + {c[1]}) + {c[2]}) + {c[3]}) / ('4.0'::DOUBLE)"


@_q(
    "bitext_margin_pairs",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv
          FROM e WHERE vec_id < 30 AND label % 2 = 0),
    t AS (SELECT vec_id AS neighbor_id, v AS tv FROM e WHERE label % 2 = 1),
    s AS (SELECT query_id, neighbor_id, {_cos_sql('qv', 'tv')} AS cos_sim
          FROM t CROSS JOIN q),
    fr AS (SELECT query_id, neighbor_id, cos_sim,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id) AS rq,
                  ROW_NUMBER() OVER (PARTITION BY neighbor_id
                       ORDER BY cos_sim DESC, query_id) AS rt
           FROM s),
    fx AS (SELECT query_id, {_top4_mean_sql('rq')} AS kx
           FROM fr GROUP BY query_id),
    fy AS (SELECT neighbor_id, {_top4_mean_sql('rt')} AS ky
           FROM fr GROUP BY neighbor_id),
    m AS (SELECT f.query_id, f.neighbor_id, f.cos_sim,
                 f.cos_sim / ((x.kx + y.ky) / ('2.0'::DOUBLE)) AS margin
          FROM fr f JOIN fx x ON x.query_id = f.query_id
                    JOIN fy y ON y.neighbor_id = f.neighbor_id)
    SELECT query_id, neighbor_id AS match_id, cos_sim, margin FROM (
      SELECT m.*, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY margin DESC, neighbor_id) AS rb
      FROM m) z
    WHERE rb = 1 AND margin > ('1.35'::DOUBLE)
    """,
)
def bitext_margin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext candidate mining: margin = cos / ((mean top-4 of
    x + mean top-4 of y) / 2), which suppresses hub vectors.

    Scale shape: the anchor set is bounded and broadcast, so the score
    matrix is one corpus scan; both top-4 neighborhood means come from that
    matrix via rank windows (the per-target one is corpus-keyed but
    anchor-count wide) and fixed-association pivot sums; the final pick is a
    per-anchor rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", "label", as_double().alias("v"))
    q = F.broadcast(
        e.filter((F.col("vec_id") < 30) & (F.col("label") % 2 == 0)).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
        )
    )
    t = e.filter(F.col("label") % 2 == 1).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("tv")
    )
    s = t.crossJoin(q).select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qv"), F.col("tv")).alias("cos_sim"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    wt = Window.partitionBy("neighbor_id").orderBy(F.desc("cos_sim"), F.asc("query_id"))
    fr = s.withColumn("rq", F.row_number().over(wq)).withColumn(
        "rt", F.row_number().over(wt)
    )

    def top4_mean(rank_col: str):
        c = [
            F.max(F.when(F.col(rank_col) == r, F.col("cos_sim")))
            for r in (1, 2, 3, 4)
        ]
        return (((c[0] + c[1]) + c[2]) + c[3]) / F.lit(4.0)

    fx = fr.groupBy("query_id").agg(top4_mean("rq").alias("kx"))
    fy = fr.groupBy("neighbor_id").agg(top4_mean("rt").alias("ky"))
    m = (
        fr.join(F.broadcast(fx), "query_id")
        .join(fy, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            (
                F.col("cos_sim") / ((F.col("kx") + F.col("ky")) / F.lit(2.0))
            ).alias("margin"),
        )
    )
    wb = Window.partitionBy("query_id").orderBy(F.desc("margin"), F.asc("neighbor_id"))
    return (
        m.withColumn("rb", F.row_number().over(wb))
        .filter((F.col("rb") == 1) & (F.col("margin") > F.lit(1.35)))
        .select(
            "query_id",
            F.col("neighbor_id").alias("match_id"),
            "cos_sim",
            "margin",
        )
    )


def _ivf_cells_sql() -> str:
    """Oracle CTEs ``e``, ``c0`` and ``a``: every non-NULL vector's
    fixed-quantizer ``cell`` (first-index argmax), its top cosine ``rel``
    and its unit vector ``vn`` — the similarity._cell_assigned mirror."""
    return f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings WHERE embedding IS NOT NULL),
    c0 AS (SELECT vec_id, v, {_ivf_sims_sql()} AS sims,
                  sqrt({_dot_sql('v', 'v')}) AS nrm FROM e),
    a AS (SELECT vec_id,
                 CAST(list_indexof(sims, list_max(sims)) - 1 AS INTEGER) AS cell,
                 list_max(sims) AS rel,
                 list_transform(v, x -> x / nrm) AS vn
          FROM c0)"""


def _icl_chain_sql() -> str:
    """DuckDB replay of the ICL greedy chain: cell assignment with the
    shared quantizer literals, within-cell pair cosines, and the traversal
    as a recursive CTE whose step picks the best unvisited neighbor by (cos
    DESC, id ASC)."""
    return f"""
    WITH RECURSIVE {_ivf_cells_sql()},
    p AS (SELECT x.cell, x.vec_id AS id_a, b.vec_id AS id_b,
                 {_dot_sql('x.vn', 'b.vn')} AS c
          FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id <> b.vec_id),
    starts AS (SELECT cell, min(vec_id) AS vec_id FROM a GROUP BY cell),
    chain AS (
      SELECT s.cell, s.vec_id, CAST(1 AS BIGINT) AS pos, [s.vec_id] AS visited
      FROM starts s
      UNION ALL
      SELECT c.cell, p.id_b, c.pos + 1, list_append(c.visited, p.id_b)
      FROM chain c JOIN p ON p.cell = c.cell AND p.id_a = c.vec_id
           AND NOT list_contains(c.visited, p.id_b)
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cell
                                 ORDER BY p.c DESC, p.id_b) = 1
    )
    SELECT vec_id, cell, pos FROM chain
    """


@_q("icl_similarity_chain", _icl_chain_sql())
def icl_similarity_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-Context Pretraining ordering over the embeddings table: each
    quantizer cell walked as a greedy nearest-neighbor path
    (similarity.icl_chain_order)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return icl_chain_order(emb)


def _kcenter_sql() -> str:
    """DuckDB replay of greedy k-center: quantizer-literal cell assignment,
    within-cell cosine distances, and the selection loop as a recursive CTE
    that picks the farthest candidate by (max min-dist, lower id)."""
    k = 8
    return f"""
    WITH RECURSIVE {_ivf_cells_sql()},
    p AS (SELECT x.cell, x.vec_id AS id_a, b.vec_id AS id_b,
                 ('1.0'::DOUBLE) - ({_dot_sql('x.vn', 'b.vn')}) AS dist
          FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id <> b.vec_id),
    starts AS (SELECT cell, min(vec_id) AS vec_id FROM a GROUP BY cell),
    sel AS (
      SELECT s.cell, s.vec_id, CAST(1 AS BIGINT) AS pos, [s.vec_id] AS visited
      FROM starts s
      UNION ALL
      SELECT c.cell, p.id_b, c.pos + 1, list_append(c.visited, p.id_b)
      FROM sel c JOIN p ON p.cell = c.cell
           AND list_contains(c.visited, p.id_a)
           AND NOT list_contains(c.visited, p.id_b)
      GROUP BY c.cell, c.pos, c.visited, p.id_b
      HAVING c.pos < {k}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cell
              ORDER BY MIN(p.dist) DESC, p.id_b) = 1
    )
    SELECT vec_id, cell, pos FROM sel
    """


@_q("kcenter_coreset", _kcenter_sql())
def kcenter_coreset_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embeddings table: up to 8
    maximally spread representatives per quantizer cell."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb)


def _mmr_sql() -> str:
    """DuckDB replay of MMR selection: quantizer-literal cell/rel
    assignment, within-cell cosine similarities, and the greedy loop as a
    recursive CTE that picks the argmax of lambda*rel - (1-lambda)*maxsim by
    (higher score, lower id)."""
    k = 8

    lam = f"('{MMR_LAMBDA!r}'::DOUBLE)"
    oml = f"('{MMR_ONE_MINUS_LAMBDA!r}'::DOUBLE)"
    return f"""
    WITH RECURSIVE {_ivf_cells_sql()},
    p AS (SELECT x.cell, x.vec_id AS id_a, b.vec_id AS id_b,
                 ({_dot_sql('x.vn', 'b.vn')}) AS sim
          FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id <> b.vec_id),
    seeds AS (SELECT cell, vec_id FROM a
              QUALIFY ROW_NUMBER() OVER (PARTITION BY cell
                      ORDER BY rel DESC, vec_id) = 1),
    sel AS (
      SELECT s.cell, s.vec_id, CAST(1 AS BIGINT) AS pos, [s.vec_id] AS visited
      FROM seeds s
      UNION ALL
      SELECT c.cell, p.id_b, c.pos + 1, list_append(c.visited, p.id_b)
      FROM sel c
      JOIN p ON p.cell = c.cell
           AND list_contains(c.visited, p.id_a)
           AND NOT list_contains(c.visited, p.id_b)
      JOIN a r ON r.vec_id = p.id_b
      GROUP BY c.cell, c.pos, c.visited, p.id_b, r.rel
      HAVING c.pos < {k}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY c.cell
              ORDER BY {lam} * r.rel - {oml} * MAX(p.sim) DESC, p.id_b) = 1
    )
    SELECT vec_id, cell, pos FROM sel
    """


@_q("mmr_diverse_selection", _mmr_sql())
def mmr_diverse_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance selection over the embeddings table: up to
    8 picks per quantizer cell trading relevance (cosine to the cell
    centroid) against redundancy (max cosine to the picked) at lambda=0.7."""
    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_select(emb)


_RBO_P = 0.9
_RBO_DEPTHS = [(d, (1.0 - _RBO_P) * _RBO_P ** (d - 1)) for d in range(1, 11)]
_RBO_DEPTH_SQL = ", ".join(f"({d}, '{w!r}'::DOUBLE)" for d, w in _RBO_DEPTHS)


@_q(
    "rbo_lex_vs_vector",
    f"""
    WITH {_bm25_lexagg_sql()},
    lextop AS (SELECT doc_id, score FROM lexagg
               ORDER BY score DESC, doc_id LIMIT 10),
    lex AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                 AS BIGINT) AS lex_rank FROM lextop),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    sc AS (SELECT vec_id, {_cos_sql('qv', 'v')} AS cos_sim
           FROM e CROSS JOIN q WHERE vec_id <> 0),
    vectop AS (SELECT vec_id, cos_sim FROM sc
               ORDER BY cos_sim DESC, vec_id LIMIT 10),
    vec AS (SELECT vec_id AS doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id)
                        AS BIGINT) AS vec_rank
            FROM vectop),
    m AS (SELECT lex.doc_id, lex.lex_rank, vec.vec_rank
          FROM lex JOIN vec ON vec.doc_id = lex.doc_id),
    depths AS (SELECT * FROM (VALUES {_RBO_DEPTH_SQL}) AS t(d, w)),
    o AS (SELECT depths.d, depths.w,
                 CAST(COALESCE(SUM(CASE WHEN m.lex_rank <= depths.d
                                         AND m.vec_rank <= depths.d
                                        THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_overlap
          FROM depths LEFT JOIN m ON m.lex_rank <= depths.d
                                 AND m.vec_rank <= depths.d
          GROUP BY depths.d, depths.w),
    c AS (SELECT d, w, n_overlap,
                 w * (CAST(n_overlap AS DOUBLE) / d) AS contrib
          FROM o),
    t AS (SELECT CAST(SUM(CAST(contrib AS DECIMAL(27,18))) AS DOUBLE)
                   AS rbo_at_10 FROM c)
    SELECT c.d, c.n_overlap, c.w AS weight, c.contrib, t.rbo_at_10,
           t.rbo_at_10 / ('0.6513215599'::DOUBLE) AS rbo_norm
    FROM c CROSS JOIN t
    """,
)
def rbo_lex_vs_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between the BM25 lexical top-10 and the
    dense-cosine top-10.

    Scale shape: both candidate legs are bounded top-10s
    (TakeOrderedAndProject); every rank window runs over ≤10 rows, the depth
    table is a 10-row literal — nothing after the two corpus scans grows
    with the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = (
        RK.ranked_topk(RK.bm25_scores(docs), "score", "doc_id", 10)
        .select("doc_id", F.col("rank").cast("long").alias("lex_rank"))
    )
    sc = _cosines_to_vec0(emb)
    vec = (
        RK.ranked_topk(sc, "cos_sim", "vec_id", 10)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("rank").cast("long").alias("vec_rank"),
        )
    )
    m = lex.join(vec, "doc_id")
    depths = spark.createDataFrame(_RBO_DEPTHS, "d long, w double")
    o = (
        F.broadcast(depths)
        .join(
            m,
            (F.col("lex_rank") <= F.col("d")) & (F.col("vec_rank") <= F.col("d")),
            "left",
        )
        .groupBy("d", "w")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("lex_rank") <= F.col("d"))
                        & (F.col("vec_rank") <= F.col("d")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_overlap")
        )
    )
    c = o.withColumn(
        "contrib", F.col("w") * (F.col("n_overlap").cast("double") / F.col("d"))
    )
    t = c.agg(
        F.sum(F.col("contrib").cast("decimal(27,18)"))
        .cast("double")
        .alias("rbo_at_10")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "d",
        "n_overlap",
        F.col("w").alias("weight"),
        "contrib",
        "rbo_at_10",
        (F.col("rbo_at_10") / F.lit(0.6513215599)).alias("rbo_norm"),
    )


@_q(
    "embedding_centroid_drift",
    """
    WITH ex AS (
      SELECT label, vec_id % 2 AS half, u.pos AS pos,
             embedding[u.pos]::DOUBLE AS x
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) u
      WHERE embedding IS NOT NULL AND label IS NOT NULL),
    g AS (SELECT label, half, pos,
                 CAST(SUM(CAST(x AS DECIMAL(27,6))) AS DECIMAL(18,6)) AS s,
                 CAST(count(*) AS BIGINT) AS n
          FROM ex GROUP BY label, half, pos),
    p AS (SELECT label, pos,
                 MAX(CASE WHEN half = 0 THEN s END) AS s0,
                 MAX(CASE WHEN half = 1 THEN s END) AS s1,
                 MAX(CASE WHEN half = 0 THEN n END) AS n0,
                 MAX(CASE WHEN half = 1 THEN n END) AS n1
          FROM g GROUP BY label, pos),
    a AS (SELECT label,
                 SUM(s0 * s1) AS dot,
                 SUM(s0 * s0) AS sq0,
                 SUM(s1 * s1) AS sq1,
                 CAST(MIN(n0) AS BIGINT) AS n_half0,
                 CAST(MIN(n1) AS BIGINT) AS n_half1
          FROM p WHERE s0 IS NOT NULL AND s1 IS NOT NULL
          GROUP BY label)
    SELECT label, n_half0, n_half1,
           CASE WHEN CAST(sq0 AS DOUBLE) > 0 AND CAST(sq1 AS DOUBLE) > 0
                THEN CAST(dot AS DOUBLE)
                     / (sqrt(CAST(sq0 AS DOUBLE)) * sqrt(CAST(sq1 AS DOUBLE)))
                ELSE NULL END AS centroid_cosine
    FROM a
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift: per label, the cosine between the class centroids of
    the even and the odd vec_ids.

    Scale shape: posexplode to (label, half, pos) rows, two keyed aggregates
    over a |labels| x 2 x 64 key space — no whole vector crosses a shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = (
        emb.filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
        .select(
            "label",
            (F.col("vec_id") % 2).alias("half"),
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "x"
            ),
        )
        .select("label", "half", (F.col("pos0") + 1).alias("pos"), "x")
    )
    g = ex.groupBy("label", "half", "pos").agg(
        F.sum(F.col("x").cast("decimal(27,6)"))
        .cast("decimal(18,6)")
        .alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    p = g.groupBy("label", "pos").agg(
        F.max(F.when(F.col("half") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("half") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("half") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("half") == 1, F.col("n"))).alias("n1"),
    )
    a = (
        p.filter(F.col("s0").isNotNull() & F.col("s1").isNotNull())
        .groupBy("label")
        .agg(
            F.sum(F.col("s0") * F.col("s1")).alias("dot"),
            F.sum(F.col("s0") * F.col("s0")).alias("sq0"),
            F.sum(F.col("s1") * F.col("s1")).alias("sq1"),
            F.min("n0").cast("long").alias("n_half0"),
            F.min("n1").cast("long").alias("n_half1"),
        )
    )
    sq0d = F.col("sq0").cast("double")
    sq1d = F.col("sq1").cast("double")
    return a.select(
        "label",
        "n_half0",
        "n_half1",
        F.when(
            (sq0d > 0) & (sq1d > 0),
            F.col("dot").cast("double") / (F.sqrt(sq0d) * F.sqrt(sq1d)),
        ).alias("centroid_cosine"),
    )


def _top_pc_sql() -> str:
    """DuckDB replay of the power-iteration top principal component.

    The heavy part (the exact decimal scatter matrix M = n*Sxx - s s^T)
    is plain grouped aggregation; the 64-dim eigensolve is replayed as a
    fixed chain of CTEs whose float operations (left-associated dot
    chains, sqrt, elementwise division) occur in EXACTLY the order the
    Spark driver loop performs them -- bit-identical results."""
    n_iters = 8
    dim = DEFAULT_DIM
    up = f"(SELECT unnest(range(1, {dim + 1})) AS i) u"
    parts = [
        f"""WITH ex AS (
      SELECT vec_id, u.i AS i,
             CAST(embedding[u.i]::DOUBLE AS DECIMAL(9,6)) AS x
      FROM embeddings CROSS JOIN {up}
      WHERE embedding IS NOT NULL),
    nrow AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM ex),
    sxx AS (SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sp
            FROM ex a JOIN ex b USING (vec_id) GROUP BY a.i, b.i),
    sv AS (SELECT i, SUM(x) AS s FROM ex GROUP BY i),
    cells AS (
      SELECT sxx.i, sxx.j,
             CAST(nrow.n * sxx.sp - sa.s * sb.s AS DOUBLE) AS m
      FROM sxx CROSS JOIN nrow
      JOIN sv sa ON sa.i = sxx.i
      JOIN sv sb ON sb.i = sxx.j),
    g AS (SELECT i, list(m ORDER BY j) AS grow FROM cells GROUP BY i),
    v0 AS (SELECT list_transform(range(1, {dim + 1}),
                                 x -> CAST(0.125 AS DOUBLE)) AS vec)"""
    ]
    for k in range(1, n_iters + 1):
        parts.append(
            f"""w{k} AS (SELECT g.i, {_dot_sql('g.grow', f'v{k - 1}.vec')} AS wi
           FROM g CROSS JOIN v{k - 1})"""
        )
        if k < n_iters:
            parts.append(
                f"""v{k} AS (SELECT list_transform(wl,
                    x -> x / sqrt({_dot_sql('wl', 'wl')})) AS vec
           FROM (SELECT list(wi ORDER BY i) AS wl FROM w{k}))"""
            )
    parts.append(
        f"wf AS (SELECT list(wi ORDER BY i) AS wl FROM w{n_iters})"
    )
    body = ",\n    ".join(parts)
    return f"""
    {body}
    SELECT CAST(u.i AS INTEGER) AS dim,
           wl[u.i] / sqrt({_dot_sql('wl', 'wl')}) AS loading,
           sqrt({_dot_sql('wl', 'wl')}) / CAST(nrow.n * nrow.n AS DOUBLE)
             AS eigenvalue
    FROM wf CROSS JOIN nrow CROSS JOIN {up}
    WHERE wl IS NOT NULL AND sqrt({_dot_sql('wl', 'wl')}) > CAST(0.0 AS DOUBLE)
    """


@_q("embedding_top_pc_power_iteration", _top_pc_sql())
def embedding_top_pc_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by distributed power
    iteration."""
    dim = DEFAULT_DIM
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    arr = F.col("embedding").cast("array<double>")
    e1 = emb.select(
        arr.alias("a"), F.posexplode(arr).alias("i0", "xi")
    )
    e2 = e1.select(
        (F.col("i0") + 1).alias("i"),
        F.col("xi").cast("decimal(9,6)").alias("xd"),
        F.posexplode(F.col("a")).alias("j0", "xj"),
    ).select(
        "i",
        (F.col("j0") + 1).alias("j"),
        (F.col("xd") * F.col("xj").cast("decimal(9,6)")).alias("p"),
    )
    cells = e2.groupBy("i", "j").agg(F.sum("p").alias("sp")).collect()
    sv = {
        r["i"]: r["s"]
        for r in e1.select(
            (F.col("i0") + 1).alias("i"),
            F.col("xi").cast("decimal(9,6)").alias("x"),
        )
        .groupBy("i")
        .agg(F.sum("x").alias("s"))
        .collect()
    }
    n = emb.count()
    schema = "dim int, loading double, eigenvalue double"
    if n == 0 or not cells:
        return spark.createDataFrame([], schema)
    nd = Decimal(n)
    md = [[0.0] * dim for _ in range(dim)]
    for r in cells:
        md[r["i"] - 1][r["j"] - 1] = float(
            nd * r["sp"] - sv[r["i"]] * sv[r["j"]]
        )

    def _dot(a, b):
        acc = a[0] * b[0]
        for t in range(1, dim):
            acc = acc + a[t] * b[t]
        return acc

    v = [0.125] * dim
    w = v
    for _ in range(8):
        w = [_dot(row, v) for row in md]
        nrm = _sqrt(_dot(w, w))
        if nrm == 0.0:
            return spark.createDataFrame([], schema)
        v = [x / nrm for x in w]
    lam = _sqrt(_dot(w, w))
    eig = lam / float(n * n)
    rows = [(i + 1, w[i] / lam, eig) for i in range(dim)]
    return spark.createDataFrame(rows, schema)


def _lsh_neighbours(emb: DataFrame) -> DataFrame:
    """``(id, nb)``: both orientations of every LSH near-duplicate pair
    (cosine >= 0.4, 12 tables), from ONE execution of the pair pipeline (an
    explode, not a two-branch union)."""
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12)
    return pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id"), F.col("id_b").alias("nb")),
                F.struct(F.col("id_b").alias("id"), F.col("id_a").alias("nb")),
            )
        ).alias("e")
    ).select("e.id", "e.nb")


@_q(
    "knn_label_consistency",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql(n_tables=12)}),
    lab AS (SELECT vec_id, label FROM embeddings
            WHERE label IS NOT NULL),
    sym AS (
      SELECT id_a AS id, id_b AS nb FROM pairs
      UNION ALL
      SELECT id_b AS id, id_a AS nb FROM pairs),
    j AS (
      SELECT la.label AS label,
             CASE WHEN la.label = lb.label THEN 1 ELSE 0 END AS same
      FROM sym
      JOIN lab la ON la.vec_id = sym.id
      JOIN lab lb ON lb.vec_id = sym.nb)
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_neighbor_edges,
           CAST(SUM(same) AS BIGINT) AS n_same_label,
           CAST(SUM(same) AS DOUBLE) / count(*) AS consistency
    FROM j GROUP BY label
    """,
)
def knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABEL NOISE estimate via neighborhood consistency: for each class,
    the fraction of near-neighbor edges (the deterministic LSH cosine>=0.4
    pair graph) whose endpoints share the label.

    Scale shape: the LSH pair plan, two vec-keyed label joins, a
    |labels|-sized aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.filter(F.col("label").isNotNull()).select("vec_id", "label")
    sym = _lsh_neighbours(emb)
    la = lab.select(F.col("vec_id").alias("id"), F.col("label").alias("label"))
    lb = lab.select(F.col("vec_id").alias("nb"), F.col("label").alias("nb_label"))
    j = sym.join(la, "id").join(lb, "nb")
    same = F.when(F.col("label") == F.col("nb_label"), 1).otherwise(0)
    return (
        j.select("label", same.alias("same"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_neighbor_edges"),
            F.sum("same").cast("long").alias("n_same_label"),
            (F.sum("same").cast("double") / F.count(F.lit(1))).alias(
                "consistency"
            ),
        )
    )


#: oracle CTEs ``e`` … ``ranked``: the :func:`_labelled_top10` mirror
_LABELLED_TOP10_SQL = f"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
          FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id, e.label,
             {_cos_sql('qv', 'v')} AS cos_sim
      FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, q_label, label,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
      FROM scored QUALIFY rk <= 10)"""


def _labelled_top10(emb: DataFrame) -> DataFrame:
    """The exact cosine top-10 neighbours of the query vectors ``vec_id <
    10`` with the query's label ``q_label`` and the neighbour's ``n_label``
    (brute-force scan, then two keyed label joins; the query side
    broadcast)."""
    queries = emb.filter(F.col("vec_id") < 10)
    topk = brute_force_topk(emb, queries)
    lab = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    )
    qlab = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    return topk.join(lab, "neighbor_id").join(F.broadcast(qlab), "query_id")


@_q(
    "retrieval_mrr_eval",
    f"""
    {_LABELLED_TOP10_SQL},
    firsthit AS (
      SELECT query_id, MIN(rk) AS first_rel
      FROM ranked WHERE label = q_label GROUP BY query_id),
    rr AS (
      SELECT q.query_id,
             COALESCE(CAST(1.0 AS DOUBLE) / f.first_rel, CAST(0.0 AS DOUBLE))
               AS reciprocal_rank
      FROM (SELECT DISTINCT query_id FROM ranked) q
      LEFT JOIN firsthit f ON f.query_id = q.query_id)
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(SUM(CAST(floor(reciprocal_rank * 1000000.0) AS BIGINT))
                AS DOUBLE) / 1000000.0 / count(*) AS mrr
    FROM rr
    """,
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the dense-retrieval leg at k=10, with
    same-label as the relevance judgment.

    Scale shape: the broadcast-queries brute-force scan (10 fixed queries),
    per-query top-10 windows over a GlobalLimit-bounded candidate set, then
    a 10-row aggregate."""
    ranked = _labelled_top10(load_table(spark, sf_dir, "embeddings"))
    firsthit = (
        ranked.filter(F.col("n_label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(F.min("rank").cast("long").alias("first_rel"))
    )
    allq = ranked.select("query_id").distinct()
    rr = allq.join(firsthit, "query_id", "left").select(
        F.coalesce(
            F.lit(1.0) / F.col("first_rel"), F.lit(0.0)
        ).alias("reciprocal_rank")
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        (
            F.sum(
                F.floor(F.col("reciprocal_rank") * 1000000.0).cast("long")
            ).cast("double")
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("mrr"),
    )


def _pq_distortion_sql() -> str:
    """DuckDB replay of PQ reconstruction distortion: per-subspace min
    squared distance to the seeded codebook (the literals and fold order of
    _pq_adc_sql), averaged with the floor-micro order-free sum."""
    m = PQ_SUBSPACES
    ladder = "\n               ".join(
        f"WHEN {j} THEN list_min({_pq_dists_list_sql('v', j)})" for j in range(m)
    )
    return f"""
    WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    d AS (
      SELECT u.j AS subspace,
             CASE u.j
               {ladder}
             END AS dmin
      FROM e CROSS JOIN (SELECT unnest(range(0, {m})) AS j) u)
    SELECT CAST(subspace AS INTEGER) AS subspace,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CAST(floor(dmin * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS mse
    FROM d GROUP BY subspace
    """


@_q("pq_distortion_by_subspace", _pq_distortion_sql())
def pq_distortion_by_subspace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization distortion per subspace: the mean squared
    reconstruction error of each subvector under its best code.

    Scale shape: one corpus scan (the same no-shuffle encode shape as the
    ADC path's codes), a 32x explode, one 32-row aggregate."""
    m, ksub, dim, seed = PQ_SUBSPACES, PQ_KSUB, DEFAULT_DIM, PQ_SEED
    dsub = dim // m
    cbs = pq_codebooks(m, ksub, dsub, seed)
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    e = emb.select(as_double().alias("nv"))
    cols = [
        F.struct(
            F.lit(j).alias("subspace"),
            F.expr(
                f"array_min({_pq_dists_sql(j, cbs[j], dsub)})"
            ).alias("dmin"),
        )
        for j in range(m)
    ]
    d = e.select(F.explode(F.array(*cols)).alias("s")).select(
        F.col("s.subspace").cast("int").alias("subspace"),
        F.col("s.dmin").alias("dmin"),
    )
    return d.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        (
            F.sum(F.floor(F.col("dmin") * 1000000.0).cast("long")).cast(
                "double"
            )
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("mse"),
    )


def _ivf_occupancy_sql() -> str:
    """DuckDB replay of the IVF cell-assignment histogram (same centroid
    literals and first-index argmax as _ivf_fixed_sql)."""
    n_cells = IVF_CELLS
    sims = _ivf_sims_sql()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c AS (SELECT CAST(list_indexof({sims}, list_max({sims})) - 1 AS INTEGER)
            AS cell
          FROM e),
    t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM c)
    SELECT c.cell, CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(count(*) AS DOUBLE) / t.total AS share,
           CAST(count(*) AS DOUBLE) * {n_cells} / t.total AS load_factor
    FROM c CROSS JOIN t
    GROUP BY c.cell, t.total
    """


@_q("ivf_cell_occupancy", _ivf_occupancy_sql())
def ivf_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell occupancy: vectors per quantizer cell, share, and load
    factor (1.0 = perfectly balanced).

    Scale shape: one corpus scan for assignment (no shuffle), a 16-row
    aggregate against a scalar total."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = ivf_fixed_assign(emb).select("cell")
    t = c.agg(F.count(F.lit(1)).cast("long").alias("total"))
    return (
        c.groupBy("cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
        .crossJoin(F.broadcast(t))
        .select(
            "cell",
            "n_vectors",
            (F.col("n_vectors").cast("double") / F.col("total")).alias("share"),
            (
                F.col("n_vectors").cast("double") * 16 / F.col("total")
            ).alias("load_factor"),
        )
    )


@_q(
    "lsh_bucket_cost_readout",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    buckets AS ({_lsh_buckets_sql(12)}),
    bs AS (SELECT tbl, bucket, CAST(count(*) AS BIGINT) AS s
           FROM buckets GROUP BY tbl, bucket)
    SELECT tbl AS lsh_table,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(MAX(s) AS BIGINT) AS max_bucket,
           CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS n_candidate_pairs
    FROM bs GROUP BY tbl
    """,
)
def lsh_bucket_cost_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH cost readout per hash table: occupied buckets, the largest
    bucket, and the candidate-pair count sum(s choose 2) the verify stage
    pays.

    Scale shape: one scan computes all 12 tables' buckets, one (table,
    bucket)-keyed aggregate, a 12-row summary."""
    emb = load_table(spark, sf_dir, "embeddings")
    entries = []
    for t, planes in enumerate(lsh_table_planes(4, 12, 42)):
        bits = ", ".join(_sql_sign_bit(pl) for pl in planes)
        entries.append(f"struct({t} AS tbl, concat({bits}) AS bucket)")
    buckets = (
        emb.select(as_double().alias("_v"))
        .select(F.explode(F.expr("array(" + ",".join(entries) + ")")).alias("tb"))
        .select("tb.tbl", "tb.bucket")
    )
    bs = buckets.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    return bs.groupBy(F.col("tbl").alias("lsh_table")).agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.max("s").cast("long").alias("max_bucket"),
        F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias(
            "n_candidate_pairs"
        ),
    )


@_q(
    "embedding_norm_histogram",
    f"""
    WITH e AS (
      SELECT sqrt({_dot_sql('v', 'v')}) AS nrm
      FROM (SELECT embedding::DOUBLE[] AS v FROM embeddings
            WHERE embedding IS NOT NULL)),
    b AS (
      SELECT CASE WHEN nrm < CAST(0.5 AS DOUBLE) THEN '0.0-0.5'
                  WHEN nrm < CAST(0.9 AS DOUBLE) THEN '0.5-0.9'
                  WHEN nrm < CAST(1.1 AS DOUBLE) THEN '0.9-1.1'
                  WHEN nrm < CAST(2.0 AS DOUBLE) THEN '1.1-2.0'
                  ELSE '2.0+' END AS norm_band
      FROM e)
    SELECT norm_band, CAST(count(*) AS BIGINT) AS n_vectors
    FROM b GROUP BY norm_band
    """,
)
def embedding_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm histogram: vectors bucketed by L2 norm around the unit
    shell.

    Scale shape: one scan, one 5-row aggregate."""
    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    nrm = F.sqrt(
        dot_flat(as_double(), as_double())
    )
    band = (
        F.when(nrm < 0.5, "0.0-0.5")
        .when(nrm < 0.9, "0.5-0.9")
        .when(nrm < 1.1, "0.9-1.1")
        .when(nrm < 2.0, "1.1-2.0")
        .otherwise("2.0+")
    )
    return (
        emb.select(band.alias("norm_band"))
        .groupBy("norm_band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    )


def _label_coords(emb: DataFrame) -> DataFrame:
    """``(label, pos, x)``: one row per coordinate of each labelled
    non-NULL embedding, ``pos`` 1-based and ``x`` as DECIMAL(9,6) so the
    per-label sums are exact (posexplode, no shuffle)."""
    return (
        emb.filter(F.col("embedding").isNotNull() & F.col("label").isNotNull())
        .select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias(
                "pos0", "xd"
            ),
        )
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.col("xd").cast("decimal(9,6)").alias("x"),
        )
    )


@_q(
    "label_centroid_separation",
    """
    WITH ex AS (
      SELECT label, u.pos AS pos,
             CAST(embedding[u.pos]::DOUBLE AS DECIMAL(9,6)) AS x
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) u
      WHERE embedding IS NOT NULL AND label IS NOT NULL),
    g AS (SELECT label, pos,
                 CAST(SUM(x) AS DECIMAL(18,6)) AS s
          FROM ex GROUP BY label, pos),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             SUM(a.s * b.s) AS dot,
             SUM(a.s * a.s) AS sqa,
             SUM(b.s * b.s) AS sqb
      FROM g a JOIN g b ON b.pos = a.pos AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT label_a, label_b,
           CASE WHEN CAST(sqa AS DOUBLE) > 0 AND CAST(sqb AS DOUBLE) > 0
                THEN CAST(dot AS DOUBLE)
                     / (sqrt(CAST(sqa AS DOUBLE)) * sqrt(CAST(sqb AS DOUBLE)))
                ELSE NULL END AS centroid_cosine
    FROM p
    """,
)
def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between label centroids.

    Scale shape: posexplode to (label, pos), one keyed aggregate to a
    |labels| x 64 table, then a pos-keyed self-join over that tiny table."""
    ex = _label_coords(load_table(spark, sf_dir, "embeddings"))
    g = ex.groupBy("label", "pos").agg(
        F.sum("x").cast("decimal(18,6)").alias("s")
    )
    a = g.select(
        F.col("label").alias("label_a"), "pos", F.col("s").alias("sa")
    )
    b = g.select(
        F.col("label").alias("label_b"), "pos", F.col("s").alias("sb")
    )
    p = (
        a.join(b, "pos")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("sa") * F.col("sb")).alias("dot"),
            F.sum(F.col("sa") * F.col("sa")).alias("sqa"),
            F.sum(F.col("sb") * F.col("sb")).alias("sqb"),
        )
    )
    sqa = F.col("sqa").cast("double")
    sqb = F.col("sqb").cast("double")
    return p.select(
        "label_a",
        "label_b",
        F.when(
            (sqa > 0) & (sqb > 0),
            F.col("dot").cast("double") / (F.sqrt(sqa) * F.sqrt(sqb)),
        ).alias("centroid_cosine"),
    )


@_q(
    "embedding_similarity_bands",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql(n_tables=12, threshold=0.0)}),
    b AS (
      SELECT CASE WHEN cos_sim >= 0.9 THEN '0.9-1.0'
                  WHEN cos_sim >= 0.8 THEN '0.8-0.9'
                  WHEN cos_sim >= 0.6 THEN '0.6-0.8'
                  WHEN cos_sim >= 0.4 THEN '0.4-0.6'
                  WHEN cos_sim >= 0.0 THEN '0.0-0.4'
                  ELSE 'negative' END AS cos_band
      FROM pairs)
    SELECT cos_band, CAST(count(*) AS BIGINT) AS n_pairs
    FROM b GROUP BY cos_band
    """,
)
def embedding_similarity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-band histogram over the LSH candidate pairs, with the verify
    threshold at 0 so every collision is scored.

    Scale shape: the banded LSH plan with the exact-cosine verify; a 6-row
    aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.0, n_tables=12)
    band = (
        F.when(F.col("cos_sim") >= 0.9, "0.9-1.0")
        .when(F.col("cos_sim") >= 0.8, "0.8-0.9")
        .when(F.col("cos_sim") >= 0.6, "0.6-0.8")
        .when(F.col("cos_sim") >= 0.4, "0.4-0.6")
        .when(F.col("cos_sim") >= 0.0, "0.0-0.4")
        .otherwise("negative")
    )
    return pairs.select(band.alias("cos_band")).groupBy("cos_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


@_q(
    "label_scatter_trace",
    """
    WITH ex AS (
      SELECT vec_id, label, u.pos AS pos,
             CAST(embedding[u.pos]::DOUBLE AS DECIMAL(9,6)) AS x
      FROM embeddings
      CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) u
      WHERE embedding IS NOT NULL AND label IS NOT NULL),
    g AS (
      SELECT label, pos,
             CAST(SUM(x) AS DECIMAL(18,6)) AS s,
             CAST(SUM(x * x) AS DECIMAL(18,12)) AS sq,
             CAST(count(*) AS BIGINT) AS n
      FROM ex GROUP BY label, pos),
    per AS (
      SELECT label, CAST(MIN(n) AS BIGINT) AS n,
             CAST(SUM(sq) AS DOUBLE) AS total_sq,
             SUM(s * s) AS centroid_sq_scaled
      FROM g GROUP BY label)
    SELECT label, n AS n_vectors,
           (total_sq - CAST(centroid_sq_scaled AS DOUBLE) / n) / n
             AS within_trace,
           sqrt(CAST(centroid_sq_scaled AS DOUBLE)) / n AS centroid_norm
    FROM per WHERE n > 0
    """,
)
def label_scatter_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-class scatter per label: the trace of each class's covariance
    (mean squared distance from its centroid) and the centroid's norm.

    Scale shape: posexplode to (label, pos), one keyed aggregate to |labels|
    x 64, a |labels|-sized rollup."""
    ex = _label_coords(load_table(spark, sf_dir, "embeddings"))
    g = ex.groupBy("label", "pos").agg(
        F.sum("x").cast("decimal(18,6)").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(18,12)").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    per = g.groupBy("label").agg(
        F.min("n").cast("long").alias("n"),
        F.sum("sq").cast("double").alias("total_sq"),
        F.sum(F.col("s") * F.col("s")).alias("centroid_sq_scaled"),
    )
    return per.filter(F.col("n") > 0).select(
        "label",
        F.col("n").alias("n_vectors"),
        (
            (
                F.col("total_sq")
                - F.col("centroid_sq_scaled").cast("double") / F.col("n")
            )
            / F.col("n")
        ).alias("within_trace"),
        (
            F.sqrt(F.col("centroid_sq_scaled").cast("double")) / F.col("n")
        ).alias("centroid_norm"),
    )


# NDCG@10 integer micro-discount ladder: floor(1e6 / log2(rank+1)) computed
# ONCE in Python (the shared-literal recipe — cross-engine log2 is not
# guaranteed bit-identical, integer literals are), plus its prefix sums for
# the ideal DCG.  Quantizing the discounts to integers makes per-query DCG an
# EXACT integer sum — no float-order sensitivity at all.
_NDCG_D = [1000000, 630929, 500000, 430676, 386852, 356207, 333333, 315464,
           301029, 289064]
_NDCG_P = [1000000, 1630929, 2130929, 2561605, 2948457, 3304664, 3637997,
           3953461, 4254490, 4543554]
_NDCG_D_SQL = "[" + ", ".join(str(d) for d in _NDCG_D) + "]"
_NDCG_P_SQL = "[" + ", ".join(str(p) for p in _NDCG_P) + "]"


@_q(
    "retrieval_ndcg_eval",
    f"""
    {_LABELLED_TOP10_SQL},
    dcg AS (
      SELECT query_id, q_label,
             CAST(SUM(CASE WHEN label = q_label
                           THEN ({_NDCG_D_SQL})[CAST(rk AS INTEGER)]
                           ELSE 0 END) AS BIGINT) AS dcg_micro
      FROM ranked GROUP BY query_id, q_label),
    labc AS (SELECT label, CAST(count(*) AS BIGINT) AS cnt
             FROM e GROUP BY label)
    SELECT d.query_id,
           CAST(labc.cnt - 1 AS BIGINT) AS n_relevant,
           d.dcg_micro,
           CAST(CASE WHEN labc.cnt - 1 >= 1
                     THEN ({_NDCG_P_SQL})[CAST(LEAST(labc.cnt - 1, 10) AS INTEGER)]
                     ELSE 0 END AS BIGINT) AS idcg_micro,
           CASE WHEN labc.cnt - 1 >= 1
                THEN CAST(d.dcg_micro AS DOUBLE)
                     / ({_NDCG_P_SQL})[CAST(LEAST(labc.cnt - 1, 10) AS INTEGER)]
                ELSE CAST(0.0 AS DOUBLE) END AS ndcg
    FROM dcg d JOIN labc ON labc.label = d.q_label
    """,
)
def retrieval_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the dense-retrieval leg with same-label relevance.

    Scale shape: the broadcast-queries brute-force scan (10 fixed queries),
    per-query top-10 windows over the bounded candidate set, a
    label-cardinality aggregate (|labels| rows, broadcast back), then a
    10-row join — no corpus-sized shuffle beyond the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = _labelled_top10(emb)
    darr = F.array(*[F.lit(d) for d in _NDCG_D])
    parr = F.array(*[F.lit(p) for p in _NDCG_P])
    dcg = ranked.groupBy("query_id", "q_label").agg(
        F.sum(
            F.when(
                F.col("n_label") == F.col("q_label"),
                F.element_at(darr, F.col("rank").cast("int")),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("dcg_micro")
    )
    labc = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    j = dcg.join(
        F.broadcast(labc), F.col("label") == F.col("q_label")
    ).withColumn("n_relevant", (F.col("cnt") - 1).cast("long"))
    idcg = (
        F.when(
            F.col("n_relevant") >= 1,
            F.element_at(
                parr, F.least(F.col("n_relevant"), F.lit(10)).cast("int")
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return j.select(
        "query_id",
        "n_relevant",
        "dcg_micro",
        idcg.alias("idcg_micro"),
        F.when(
            F.col("n_relevant") >= 1,
            F.col("dcg_micro").cast("double") / idcg,
        )
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


@_q(
    "reco_coverage_novelty",
    f"""
    WITH b0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    b AS {_cap_baskets_sql('b0')},
    nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_baskets
           FROM b),
    item AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt
             FROM b GROUP BY l_partkey),
    pair AS (
      SELECT x.l_partkey AS p1, y.l_partkey AS p2, CAST(count(*) AS BIGINT) AS co
      FROM b x JOIN b y ON x.l_orderkey = y.l_orderkey
                       AND x.l_partkey <> y.l_partkey
      GROUP BY x.l_partkey, y.l_partkey
      HAVING count(*) >= 3),
    scored AS (
      SELECT pair.p1, pair.p2, pair.co,
             CAST(pair.co AS DOUBLE)
               / (sqrt(CAST(i1.cnt AS DOUBLE)) * sqrt(CAST(i2.cnt AS DOUBLE)))
               AS cosine
      FROM pair
      JOIN item i1 ON i1.l_partkey = pair.p1
      JOIN item i2 ON i2.l_partkey = pair.p2),
    recs AS (
      SELECT p1, p2 FROM (
        SELECT scored.*, ROW_NUMBER() OVER (PARTITION BY p1
                 ORDER BY cosine DESC, co DESC, p2) AS rn FROM scored)
      WHERE rn <= 3),
    cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog FROM part),
    pop AS (
      SELECT recs.p2, item.cnt FROM recs JOIN item ON item.l_partkey = recs.p2),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_recs,
             CAST(count(DISTINCT p2) AS BIGINT) AS n_rec_distinct,
             CAST(SUM(CAST(floor(CAST(cnt AS DOUBLE) / nb.n_baskets
                                 * 1000000000.0) AS BIGINT)) AS BIGINT)
               AS popmic
      FROM pop CROSS JOIN nb),
    base AS (
      SELECT CAST(SUM(CAST(floor(CAST(item.cnt AS DOUBLE) / nb.n_baskets
                                 * 1000000000.0) AS BIGINT)) AS BIGINT)
               AS cpopmic,
             CAST(count(*) AS BIGINT) AS n_items
      FROM item CROSS JOIN nb)
    SELECT cat.n_catalog, agg.n_recs, agg.n_rec_distinct,
           CAST(agg.n_rec_distinct AS DOUBLE) / cat.n_catalog AS coverage_at_3,
           CAST(agg.popmic AS DOUBLE) / 1000000000.0 / agg.n_recs
             AS avg_rec_popularity,
           CAST(base.cpopmic AS DOUBLE) / 1000000000.0 / base.n_items
             AS avg_catalog_popularity
    FROM agg CROSS JOIN cat CROSS JOIN base
    """,
)
def reco_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage and popularity novelty of the [[item_item_cosine]] top-3
    recommender: coverage@3 = distinct recommended items / catalog size, and
    the mean popularity of recommended items vs the catalog average (raw
    popularity fractions, no log).

    Scale shape: the item_item_cosine pair plan (basket distinct behind the
    hot-basket guard, order-keyed pair aggregate with the support floor,
    broadcast item counts), one p1-PARTITIONED top-3 window over the
    already-reduced pair table, then three scalar aggregates."""
    b = _capped_baskets(spark, sf_dir, "l_partkey")
    nb = b.agg(F.count_distinct("l_orderkey").cast("long").alias("n_baskets"))
    # the per-item count table feeds FOUR plan branches (both cosine
    # sides, the rec-popularity join, and the catalog-popularity base);
    # unmaterialized, each branch re-runs the aggregate over the basket
    # checkpoint
    item = (
        b.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint()
    )
    x = b.select("l_orderkey", F.col("l_partkey").alias("p1"))
    y = b.select("l_orderkey", F.col("l_partkey").alias("p2"))
    pair = (
        x.join(y, "l_orderkey")
        .filter(F.col("p1") != F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
        .filter(F.col("co") >= 3)
    )
    i1 = item.select(F.col("l_partkey").alias("p1"), F.col("cnt").alias("c1"))
    i2 = item.select(F.col("l_partkey").alias("p2"), F.col("cnt").alias("c2"))
    scored = (
        pair.join(F.broadcast(i1), "p1")
        .join(F.broadcast(i2), "p2")
        .select(
            "p1",
            "p2",
            "co",
            (
                F.col("co").cast("double")
                / (F.sqrt(F.col("c1").cast("double")) * F.sqrt(F.col("c2").cast("double")))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("p1").orderBy(
        F.col("cosine").desc(), F.col("co").desc(), F.col("p2")
    )
    recs = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p1", "p2")
    )
    cat = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_catalog")
    )
    pop = recs.join(
        item.select(F.col("l_partkey").alias("p2"), "cnt"), "p2"
    )
    popfrac_mic = F.floor(
        F.col("cnt").cast("double") / F.col("n_baskets") * 1000000000.0
    ).cast("long")
    agg = pop.crossJoin(F.broadcast(nb)).agg(
        F.count(F.lit(1)).cast("long").alias("n_recs"),
        F.count_distinct("p2").cast("long").alias("n_rec_distinct"),
        F.sum(popfrac_mic).cast("long").alias("popmic"),
    )
    base = item.crossJoin(F.broadcast(nb)).agg(
        F.sum(popfrac_mic).cast("long").alias("cpopmic"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
    )
    out = (
        agg.crossJoin(F.broadcast(cat))
        .crossJoin(F.broadcast(base))
        .select(
            "n_catalog",
            "n_recs",
            "n_rec_distinct",
            (F.col("n_rec_distinct").cast("double") / F.col("n_catalog")).alias(
                "coverage_at_3"
            ),
            (
                F.col("popmic").cast("double") / 1000000000.0 / F.col("n_recs")
            ).alias("avg_rec_popularity"),
            (
                F.col("cpopmic").cast("double") / 1000000000.0 / F.col("n_items")
            ).alias("avg_catalog_popularity"),
        )
    )
    return out


@_q(
    "knn_loo_accuracy",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql(n_tables=12)}),
    lab AS (SELECT vec_id, label FROM embeddings WHERE label IS NOT NULL),
    sym AS (
      SELECT id_a AS id, id_b AS nb FROM pairs
      UNION ALL
      SELECT id_b AS id, id_a AS nb FROM pairs),
    votes AS (
      SELECT sym.id, lb.label AS nb_label, count(*) AS votes
      FROM sym JOIN lab lb ON lb.vec_id = sym.nb
      GROUP BY sym.id, lb.label),
    mx AS (SELECT id, MAX(votes) AS mv FROM votes GROUP BY id),
    pred AS (
      SELECT v.id, MIN(v.nb_label) AS pred_label
      FROM votes v JOIN mx ON v.id = mx.id AND v.votes = mx.mv
      GROUP BY v.id),
    j AS (
      SELECT la.label AS true_label,
             CASE WHEN pred.pred_label = la.label THEN 1 ELSE 0 END
               AS correct
      FROM pred JOIN lab la ON la.vec_id = pred.id)
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(SUM(correct) AS BIGINT) AS n_correct,
           CAST(SUM(correct) * 1000000 // count(*) AS BIGINT)
             AS accuracy_ppm
    FROM j GROUP BY true_label
    """,
)
def knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN accuracy over the LSH neighbour graph (cosine >=
    0.4): every labeled point is classified by the majority label of its
    neighbours (most votes, then smallest label), reported per class.

    Scale shape: the LSH pair plan (banded, linear), one vec-keyed label
    join, one (id, label) vote aggregate, one id-keyed argmax, one final
    |classes|-sized aggregate. No cartesian, no window."""
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.filter(F.col("label").isNotNull()).select("vec_id", "label")
    sym = _lsh_neighbours(emb)
    votes = (
        sym.join(lab.select(F.col("vec_id").alias("nb"), "label"), "nb")
        .groupBy("id", F.col("label").alias("nb_label"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pred = votes.groupBy("id").agg(
        F.min(
            F.struct((-F.col("votes")).alias("neg"), F.col("nb_label").alias("nb_label"))
        ).alias("m")
    )
    j = pred.join(lab.select(F.col("vec_id").alias("id"), "label"), "id").select(
        F.col("label").alias("true_label"),
        F.when(F.col("m.nb_label") == F.col("label"), 1).otherwise(0).alias("correct"),
    )
    return j.groupBy("true_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum("correct").cast("long").alias("n_correct"),
        F.expr("SUM(correct) * 1000000 DIV count(*)")
        .cast("long")
        .alias("accuracy_ppm"),
    )


def _kmeans_sql() -> str:
    """DuckDB replay of the fixed-point Lloyd round: the same coordinate
    quantization floor(v*quant)+offset, argmin tie-break (smallest distance,
    then smallest cluster index) and truncated-integer centroid update."""
    dim = DEFAULT_DIM
    quant = 10_000
    offset = 10_000
    qcols = ", ".join(
        f"CAST(floor(v[{i + 1}] * {quant}) AS BIGINT) + {offset} AS q{i + 1}"
        for i in range(dim)
    )
    d2_c0 = " + ".join(
        f"(q.q{i + 1} - c.q{i + 1}) * (q.q{i + 1} - c.q{i + 1})"
        for i in range(dim)
    )
    sums = ", ".join(f"SUM(q.q{i + 1}) AS s{i + 1}" for i in range(dim))
    c1cols = ", ".join(
        f"COALESCE(u.s{i + 1} // u.n, c0.q{i + 1}) AS q{i + 1}"
        for i in range(dim)
    )
    d2_c1 = " + ".join(
        f"(q.q{i + 1} - c.q{i + 1}) * (q.q{i + 1} - c.q{i + 1})"
        for i in range(dim)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, {qcols} FROM e),
    c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, *
           FROM q WHERE vec_id IN (1, 2, 3, 4)),
    d1 AS (SELECT q.vec_id, c.j, {d2_c0} AS d2 FROM q CROSS JOIN c0 c),
    m1 AS (SELECT vec_id, MIN(d2) AS md FROM d1 GROUP BY vec_id),
    a1 AS (SELECT d1.vec_id, MIN(d1.j) AS cl
           FROM d1 JOIN m1 ON d1.vec_id = m1.vec_id AND d1.d2 = m1.md
           GROUP BY d1.vec_id),
    u AS (SELECT a1.cl, count(*) AS n, {sums}
          FROM a1 JOIN q ON a1.vec_id = q.vec_id GROUP BY a1.cl),
    c1 AS (SELECT c0.j, {c1cols} FROM c0 LEFT JOIN u ON u.cl = c0.j),
    d2p AS (SELECT q.vec_id, c.j, {d2_c1} AS d2 FROM q CROSS JOIN c1 c),
    m2 AS (SELECT vec_id, MIN(d2) AS md FROM d2p GROUP BY vec_id),
    a2 AS (SELECT d2p.vec_id, MIN(d2p.j) AS cl, m2.md
           FROM d2p JOIN m2 ON d2p.vec_id = m2.vec_id AND d2p.d2 = m2.md
           GROUP BY d2p.vec_id, m2.md)
    SELECT CAST(cl AS BIGINT) AS cluster,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(SUM(md) AS BIGINT) AS inertia_q
    FROM a2 GROUP BY cl
    """


@_q("kmeans_lloyd_round", _kmeans_sql())
def kmeans_lloyd_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means round in fixed-point arithmetic: k=4 seeds (vec_ids
    1-4), assign, recompute truncated integer centroids (empty clusters keep
    their seed), re-assign, and report cluster sizes and quantized inertia.

    Scale shape: 2 scans with literal-centroid argmin projections, one k x
    dim-column aggregate between them, one final k-row aggregate."""
    dim, quant, offset, k_ids = 64, 10_000, 10_000, (1, 2, 3, 4)
    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * quant).cast("long") + offset,
    )
    pts = emb.select("vec_id", vq.alias("vq"))

    seeds = pts.filter(F.col("vec_id").isin(*k_ids)).orderBy("vec_id").collect()
    c0 = [list(r["vq"]) for r in seeds]  # 4 x 64 ints, cluster j = order

    def assign(cents):
        # argmin over literal centroids: lexicographic struct min =
        # (smallest d2, then smallest cluster index)
        opts = [
            F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("vq"),
                        F.array(*[F.lit(c).cast("long") for c in cent]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
                F.lit(j).cast("long").alias("j"),
            )
            for j, cent in enumerate(cents)
        ]
        return F.array_min(F.array(*opts))

    a1 = pts.select("vq", assign(c0).getField("j").alias("cl"))
    upd = (
        a1.groupBy("cl")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.sum(F.element_at("vq", i + 1)).alias(f"s{i}")
                for i in range(dim)
            ],
        )
        .collect()
    )
    by_cl = {int(r["cl"]): r for r in upd}
    c1 = [
        [int(by_cl[j][f"s{i}"]) // int(by_cl[j]["n"]) for i in range(dim)]
        if j in by_cl
        else c0[j]  # empty cluster keeps its seed
        for j in range(len(c0))
    ]
    m2 = assign(c1)
    return (
        pts.select(
            m2.getField("j").alias("cluster"), m2.getField("d2").alias("d2")
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("d2").cast("long").alias("inertia_q"),
        )
    )


def _norm2_sql() -> str:
    var = "v"
    return " + ".join(f"{var}[{i}]*{var}[{i}]" for i in range(1, DEFAULT_DIM + 1))


@_q(
    "embedding_norm_profile",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (SELECT vec_id,
                 CAST(floor(sqrt({_norm2_sql()}) * 1000000) AS BIGINT) AS nq
          FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(nq) AS BIGINT) AS min_norm_micro,
           CAST(max(nq) AS BIGINT) AS max_norm_micro,
           CAST(sum(CASE WHEN nq < 999000 OR nq > 1001000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unnormalized,
           CAST(sum(CASE WHEN nq < 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_degenerate
    FROM n
    """,
)
def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding norm health: the count of vectors whose L2 norm strays
    >0.1% from unit, of near-zero vectors, and the micro-quantized norm
    envelope.

    Scale shape: one scan computing per-row norms (flat unrolled arithmetic
    in whole-stage codegen — similarity.dot_flat), ONE scalar aggregate with
    map-side partials. The vector column never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    nq = F.floor(F.sqrt(dot_flat(v, v)) * 1_000_000).cast("long")
    return emb.select(nq.alias("nq")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("nq").cast("long").alias("min_norm_micro"),
        F.max("nq").cast("long").alias("max_norm_micro"),
        F.sum(
            F.when((F.col("nq") < 999_000) | (F.col("nq") > 1_001_000), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_unnormalized"),
        F.sum(F.when(F.col("nq") < 1_000, 1).otherwise(0))
        .cast("long")
        .alias("n_degenerate"),
    )
