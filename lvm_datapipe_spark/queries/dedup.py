"""Deduplication queries: exact, n-gram, MinHash, SimHash and LSH near-dup
pairs, their clusters, representatives and accuracy audits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.operators import dedup as D
from lvm_datapipe_spark.operators import similarity as V
from lvm_datapipe_spark.operators import text as X
from lvm_datapipe_spark.operators.decontaminate import (
    contamination_pairs, contamination_substring
)
from lvm_datapipe_spark.operators.dedup import MINHASH_K, ppjoin_pairs
from lvm_datapipe_spark.operators.graph import (
    connected_components, dedup_keep_representatives, observed_checkpoint
)
from lvm_datapipe_spark.operators.sampling import hash_bucket, split_assign
from lvm_datapipe_spark.operators.similarity import (
    DEFAULT_DIM, LSH_MAX_PLANES, LSH_TARGET_OCCUPANCY, lsh_table_planes, semdedup_keep
)
from lvm_datapipe_spark.operators.text import fingerprint
from lvm_datapipe_spark.queries._shared import (
    _SQL_SHINGLES,
    _SQL_TOKS,
    _closure_sql,
    _dot_sql,
    _ivf_sims_sql,
    _lsh_near_dup_sql,
    _lsh_verify_sql,
    _q,
)


#: CTEs ``toks`` and ``sh``: each document's distinct 3-gram shingle list
#: ``s`` (documents with none dropped)
_SQL_SH = f"""toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM toks WHERE len({_SQL_SHINGLES}) > 0)"""

#: CTEs ``sig`` and ``bands`` over ``sh``: 16 md5 MinHash values per
#: document and its 4 band buckets of 4 rows (the dedup.minhash_candidates
#: mirror)
_SQL_SIG_BANDS = """sig AS (
      SELECT doc_id,
             list_transform(generate_series(0, 15),
               i -> list_min(list_transform(s, x -> md5(CAST(i AS VARCHAR) || ':' || x)))) AS sig
      FROM sh),
    bands AS (
      SELECT doc_id, b.b AS band,
             md5(sig[b.b*4+1] || ',' || sig[b.b*4+2] || ',' || sig[b.b*4+3] || ',' || sig[b.b*4+4]) AS bucket
      FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b)"""

#: CTEs ``ex`` … ``inter`` over ``sh``: the shingle sets ``sz(doc_id, n)``
#: and every pair's shared-shingle count ``inter(id_a, id_b, n_common)``
#: under the stop-shingle cap 1000 (the dedup.shingle_intersections mirror)
_SQL_INTER = """ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    keep AS (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) <= 1000),
    exk AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN keep USING (shingle)),
    sz AS (SELECT doc_id, CAST(len(s) AS INTEGER) AS n FROM sh),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

def _jaccard_pairs_sql() -> str:
    """Shared oracle SQL for the capped n-gram Jaccard pair set (threshold
    0.6, stop-shingle cap 1000) — used by dedup_ngram_jaccard and the
    method-agreement composition."""
    return f"""
    WITH {_SQL_SH},
    {_SQL_INTER}
    SELECT id_a, id_b,
           n_common / (sa.n + sb.n - n_common) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE n_common / (sa.n + sb.n - n_common) >= 0.6
    """


def _minhash_pairs_sql() -> str:
    """Shared oracle SQL for the MinHash-LSH candidate pair set (16
    hashes, 4 bands x 4 rows)."""
    return f"""
    WITH {_SQL_SH},
    {_SQL_SIG_BANDS}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


@_q(
    "dedup_exact",
    r"""
    SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT dedup (hash-groupBy): md5 fingerprint over normalized text,
    duplicate groups with group size -- one keyed shuffle, the 100 TB
    workhorse."""
    docs = load_table(spark, sf_dir, "documents")
    return D.exact_duplicate_groups(docs)


@_q(
    "dedup_ngram_jaccard",
    _jaccard_pairs_sql(),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup with the stop-shingle skew cap ACTIVE (the
    oracle mirrors the cap with a HAVING df <= 1000 filter, so the check
    exercises the capped plan — the one that survives a skewed corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.ngram_jaccard_pairs(docs)


@_q(
    "dedup_minhash_lsh",
    _minhash_pairs_sql(),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH+LSH near-dup candidate pairs: token shingles -> permuted
    min-hash signatures -> banded buckets -> bucket equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs)


_SIMHASH_FP_CTES = """
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS tok
      FROM documents),
    bits AS (
      SELECT doc_id, b.b AS bit,
             SUM(2 * ((CAST(instr('0123456789abcdef',
                   substr(md5(tok), b.b // 4 + 1, 1)) AS INTEGER) - 1 >> (b.b % 4)) & 1) - 1) AS vote
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
      GROUP BY doc_id, b.b),
    fp AS (
      SELECT doc_id,
             string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
      FROM bits GROUP BY doc_id)
"""


def _simhash_sql() -> str:
    """Brute-force SQL mirror of the banded SimHash pipeline (banding is an
    exact optimization for hamming <= bands-1, so results are identical)."""
    return _SIMHASH_FP_CTES + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_filter(generate_series(1, 32),
                i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE len(list_filter(generate_series(1, 32),
          i -> substr(a.simhash, i, 1) <> substr(b.simhash, i, 1))) <= 3
    """


@_q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMHASH near-dup: 32-bit token-hash majority fingerprint per doc,
    banded Hamming equi-join for candidates, exact Hamming-distance verify
    -- proven equal to brute force in tests."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_pairs(docs)


@_q(
    "dedup_levenshtein",
    f"""
    SELECT p.id_a, p.id_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_distance
    FROM ({_simhash_sql()}) p
    JOIN documents a ON a.doc_id = p.id_a
    JOIN documents b ON b.doc_id = p.id_b
    WHERE levenshtein(a.text, b.text) <= 50
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification: SimHash banding generates the
    candidate pairs (keyed equi-joins only), then the exact Levenshtein
    distance filters them."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.simhash_pairs(docs).select("id_a", "id_b")
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("_ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("_tb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(
            F.abs(F.length("_ta") - F.length("_tb")) <= 50
        )
        .withColumn("edit_distance", F.levenshtein("_ta", "_tb", 50))
        .filter(F.col("edit_distance") >= 0)
        .select("id_a", "id_b", "edit_distance")
    )


def _lsh_near_dup_adaptive_sql(n_tables: int = 8) -> str:
    """DuckDB replay of the adaptive-plane LSH scale path: ``n_planes = min
    p>=4 with 2^p*target >= n`` (capped at ``p_max``) from ``COUNT(*)`` with
    similarity.auto_n_planes' integer rule, and the ``p``-bit bucket as the
    first ``p`` characters of the ``p_max``-bit bucket (numpy's plane draws
    are prefix-stable). See SCALE_BENCH §1."""
    p_max = LSH_MAX_PLANES
    target = LSH_TARGET_OCCUPANCY

    selects = []
    for t, planes in enumerate(lsh_table_planes(p_max, n_tables, 42)):
        bits = " || ".join(
            "(CASE WHEN ("
            + " + ".join(f"v[{i + 1}]*('{float(planes[b][i])!r}'::DOUBLE)" for i in range(DEFAULT_DIM))
            + ") >= 0 THEN '1' ELSE '0' END)"
            for b in range(p_max)
        )
        selects.append(
            f"SELECT vec_id, {t} AS tbl, substr(({bits}), 1, (SELECT np FROM np)) AS bucket FROM e"
        )
    np_cte = f"""
    np AS (SELECT COALESCE(MIN(p), {p_max}) AS np
           FROM range(4, {p_max + 1}) t(p)
           WHERE (1::BIGINT << p) * {target} >= (SELECT COUNT(*) FROM e)),"""
    return _lsh_verify_sql(np_cte, "\nUNION ALL\n".join(selects), 0.4)


# The declared embedding near-dup operator is the LSH scale path (12 tables
# for recall — its candidate set strictly contains the 8-table
# ``ann_lsh_near_dup`` primitive's, tables 0-7 share the same seeded draws).
# No declared query contains a corpus×corpus CartesianProduct (plan-asserted
# in tests/test_plan_quality.py).
@_q("dedup_embedding_cosine", _lsh_near_dup_adaptive_sql(n_tables=12))
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine ≥ 0.4 — LSH candidates (12
    hyperplane tables) → exact-cosine verify; deterministic given the fixed
    seed, so fully oracle-checked. See SCALE_BENCH §1."""
    emb = load_table(spark, sf_dir, "embeddings")
    return V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12, n_planes=None)


def _lsh_clusters_sql(n_tables: int = 8, adaptive: bool = False) -> str:
    """Transitive closure over the same deterministic LSH pair list the
    Spark plan produces; ``adaptive=True`` uses the COUNT(*)-sized plane
    budget of :func:`_lsh_near_dup_adaptive_sql`."""
    return _closure_sql(
        _lsh_near_dup_adaptive_sql(n_tables=n_tables)
        if adaptive
        else _lsh_near_dup_sql(n_tables=n_tables)
    )


@_q("dedup_clusters", _lsh_clusters_sql(n_tables=12, adaptive=True))
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: every vector with at least one
    cosine-0.4 near-dup is labeled with the minimum vec_id reachable through
    the near-dup graph. Pairs come from the 12-table adaptive LSH path and
    clusters from graph.connected_components; the oracle replays the seeded
    pair list through a recursive-CTE transitive closure. See SCALE_BENCH
    §19."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12, n_planes=None)
    return connected_components(pairs)


def _lsh_representatives_sql() -> str:
    return f"""
    WITH cc AS ({_lsh_clusters_sql(adaptive=True)})
    SELECT e.vec_id, CAST(e.label AS BIGINT) AS label
    FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id
    WHERE cc.cluster_id IS NULL OR cc.cluster_id = e.vec_id
    """


@_q("dedup_representatives", _lsh_representatives_sql())
def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete dedup decision: LSH near-dup pairs with the adaptive
    plane budget → connected components → exactly one row per cluster
    (minimum id) plus every row with no near-dup. See SCALE_BENCH §19."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_planes=None)
    corpus = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    return dedup_keep_representatives(corpus, pairs)


@_q("dedup_clusters_lsh", _lsh_clusters_sql())
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster assignment over the 8-table LSH primitive's pair list
    (equi-join on (table, bucket), no corpus×corpus product) feeding
    graph.connected_components. See SCALE_BENCH §19."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4)
    return connected_components(pairs)


@_q(
    "split_leakage_safe",
    f"""
    WITH cc AS ({_lsh_clusters_sql(adaptive=True)}),
    keyed AS (
      SELECT e.vec_id, coalesce(cc.cluster_id, e.vec_id) AS skey
      FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id),
    b AS (
      SELECT vec_id,
             ('0x' || substr(md5('split' || CAST(skey AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM keyed)
    SELECT vec_id,
           CASE WHEN bucket < 9000 THEN 'train' ELSE 'holdout' END AS split
    FROM b
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware train/holdout split: the split key is the near-dup
    CLUSTER representative, not the row id, so near-duplicates can never
    straddle the holdout boundary (the classic eval-leakage bug). See
    SCALE_BENCH §16."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_planes=None)
    cc = connected_components(pairs)
    keyed = emb.join(
        cc.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    ).select(
        "vec_id", F.coalesce("cluster_id", "vec_id").alias("skey")
    )
    return split_assign(keyed, "skey", {"train": 0.9, "holdout": 0.1}).select(
        "vec_id", "split"
    )


@_q(
    "decontaminate_overlap",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                         || toks[i+3] || ' ' || toks[i+4]))) AS shingle
      FROM t WHERE len(toks) >= 5),
    bsh AS (SELECT doc_id, shingle FROM s WHERE doc_id % 10 = 0),
    bhot AS (SELECT shingle FROM bsh GROUP BY shingle HAVING count(*) > 100),
    bok AS (SELECT * FROM bsh WHERE shingle NOT IN (SELECT shingle FROM bhot))
    SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS n_common
    FROM s c JOIN bok b ON c.shingle = b.shingle
    WHERE c.doc_id % 10 <> 0
    GROUP BY c.doc_id, b.doc_id
    """,
)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): flag training
    docs sharing exact word 5-grams with the held-out eval slice (every 10th
    doc), after dropping shingles in >100 benchmark docs (MAX_BENCH_FREQ,
    mirrored in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_pairs(corpus, bench)


@_q(
    "decontaminate_substring",
    r"""
    WITH norm AS (SELECT doc_id,
                  trim(regexp_replace(lower(text), '[ \t\n\r\f]+', ' ', 'g')) AS t
                  FROM documents),
    bench AS (SELECT doc_id AS bench_id, substr(t, 1, 30) AS snip
              FROM norm WHERE doc_id % 10 = 0 AND length(t) >= 30),
    corpus AS (SELECT doc_id, t FROM norm WHERE doc_id % 10 <> 0)
    SELECT c.doc_id, b.bench_id
    FROM corpus c JOIN bench b ON position(b.snip IN c.t) > 0
    """,
)
def decontaminate_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring decontamination (the verbatim-leak check next to the
    n-gram overlap mode): broadcast benchmark snippets probed with instr
    over one corpus scan."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    bench = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return contamination_substring(corpus, bench)


@_q(
    "dedup_incremental_cross",
    f"""
    WITH {_SQL_SH},
    {_SQL_SIG_BANDS}
    SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
    FROM bands n JOIN bands c ON n.band = c.band AND n.bucket = c.bucket
    WHERE n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
    """,
)
def dedup_incremental_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch vs corpus) MinHash-LSH candidates: every 10th
    doc plays the new batch, the rest the standing corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs_cross(
        docs.filter(F.col("doc_id") % 10 == 0),
        docs.filter(F.col("doc_id") % 10 != 0),
    )


@_q(
    "dedup_soft_weights",
    """
    WITH fp AS (
      SELECT doc_id, md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM documents),
    sz AS (SELECT f, CAST(count(*) AS BIGINT) AS cluster_size FROM fp GROUP BY f)
    SELECT fp.doc_id, sz.cluster_size,
           1.0 / CAST(sz.cluster_size AS DOUBLE) AS weight
    FROM fp JOIN sz ON fp.f = sz.f
    """,
)
def dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication: weight each doc by 1/cluster_size, so a duplicate
    group contributes one document's worth in expectation."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", X.fingerprint("text").alias("f"))
    sz = fp.groupBy("f").agg(F.count(F.lit(1)).alias("cluster_size"))
    return fp.join(sz, "f").select(
        "doc_id",
        "cluster_size",
        (F.lit(1.0) / F.col("cluster_size").cast("double")).alias("weight"),
    )


@_q(
    "dedup_ppjoin_pairs",
    r"""
    WITH toks AS (
      SELECT DISTINCT doc_id,
             unnest(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS tok
      FROM documents),
    freq AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
    sized AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY doc_id),
    ranked AS (
      SELECT t.doc_id, t.tok, s.n,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY f.tf, t.tok) AS r
      FROM toks t JOIN freq f ON f.tok = t.tok JOIN sized s ON s.doc_id = t.doc_id),
    prefix AS (
      SELECT doc_id, tok, n FROM ranked WHERE r <= n - ((9 * n + 9) // 10) + 1),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b
      FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
      WHERE 10 * b.n >= 9 * a.n AND 10 * a.n >= 9 * b.n),
    inter AS (
      SELECT c.id_a, c.id_b, c.n_a, c.n_b, CAST(count(*) AS BIGINT) AS i
      FROM cand c
      JOIN toks ta ON ta.doc_id = c.id_a
      JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
      GROUP BY c.id_a, c.id_b, c.n_a, c.n_b)
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(n_a + n_b - i AS DOUBLE) AS jaccard
    FROM inter WHERE 10 * i >= 9 * (n_a + n_b - i)
    """,
)
def dedup_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered EXACT set-similarity join (dedup.ppjoin_pairs,
    Jaccard ≥ 9/10 on distinct token sets): only each doc's rarest n − ⌈t·n⌉
    + 1 tokens are indexed, and every threshold is integer arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return ppjoin_pairs(docs)


@_q(
    "dedup_substring_spans",
    """
    WITH w AS (
      SELECT doc_id, md5(substr(text, p * 32 + 1, 64)) AS h
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, 1000)) AS p)
      WHERE p * 32 + 64 <= len(text)),
    ok AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h)
      WHERE nd BETWEEN 2 AND 8),
    wk AS (SELECT DISTINCT doc_id, h FROM w WHERE h IN (SELECT h FROM ok))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared_windows
    FROM wk a JOIN wk b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level near-dup detection: 64-char windows at stride
    32 are hashed per doc, windows in >8 distinct docs are dropped as stop
    windows, and the rest self-join on the hash (one keyed shuffle)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_win = F.least(
        F.floor((F.length("text") - F.lit(64)) / F.lit(32)) + 1, F.lit(1000)
    )
    w = (
        docs.filter(F.length("text") >= 64)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_win - 1)).alias("p"),
            "text",
        )
        .select(
            "doc_id",
            F.md5(
                F.substring(F.col("text"), F.col("p") * 32 + 1, 64).cast("binary")
            ).alias("h"),
        )
    )
    ok = (
        w.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= 8))
        .select("h")
    )
    wk = w.join(ok, "h", "left_semi").distinct()
    a = wk.select(F.col("doc_id").alias("id_a"), "h")
    b = wk.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h2"))
    return (
        a.join(b, (F.col("h") == F.col("h2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


def _semdedup_sql() -> str:
    """DuckDB replay of SemDeDup over the fixed quantizer: centroid literals
    from the same seeded draw, within-cell pair cosines over shared unit
    vectors, the dominance rule verbatim. ``centroid_sim`` is an output
    column, so the literals are STRING-cast to double ('…'::DOUBLE): DuckDB
    lexes a bare decimal literal as DECIMAL, whose round-trip can yield a
    different double than the Python/JVM repr parse, while the string→double
    cast is the IEEE round-to-nearest parse on both engines."""
    eps = 0.4
    sims = _ivf_sims_sql()
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    c0 AS (SELECT vec_id, v, {sims} AS sims,
                  sqrt({_dot_sql('v', 'v')}) AS nrm FROM e),
    a AS (SELECT vec_id,
                 CAST(list_indexof(sims, list_max(sims)) - 1 AS INTEGER) AS cell,
                 list_max(sims) AS centroid_sim,
                 list_transform(v, x -> x / nrm) AS vn
          FROM c0),
    rm AS (SELECT DISTINCT b.vec_id
           FROM a x JOIN a b ON x.cell = b.cell AND x.vec_id <> b.vec_id
           WHERE {_dot_sql('x.vn', 'b.vn')} >= {eps}
             AND (x.centroid_sim < b.centroid_sim
                  OR (x.centroid_sim = b.centroid_sim AND x.vec_id < b.vec_id)))
    SELECT a.vec_id, a.cell, a.centroid_sim,
           (rm.vec_id IS NULL) AS keep
    FROM a LEFT JOIN rm ON rm.vec_id = a.vec_id
    """


@_q("dedup_semantic_semdedup", _semdedup_sql())
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication over the embeddings table:
    fixed-quantizer cells, within-cell cosine pairs at eps=0.4, and the
    representative kept by ``similarity.semdedup_keep``'s dominance rule."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semdedup_keep(emb)


@_q(
    "dedup_containment_pairs",
    f"""
    WITH {_SQL_SH},
    {_SQL_INTER}
    SELECT id_a, id_b, n_common,
           n_common / sa.n AS cont_a,
           n_common / sb.n AS cont_b
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE n_common / sa.n >= 0.8 OR n_common / sb.n >= 0.8
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup (quote/inclusion detection): C(A in
    B) = |A∩B|/|A| scores a short doc fully quoted inside a long one as 1.0
    where Jaccard's union denominator would bury it."""
    docs = load_table(spark, sf_dir, "documents")
    return D.containment_pairs(docs)


@_q(
    "source_shingle_overlap",
    f"""
    WITH {_SQL_SH},
    ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
    ds AS (SELECT DISTINCT d.source, e.shingle
           FROM ex e JOIN documents d USING (doc_id)
           WHERE d.source IS NOT NULL),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM ds GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT src_a, src_b, n_shared,
           n_shared / LEAST(sa.n, sb.n) AS overlap_coef,
           n_shared / (sa.n + sb.n - n_shared) AS jaccard
    FROM inter
    JOIN sz sa ON sa.source = src_a
    JOIN sz sb ON sb.source = src_b
    """,
)
def source_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every pair of sources, how
    much of their n-gram shingle vocabulary is shared.

    Scale shape: the (source, shingle) table is corpus-sized but the
    per-shingle posting list is bounded by |sources| (tiny), so the shingle
    self-join cannot blow up regardless of corpus size; output is
    |sources|²/2 rows."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.filter(F.col("source").isNotNull())
    sr = D.shingle_rows(d, hashed=True)
    ds = (
        sr.join(d.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .dropDuplicates()
    )
    sz = ds.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n"))
    inter = (
        D.shingle_intersections(ds, "source", None)
        .select(
            F.col("id_a").alias("src_a"),
            F.col("id_b").alias("src_b"),
            F.col("n_common").cast("long").alias("n_shared"),
        )
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            (F.col("n_shared") / F.least("n_a", "n_b")).alias("overlap_coef"),
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


_MH_EST_SQL = " + ".join(
    f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
    for i in range(MINHASH_K)
)


@_q(
    "minhash_estimate_error",
    f"""
    WITH {_SQL_SH},
    {_SQL_SIG_BANDS},
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    est AS (
      SELECT p.id_a, p.id_b,
             CAST({_MH_EST_SQL} AS BIGINT) AS n_matches
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.id_a
      JOIN sig sb ON sb.doc_id = p.id_b),
    {_SQL_INTER},
    j AS (
      SELECT e.id_a, e.id_b, e.n_matches,
             CAST(e.n_matches AS DOUBLE) / CAST(16 AS DOUBLE) AS est_jaccard,
             COALESCE(i.n_common, CAST(0 AS BIGINT))
               / (sa.n + sb.n - COALESCE(i.n_common, CAST(0 AS BIGINT)))
               AS exact_jaccard
      FROM est e
      LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
      JOIN sz sa ON sa.doc_id = e.id_a
      JOIN sz sb ON sb.doc_id = e.id_b)
    SELECT id_a, id_b, n_matches, est_jaccard, exact_jaccard,
           est_jaccard - exact_jaccard AS err
    FROM j
    """,
)
def minhash_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH ESTIMATOR CALIBRATION — for every LSH candidate pair, the
    signature-estimated Jaccard (matching positions / k) next to the EXACT
    n-gram Jaccard, with the signed error.

    Scale shape: signatures and bands are the standard scan-shaped pipeline;
    the exact-Jaccard side runs the capped posting-list kernel (the cap
    counted over the whole corpus) restricted to the bounded candidate pairs
    before the pair aggregate. Everything keyed — no quadratic path."""
    docs = load_table(spark, sf_dir, "documents")
    # shared STRING shingle table for both kernels (entry-19 sharing): the
    # exact side derives its hashed form from the signatures' shingle rows
    strows, sigs, pairs = D.minhash_candidates(docs)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    match_expr = " + ".join(
        f"CASE WHEN sig_a[{i}] = sig_b[{i}] THEN 1 ELSE 0 END"
        for i in range(MINHASH_K)
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr(f"CAST({match_expr} AS BIGINT)").alias("n_matches"),
        )
    )
    sr = D.hashed_shingle_rows(strows).localCheckpoint()
    sizes = sr.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = D.shingle_intersections(sr, "doc_id", 1000, restrict_pairs=pairs)
    nza = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    nzb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    out = (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(nza, "id_a")
        .join(nzb, "id_b")
        .withColumn(
            "est_jaccard", F.col("n_matches").cast("double") / F.lit(16).cast("double")
        )
        .withColumn(
            "exact_jaccard", nc / (F.col("n_a") + F.col("n_b") - nc)
        )
        .select(
            "id_a",
            "id_b",
            "n_matches",
            "est_jaccard",
            "exact_jaccard",
            (F.col("est_jaccard") - F.col("exact_jaccard")).alias("err"),
        )
    )
    return out


@_q(
    "dedup_rate_by_source",
    r"""
    WITH f AS (SELECT source,
                      md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
                        AS fingerprint
               FROM documents WHERE source IS NOT NULL)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT fingerprint) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT fingerprint) AS BIGINT) AS n_dups,
           CAST(count(*) - count(DISTINCT fingerprint) AS DOUBLE) / count(*)
             AS dup_rate
    FROM f GROUP BY source
    """,
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP TELEMETRY per source — the feed-health readout every ingestion
    pipeline charts: exact-duplicate rate by scanner source (same
    whitespace/case-normalized fingerprint as [[dedup_exact]]).

    Scale shape: one (source, fingerprint)-keyed aggregate (the
    count-distinct shuffles once on the pair, then rolls up)."""
    docs = load_table(spark, sf_dir, "documents")

    f = docs.filter(F.col("source").isNotNull()).select(
        "source", fingerprint("text").alias("fingerprint")
    )
    return f.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("fingerprint").cast("long").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fingerprint"))
        .cast("long")
        .alias("n_dups"),
        (
            (F.count(F.lit(1)) - F.countDistinct("fingerprint")).cast("double")
            / F.count(F.lit(1))
        ).alias("dup_rate"),
    )


@_q(
    "split_leakage_measure",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql()}),
    cc AS ({_closure_sql("SELECT id_a, id_b FROM pairs")}),
    keyed AS (
      SELECT e.vec_id, coalesce(cc.cluster_id, e.vec_id) AS skey
      FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id),
    s AS (SELECT vec_id,
            CASE WHEN ('0x' || substr(md5('split' || CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT
                      % 10000 < 9000 THEN 'train' ELSE 'holdout' END AS naive_split,
            CASE WHEN ('0x' || substr(md5('split' || CAST(skey AS VARCHAR)), 1, 8))::BIGINT
                      % 10000 < 9000 THEN 'train' ELSE 'holdout' END AS safe_split
          FROM keyed),
    p AS (SELECT sa.naive_split AS na, sb.naive_split AS nb,
                 sa.safe_split AS fa, sb.safe_split AS fb
          FROM pairs pr
          JOIN s sa ON sa.vec_id = pr.id_a
          JOIN s sb ON sb.vec_id = pr.id_b)
    SELECT 'naive' AS scheme,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
           CASE WHEN count(*) > 0
                THEN CAST(SUM(CASE WHEN na <> nb THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)
                ELSE CAST(0.0 AS DOUBLE) END AS leak_rate
    FROM p
    UNION ALL
    SELECT 'cluster_safe',
           CAST(count(*) AS BIGINT),
           CAST(SUM(CASE WHEN fa <> fb THEN 1 ELSE 0 END) AS BIGINT),
           CASE WHEN count(*) > 0
                THEN CAST(SUM(CASE WHEN fa <> fb THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*)
                ELSE CAST(0.0 AS DOUBLE) END
    FROM p
    """,
)
def split_leakage_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURE the eval-leakage a naive row-id split causes: for every
    LSH-verified near-dup pair, does the pair straddle train/holdout?

    Scale shape: the pair source is the bucketed LSH path, clustering is
    graph.connected_components (O(log² n) contraction rounds), splits are
    scan-shaped md5 buckets; the measure itself is two keyed joins + one
    aggregate. See SCALE_BENCH §19."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4).localCheckpoint()
    cc = connected_components(pairs)
    keyed = emb.join(
        cc.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    ).select("vec_id", F.coalesce("cluster_id", "vec_id").alias("skey"))
    s = keyed.select(
        "vec_id",
        F.when(hash_bucket("vec_id", salt="split") < 9000, "train")
        .otherwise("holdout")
        .alias("naive_split"),
        F.when(hash_bucket("skey", salt="split") < 9000, "train")
        .otherwise("holdout")
        .alias("safe_split"),
    )
    sa = s.select(
        F.col("vec_id").alias("id_a"),
        F.col("naive_split").alias("na"),
        F.col("safe_split").alias("fa"),
    )
    sb = s.select(
        F.col("vec_id").alias("id_b"),
        F.col("naive_split").alias("nb"),
        F.col("safe_split").alias("fb"),
    )
    p = pairs.join(sa, "id_a").join(sb, "id_b")

    def scheme(label, a, b):
        cross = F.sum(F.when(F.col(a) != F.col(b), 1).otherwise(0)).cast("long")
        return p.agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            cross.alias("n_cross"),
        ).select(
            F.lit(label).alias("scheme"),
            "n_pairs",
            "n_cross",
            F.when(
                F.col("n_pairs") > 0,
                F.col("n_cross").cast("double") / F.col("n_pairs"),
            )
            .otherwise(F.lit(0.0))
            .alias("leak_rate"),
        )

    out = scheme("naive", "na", "nb").unionAll(
        scheme("cluster_safe", "fa", "fb")
    )
    return out


@_q(
    "dedup_threshold_sweep",
    f"""
    WITH {_SQL_SH},
    {_SQL_INTER},
    j AS (SELECT n_common / (sa.n + sb.n - n_common) AS jac
          FROM inter
          JOIN sz sa ON sa.doc_id = id_a
          JOIN sz sb ON sb.doc_id = id_b),
    b AS (SELECT CASE WHEN jac >= 0.9 THEN '0.9-1.0'
                      WHEN jac >= 0.8 THEN '0.8-0.9'
                      WHEN jac >= 0.7 THEN '0.7-0.8'
                      WHEN jac >= 0.6 THEN '0.6-0.7'
                      WHEN jac >= 0.5 THEN '0.5-0.6'
                      WHEN jac >= 0.4 THEN '0.4-0.5'
                      WHEN jac >= 0.3 THEN '0.3-0.4'
                      WHEN jac >= 0.2 THEN '0.2-0.3'
                      ELSE '0.0-0.2' END AS band
          FROM j)
    SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
    FROM b GROUP BY band
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep for the n-gram Jaccard deduper: the pair-count
    histogram by similarity band.

    Scale shape: identical to [[dedup_ngram_jaccard]] minus the final filter
    — the cap bounds every posting list; output is ≤9 rows."""
    docs = load_table(spark, sf_dir, "documents")
    cached = D.shingle_rows(docs, hashed=True).localCheckpoint()
    sizes = cached.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = D.shingle_intersections(cached, "doc_id", 1000)
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    j = inter.join(sa, "id_a").join(sb, "id_b").select(jac.alias("jac"))
    band = (
        F.when(F.col("jac") >= 0.9, "0.9-1.0")
        .when(F.col("jac") >= 0.8, "0.8-0.9")
        .when(F.col("jac") >= 0.7, "0.7-0.8")
        .when(F.col("jac") >= 0.6, "0.6-0.7")
        .when(F.col("jac") >= 0.5, "0.5-0.6")
        .when(F.col("jac") >= 0.4, "0.4-0.5")
        .when(F.col("jac") >= 0.3, "0.3-0.4")
        .when(F.col("jac") >= 0.2, "0.2-0.3")
        .otherwise("0.0-0.2")
    )
    out = (
        j.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    return out


@_q(
    "dup_graph_degree_hist",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql(n_tables=12)}),
    ends AS (SELECT id_a AS id FROM pairs
             UNION ALL SELECT id_b AS id FROM pairs),
    deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree
            FROM ends GROUP BY id)
    SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def dup_graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup pair graph (the LSH scale path's
    output): how many documents have 1, 2, ... near-duplicates.

    Scale shape: pairs from the banded equi-join, then two keyed aggregates
    (per-node degree, then the tiny histogram)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12)
    # one explode pass instead of a 2-projection unionAll: the union
    # re-executes the LSH verify pipeline once per branch (triangle-count
    # entry's pattern; same multiset of endpoints either way)
    ends = pairs.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias("id")
    )
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


@_q(
    "dedup_method_agreement",
    f"""
    WITH jc AS (SELECT id_a, id_b FROM ({_jaccard_pairs_sql()})),
    mh AS ({_minhash_pairs_sql()}),
    sh AS (SELECT id_a, id_b FROM ({_simhash_sql()}))
    SELECT 'minhash_vs_simhash' AS method_pair,
           (SELECT CAST(count(*) AS BIGINT) FROM mh JOIN sh USING (id_a, id_b))
             AS n_both,
           (SELECT CAST(count(*) AS BIGINT) FROM mh ANTI JOIN sh USING (id_a, id_b))
             AS n_only_first,
           (SELECT CAST(count(*) AS BIGINT) FROM sh ANTI JOIN mh USING (id_a, id_b))
             AS n_only_second
    UNION ALL
    SELECT 'minhash_vs_jaccard',
           (SELECT CAST(count(*) AS BIGINT) FROM mh JOIN jc USING (id_a, id_b)),
           (SELECT CAST(count(*) AS BIGINT) FROM mh ANTI JOIN jc USING (id_a, id_b)),
           (SELECT CAST(count(*) AS BIGINT) FROM jc ANTI JOIN mh USING (id_a, id_b))
    UNION ALL
    SELECT 'simhash_vs_jaccard',
           (SELECT CAST(count(*) AS BIGINT) FROM sh JOIN jc USING (id_a, id_b)),
           (SELECT CAST(count(*) AS BIGINT) FROM sh ANTI JOIN jc USING (id_a, id_b)),
           (SELECT CAST(count(*) AS BIGINT) FROM jc ANTI JOIN sh USING (id_a, id_b))
    """,
)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup method agreement: for each pair of MinHash-LSH bands, SimHash
    hamming<=3 and capped exact n-gram Jaccard >=0.6, how many document
    pairs both flag vs each alone.

    Scale shape: each pair set is its banded/capped keyed-join plan; the
    agreement counts are (id_a, id_b)-keyed joins between pair tables --
    pair tables are output-sized (bounded by banding), never corpus^2."""
    docs = load_table(spark, sf_dir, "documents")
    # the ngram and minhash kernels share the distinct (doc, shingle)
    # rows — their common dominant stage (posexplode + doc-keyed window)
    # builds ONCE here instead of once per kernel;
    # each kernel derives its own form (xxhash64 / md5 signature) from it
    shingles = D.shingle_rows(docs).localCheckpoint()
    jc = D.ngram_jaccard_pairs(docs, shingle_rows_df=shingles).select("id_a", "id_b")
    # the mask fold below is bit_or(m), which is idempotent under
    # duplicate pairs — so the two banded generators skip their final
    # pair-``distinct`` exchanges (dedup_pairs=False) and stream raw
    # per-band matches straight into the mask aggregate.  jc's output is
    # distinct by construction (it comes from a keyed aggregate).
    mh = D.minhash_lsh_pairs(
        docs, shingle_rows_df=shingles, dedup_pairs=False
    ).select("id_a", "id_b")
    sh = D.simhash_pairs(docs, dedup_pairs=False).select("id_a", "id_b")

    tagged = (
        mh.select("id_a", "id_b", F.lit(1).alias("m"))
        .unionAll(sh.select("id_a", "id_b", F.lit(2).alias("m")))
        .unionAll(jc.select("id_a", "id_b", F.lit(4).alias("m")))
    )
    cells = (
        tagged.groupBy("id_a", "id_b")
        .agg(F.bit_or("m").alias("mask"))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    by_mask = {int(r["mask"]): int(r["n"]) for r in cells}

    def _n(has: int, lacks: int) -> int:
        return sum(
            n for m, n in by_mask.items() if (m & has) == has and not (m & lacks)
        )

    rows = [
        (name, _n(x | y, 0), _n(x, y), _n(y, x))
        for name, x, y in (
            ("minhash_vs_simhash", 1, 2),
            ("minhash_vs_jaccard", 1, 4),
            ("simhash_vs_jaccard", 2, 4),
        )
    ]
    return spark.createDataFrame(
        rows,
        "method_pair string, n_both long, n_only_first long,"
        " n_only_second long",
    )


@_q(
    "dedup_transitivity_inflation",
    f"""
    WITH pairs AS ({_lsh_near_dup_sql(n_tables=12)}),
    clusters AS ({_closure_sql("SELECT id_a, id_b FROM pairs")}),
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS s
              FROM clusters GROUP BY cluster_id)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM sizes) AS n_clusters,
           (SELECT CAST(MAX(s) AS BIGINT) FROM sizes) AS max_cluster_size,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_direct_pairs,
           (SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) FROM sizes)
             AS n_implied_pairs,
           (SELECT CAST(SUM(s * (s - 1) // 2) AS DOUBLE) FROM sizes)
             / (SELECT count(*) FROM pairs) AS inflation_ratio
    """,
)
def dedup_transitivity_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitivity inflation of connected-component dedup: the sum(s choose
    2) pairs the clusters imply against the n_direct_pairs measured similar.

    Scale shape: the LSH pair plan + graph.connected_components (its
    contraction closes the over-merged chain/hub topologies this audit
    targets in O(log² n) rounds), then cluster-sized aggregates; one
    division at the end. See SCALE_BENCH §19."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs, seen = observed_checkpoint(V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12))
    n_direct = seen["n_rows"]
    clusters = connected_components(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    stats = sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.max("s").cast("long").alias("max_cluster_size"),
        F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("n_implied_pairs"),
    )
    out = stats.select(
        "n_clusters",
        "max_cluster_size",
        F.lit(n_direct).cast("long").alias("n_direct_pairs"),
        "n_implied_pairs",
        (F.col("n_implied_pairs").cast("double") / F.lit(n_direct)).alias(
            "inflation_ratio"
        ),
    )
    return out


def _exact_jaccard(cached: DataFrame, name: str) -> DataFrame:
    """``(id_a, id_b, <name>)``: the exact Jaccard of every pair sharing a
    shingle in the hashed ``(doc_id, shingle)`` rows ``cached``, from the
    capped posting-list intersection (stop-shingle cap 1000) and two keyed
    joins against the per-document set sizes."""
    sizes = cached.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = D.shingle_intersections(cached, "doc_id", 1000)
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias(name),
        )
    )


@_q(
    "minhash_s_curve_calibration",
    f"""
    WITH {_SQL_SH},
    {_SQL_INTER},
    jac AS (SELECT id_a, id_b,
                   n_common / (sa.n + sb.n - n_common) AS j
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b),
    mh AS ({_minhash_pairs_sql()}),
    lab AS (
      SELECT CASE WHEN j >= 0.8 THEN '0.8-1.0'
                  WHEN j >= 0.6 THEN '0.6-0.8'
                  WHEN j >= 0.4 THEN '0.4-0.6'
                  WHEN j >= 0.2 THEN '0.2-0.4'
                  ELSE '0.0-0.2' END AS jaccard_band,
             CASE WHEN mh.id_a IS NOT NULL THEN 1 ELSE 0 END AS collided
      FROM jac LEFT JOIN mh ON mh.id_a = jac.id_a AND mh.id_b = jac.id_b)
    SELECT jaccard_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(SUM(collided) AS BIGINT) AS n_collided,
           CAST(SUM(collided) AS DOUBLE) / count(*) AS collision_rate
    FROM lab GROUP BY jaccard_band
    """,
)
def minhash_s_curve_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash S-curve calibration: the empirical banding collision rate at
    each true-Jaccard band, for the (b=4, r=4) configuration.

    Scale shape: the capped posting-list intersection (bounded), the banded
    MinHash plan, one (id_a, id_b)-keyed join, a 5-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    # shared STRING shingle table (entry-19 sharing): the MinHash plan reads
    # it for its md5 signatures; the exact-Jaccard side derives the hashed
    # form — one corpus shingle pass instead of two
    strows = D.shingle_rows(docs).localCheckpoint()
    cached = D.hashed_shingle_rows(strows).localCheckpoint()
    j = _exact_jaccard(cached, "j")
    mh = D.minhash_lsh_pairs(docs, shingle_rows_df=strows).select(
        "id_a", "id_b", F.lit(1).alias("collided")
    )
    lab = j.join(mh, ["id_a", "id_b"], "left").select(
        F.when(F.col("j") >= 0.8, "0.8-1.0")
        .when(F.col("j") >= 0.6, "0.6-0.8")
        .when(F.col("j") >= 0.4, "0.4-0.6")
        .when(F.col("j") >= 0.2, "0.2-0.4")
        .otherwise("0.0-0.2")
        .alias("jaccard_band"),
        F.coalesce(F.col("collided"), F.lit(0)).alias("collided"),
    )
    out = lab.groupBy("jaccard_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("collided").cast("long").alias("n_collided"),
        (F.sum("collided").cast("double") / F.count(F.lit(1))).alias(
            "collision_rate"
        ),
    )
    return out


@_q(
    "dedup_cluster_size_hist",
    f"""
    WITH clusters AS ({_lsh_clusters_sql(n_tables=12)}),
    sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS s
              FROM clusters GROUP BY cluster_id)
    SELECT s AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY s
    """,
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size distribution of the near-dup components: how many
    clusters of 2, 3, ... members.

    Scale shape: LSH pairs -> graph.connected_components (O(log² n)
    contraction rounds) -> two tiny keyed aggregates. See SCALE_BENCH §19."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = V.lsh_near_dup_pairs(emb, threshold=0.4, n_tables=12)
    clusters = connected_components(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("s")
    )
    return sizes.groupBy(F.col("s").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


@_q(
    "dedup_review_queue",
    f"""
    WITH j AS (SELECT id_a, id_b, jaccard FROM ({_jaccard_pairs_sql()})),
    {_SQL_SH},
    {_SQL_INTER},
    allj AS (
      SELECT id_a, id_b,
             n_common / (sa.n + sb.n - n_common) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b)
    SELECT id_a, id_b, jaccard,
           abs(jaccard - CAST(0.6 AS DOUBLE)) AS threshold_distance
    FROM allj
    ORDER BY abs(jaccard - CAST(0.6 AS DOUBLE)) ASC, id_a ASC, id_b ASC
    LIMIT 20
    """,
)
def dedup_review_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup review queue: the 20 candidate pairs whose exact Jaccard sits
    closest to the 0.6 cut.

    Scale shape: the capped posting-list intersection, then top-k."""
    docs = load_table(spark, sf_dir, "documents")
    cached = D.shingle_rows(docs, hashed=True).localCheckpoint()
    allj = _exact_jaccard(cached, "jaccard")
    out = (
        allj.withColumn(
            "threshold_distance", F.abs(F.col("jaccard") - 0.6)
        )
        .orderBy(
            F.asc("threshold_distance"), F.asc("id_a"), F.asc("id_b")
        )
        .limit(20)
    )
    return out


@_q(
    "dedup_simhash_bit_bias",
    _SIMHASH_FP_CTES
    + """
    SELECT b.b AS bit,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN substr(simhash, b.b + 1, 1) = '1'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ones,
           CAST(SUM(CASE WHEN substr(simhash, b.b + 1, 1) = '1'
                         THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS p_one,
           abs(CAST(SUM(CASE WHEN substr(simhash, b.b + 1, 1) = '1'
                             THEN 1 ELSE 0 END) AS DOUBLE) / count(*) - 0.5)
             AS bias,
           abs(CAST(SUM(CASE WHEN substr(simhash, b.b + 1, 1) = '1'
                             THEN 1 ELSE 0 END) AS DOUBLE) / count(*) - 0.5)
             > 0.2 AS degenerate_bit
    FROM fp CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS b) b
    GROUP BY b.b
    """,
)
def dedup_simhash_bit_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit balance: the fraction of documents with each of the 32
    fingerprint bits set, its deviation from 0.5, and a degenerate flag at
    |p - 0.5| > 0.2.

    Scale shape: the scan-shaped SimHash signature build (one doc-keyed
    shuffle with map-side partial votes), then a bounded 32x fan-out of the
    fingerprint table and a 32-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    fp = D.simhash_docs(docs)
    e = fp.select(
        "simhash", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit")
    )
    one = F.when(
        F.substring(F.col("simhash"), F.col("bit") + 1, 1) == "1", 1
    ).otherwise(0)
    g = e.groupBy("bit").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(one).cast("long").alias("n_ones"),
    )
    p = F.col("n_ones").cast("double") / F.col("n_docs")
    return g.select(
        F.col("bit").cast("long").alias("bit"),
        "n_docs",
        "n_ones",
        p.alias("p_one"),
        F.abs(p - F.lit(0.5)).alias("bias"),
        (F.abs(p - F.lit(0.5)) > F.lit(0.2)).alias("degenerate_bit"),
    )


@_q(
    "dedup_lines_ccnet",
    """
    WITH seg AS (
      SELECT doc_id,
             md5(array_to_string(
               list_slice(string_split(text, ' '), s * 8 + 1, s * 8 + 8),
               ' ')) AS h
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, 1000)) AS s)
      WHERE (s + 1) * 8 <= len(string_split(text, ' '))),
    st AS (
      SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd,
             MIN(doc_id) AS first_doc
      FROM seg GROUP BY h)
    SELECT seg.doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN st.nd = 1 OR st.first_doc = seg.doc_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN st.nd = 1 OR st.first_doc = seg.doc_id
                         THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS kept_frac
    FROM seg JOIN st ON st.h = seg.h
    GROUP BY seg.doc_id
    """,
)
def dedup_lines_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level deduplication summary (the CCNet recipe): a line, here
    each complete non-overlapping 8-word segment, is dropped when its hash
    was already emitted by an earlier document.

    Scale shape: scan-shaped posexplode to segment hashes, ONE keyed
    aggregate to the distinct-segment stats table (nd + first_doc, one row
    per distinct hash however hot), an equi-join back on the hash, and a
    per-doc aggregate. No pairwise anything."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split(F.col("text"), " ")
    n_seg = F.least(F.floor(F.size(words) / F.lit(8)), F.lit(1000))
    seg = (
        docs.filter(F.size(words) >= 8)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), n_seg.cast("int") - 1)).alias("s"),
            words.alias("w"),
        )
        .select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    " ", F.slice(F.col("w"), F.col("s") * 8 + 1, 8)
                ).cast("binary")
            ).alias("h"),
        )
    )
    st = seg.groupBy("h").agg(
        F.count_distinct("doc_id").cast("long").alias("nd"),
        F.min("doc_id").alias("first_doc"),
    )
    kept = F.when(
        (F.col("nd") == 1) | (F.col("first_doc") == F.col("doc_id")), 1
    ).otherwise(0)
    return (
        seg.join(st, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.sum(kept).cast("long").alias("n_kept"),
            (F.sum(kept).cast("double") / F.count(F.lit(1))).alias("kept_frac"),
        )
    )


@_q(
    "dedup_winnowing_pairs",
    """
    WITH g AS (
      SELECT doc_id, p,
             md5(substr(text, p + 1, 16)) AS h,
             least(len(text) - 15, 1000) AS n_grams
      FROM documents
      CROSS JOIN (SELECT unnest(range(0, 1000)) AS p)
      WHERE p + 16 <= len(text) AND p < 1000),
    st AS (
      SELECT doc_id, p AS s,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wmin
      FROM g
      QUALIFY s <= n_grams - 8),
    fp AS (SELECT DISTINCT doc_id, wmin AS h FROM st),
    ok AS (
      SELECT h FROM (SELECT h, count(*) AS nd FROM fp GROUP BY h)
      WHERE nd BETWEEN 2 AND 8)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared_fp
    FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
    WHERE a.h IN (SELECT h FROM ok)
    GROUP BY a.doc_id, b.doc_id
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint near-dup pairs: hash every 16-char gram, and in
    each window of 8 consecutive gram hashes select the minimum; the
    selected hashes are the document's fingerprint set.

    Scale shape: scan-shaped gram hashing, ONE per-doc window pass (the
    partition is a single bounded document — never corpus-wide), a keyed
    distinct, and the capped hash self-join: pair cardinality bounded by
    cap^2 x n_fingerprints, all shuffles keyed."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the sliding window-min runs SCAN-LOCAL over a per-doc gram array
    # (transform + slice + array_min) instead of exploding ~1000 gram
    # rows per doc into a doc-keyed window: same md5 values, same
    # per-window minima, and no corpus-sized exchange + sort — the first
    # shuffle of the plan is the already-winnowed distinct.  Docs shorter
    # than w + k - 1 = 23 chars have no complete window (n_grams < 8).
    grams = (
        "transform(sequence(0, least(length(text) - 15, 1000) - 1),"
        " p -> md5(cast(substring(text, p + 1, 16) as binary)))"
    )
    wmins = (
        "transform(sequence(0, least(length(text) - 15, 1000) - 8),"
        " s -> array_min(slice(_grams, s + 1, 8)))"
    )
    fp = (
        docs.filter(F.length("text") >= 23)
        .withColumn("_grams", F.expr(grams))
        .select("doc_id", F.explode(F.expr(f"array_distinct({wmins})")).alias("h"))
        .distinct()
    )
    ok = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= 8))
        .select("h")
    )
    fpk = fp.join(ok, "h", "left_semi")
    a = fpk.select(F.col("doc_id").alias("id_a"), "h")
    b = fpk.select(F.col("doc_id").alias("id_b"), F.col("h").alias("h2"))
    return (
        a.join(b, (F.col("h") == F.col("h2")) & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fp"))
    )


@_q(
    "er_customer_linkage_pairs",
    """
    WITH c AS (SELECT c_custkey, c_name, c_nationkey,
                      substr(c_name, 10, 7) AS blk
               FROM customer)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist,
           CAST(CASE WHEN a.c_nationkey = b.c_nationkey
                     THEN 1 ELSE 0 END AS BIGINT) AS same_nation
    FROM c a JOIN c b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def er_customer_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over customer records: candidate pairs from an
    equi-join on a blocking key (the name's leading digit block), verified
    by Levenshtein <= 1, with a nation-agreement flag.

    Scale shape: one scan, one blocked self-equi-join (candidate volume =
    sum of block-size-choose-2, bounded by the blocking key's fan-in; a
    skewed block salts like any hot join key), per-pair O(len^2) verify on
    short strings. No cartesian."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 10, 7).alias("blk"),
    )
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nat_a"),
        "blk",
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_name").alias("name_b"),
        F.col("c_nationkey").alias("nat_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 1)
        .select(
            "id_a",
            "id_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
            F.when(F.col("nat_a") == F.col("nat_b"), 1)
            .otherwise(0)
            .cast("long")
            .alias("same_nation"),
        )
    )


@_q(
    "er_blocking_quality",
    """
    WITH c AS (SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk
               FROM customer),
    blocks AS (SELECT blk, count(*) AS n_records FROM c GROUP BY blk),
    m AS (SELECT a.blk, count(*) AS n_matches
          FROM c a JOIN c b
            ON a.blk = b.blk AND a.c_custkey < b.c_custkey
          WHERE levenshtein(a.c_name, b.c_name) <= 1
          GROUP BY a.blk)
    SELECT blocks.blk AS block,
           CAST(blocks.n_records AS BIGINT) AS n_records,
           CAST(blocks.n_records * (blocks.n_records - 1) / 2 AS BIGINT)
             AS n_candidates,
           CAST(COALESCE(m.n_matches, 0) AS BIGINT) AS n_matches,
           CASE WHEN blocks.n_records >= 2
                THEN CAST(COALESCE(m.n_matches, 0) * 1000000
                          // (blocks.n_records * (blocks.n_records - 1) / 2)
                          AS BIGINT)
           END AS match_ppm
    FROM blocks LEFT JOIN m ON blocks.blk = m.blk
    """,
)
def er_blocking_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking quality of [[er_customer_linkage_pairs]]: per block, the
    candidate volume (block size choose 2) against the matches found.

    Scale shape: one block-keyed count aggregate, the same blocked self-join
    as the linkage query collapsed map-side to per-block match counts, one
    tiny join on the block key; integer arithmetic (ppm)."""
    cust = load_table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey", "c_name", F.substring("c_name", 10, 7).alias("blk")
    )
    blocks = c.groupBy("blk").agg(F.count(F.lit(1)).alias("n_records"))
    a = c.select(F.col("c_custkey").alias("ka"), F.col("c_name").alias("na"), "blk")
    b = c.select(F.col("c_custkey").alias("kb"), F.col("c_name").alias("nb"), "blk")
    m = (
        a.join(b, "blk")
        .filter(F.col("ka") < F.col("kb"))
        .filter(F.levenshtein("na", "nb") <= 1)
        .groupBy("blk")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )
    cand = F.col("n_records") * (F.col("n_records") - 1) / 2
    return (
        blocks.join(m, "blk", "left")
        .select(
            F.col("blk").alias("block"),
            F.col("n_records").cast("long").alias("n_records"),
            cand.cast("long").alias("n_candidates"),
            F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
            F.when(
                F.col("n_records") >= 2,
                F.expr(
                    "coalesce(n_matches, 0) * 1000000"
                    " DIV CAST(n_records * (n_records - 1) / 2 AS BIGINT)"
                ),
            ).alias("match_ppm"),
        )
    )


@_q(
    "minhash_jaccard_error",
    f"""
    WITH {_SQL_SH},
    {_SQL_SIG_BANDS},
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    est AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(generate_series(1, 16), i -> sa.sig[i] = sb.sig[i])) / 16.0 AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.id_a
      JOIN sig sb ON sb.doc_id = c.id_b),
    {_SQL_INTER},
    tj AS (
      SELECT id_a, id_b, n_common / (sa.n + sb.n - n_common) AS true_jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b)
    SELECT e.id_a, e.id_b, e.est_jaccard,
           COALESCE(tj.true_jaccard, 0.0) AS true_jaccard,
           e.est_jaccard - COALESCE(tj.true_jaccard, 0.0) AS err
    FROM est e LEFT JOIN tj ON tj.id_a = e.id_a AND tj.id_b = e.id_b
    """,
)
def minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit: for every LSH candidate pair, the
    signature-agreement estimate (matches/16), the exact shingle Jaccard and
    the signed error.

    Scale shape: the candidate source is the banded bucket equi-join (never
    all-pairs); signatures join back per candidate on doc id; the exact side
    runs the capped posting-list intersection (stop-shingle cap 1000 counted
    over ALL docs, mirrored in the oracle) restricted to the broadcast
    candidate set before the pair aggregate. Every shuffle is keyed on doc
    id, band bucket or shingle hash; all ratios are int/int divisions."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE distinct (doc, shingle) STRING table feeds both kernels (entry-19
    # sharing): the exact-Jaccard side derives the hashed form below instead
    # of re-running the posexplode + doc-keyed-window pass.
    strows, sig, pairs = D.minhash_candidates(docs)
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.expr(
                    "CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
                    " v -> v)) AS DOUBLE)"
                )
                / 16
            ).alias("est_jaccard"),
        )
    )
    # Exact Jaccard for candidate pairs only (shared kernel restriction:
    # the stop-shingle cap is still counted over the WHOLE corpus, then
    # non-candidate ids/pairs drop out before the pair aggregate).
    cand_ids = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .union(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    # checkpoint: feeds the posting-list branch and the sizes branch
    ex = D.hashed_shingle_rows(strows).localCheckpoint()
    inter = D.shingle_intersections(ex, "doc_id", 1000, restrict_pairs=pairs)
    sizes = (
        ex.join(F.broadcast(cand_ids), "doc_id", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    za = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    zb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    tj = (
        inter.join(za, "id_a")
        .join(zb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("tj"),
        )
    )
    out = est.join(tj, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "est_jaccard",
        F.coalesce("tj", F.lit(0.0)).alias("true_jaccard"),
        (F.col("est_jaccard") - F.coalesce("tj", F.lit(0.0))).alias("err"),
    )
    return out
