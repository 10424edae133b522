"""Text and curation queries: tokenization, quality signals, sampling,
splits, packing, mixing and the curation pipelines over ``docs``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.catalog import load_table
from lvm_datapipe_spark.functions import strings as S
from lvm_datapipe_spark.operators import aggregates as A
from lvm_datapipe_spark.operators import dedup as D
from lvm_datapipe_spark.operators import relational as R
from lvm_datapipe_spark.operators import sampling as SM
from lvm_datapipe_spark.operators import text as X
from lvm_datapipe_spark.operators.decontaminate import decontaminate
from lvm_datapipe_spark.operators.packing import pack_sequences
from lvm_datapipe_spark.operators.relational import contiguous_ids, snapshot_diff
from lvm_datapipe_spark.operators.sampling import (
    hash_bucket,
    md5_order,
    sample_k_per_group,
    split_assign,
    stratified_sample,
    weighted_sample,
)
from lvm_datapipe_spark.operators.scd import scd2_merge
from lvm_datapipe_spark.operators.text import (
    scrub_text, token_count, tokens, word_ngrams
)
from lvm_datapipe_spark.queries._shared import (
    MAX_BASKET_SIZE,
    ORACLE_SQL,
    _HASHED_COUNTS_SQL,
    _SQL_LTOKS,
    _SQL_SHINGLES,
    _SQL_TOKS,
    _dsum,
    _q,
)


# ---------------------------------------------------------------------------
# C7 — regex answer-word extraction (sum_caption_llama.py:42-50), applied to a
# synthesized LLM-output string so the fixture is deterministic.
# ---------------------------------------------------------------------------


@_q(
    "c7_extract_answer",
    """
    SELECT p_partkey,
           array_to_string(COALESCE(list_filter(
             list_transform(
               string_split_regex(regexp_extract(
                 'noise text Answer: ["' || p_name || '", "' || p_type || '"] trailing',
                 'Answer:\\s*\\[(.*?)\\]', 1), '\\s*,\\s*'),
               w -> regexp_replace(trim(w), '["'']', '', 'g')),
             w -> w <> ''), []), '|') AS words_csv
    FROM part
    """,
)
def c7_extract_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Answer-word extraction (C7), projected to a deterministic '|'-joined
    string because the result hasher cannot hash list cells
    (`S.extract_answer_words` returns the array)."""
    part = load_table(spark, sf_dir, "part")
    raw = F.concat(
        F.lit('noise text Answer: ["'),
        F.col("p_name"),
        F.lit('", "'),
        F.col("p_type"),
        F.lit('"] trailing'),
    )
    return part.select(
        "p_partkey",
        F.array_join(S.extract_answer_words(raw), "|").alias("words_csv"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@_q(
    "text_token_count",
    f"SELECT doc_id, CAST(len({_SQL_TOKS}) AS INTEGER) AS n_tokens FROM documents",
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (operators.text): whitespace tokens and a BPE-ish
    regex token count per document -- the budget currency for
    [[mix_token_budget]]."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.token_count("text").alias("n_tokens"))


@_q(
    "text_quality",
    f"""
    WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS toks FROM documents),
    m AS (
      SELECT doc_id,
             CAST(length(text) AS INTEGER) AS n_chars_actual,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS INTEGER) AS n_punct,
             CAST(len(list_filter(toks,
               x -> list_contains(['the','a','and','of','is'], lower(x)))) AS INTEGER) AS n_stop
      FROM t)
    SELECT doc_id, n_chars_actual, n_tokens, n_punct,
           CASE WHEN n_chars_actual > 0 THEN n_punct / n_chars_actual ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END AS stopword_ratio,
           least(1.0, n_tokens / 100.0)
             * (1.0 - CASE WHEN n_chars_actual > 0 THEN n_punct / n_chars_actual ELSE 0.0 END)
             * (1.0 - CASE WHEN n_tokens > 0 THEN n_stop / n_tokens ELSE 0.0 END / 2.0)
             AS quality_score
    FROM m
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring (F8 filter hook, operators.text): length,
    punctuation ratio, stopword ratio and case gates composed into a
    keep/drop verdict per document."""
    docs = load_table(spark, sf_dir, "documents")
    return X.quality_features(docs)


#: the four language-ID stopword hit counts ``hits_en`` … ``hits_de`` over
#: a token list ``toks`` (the text.language_id mirror)
_LANG_HITS_SQL = """CAST(len(list_filter(toks, x -> list_contains(['the','a','and','of','is'], lower(x)))) AS INTEGER) AS hits_en,
        CAST(len(list_filter(toks, x -> list_contains(['le','la','les','et','une'], lower(x)))) AS INTEGER) AS hits_fr,
        CAST(len(list_filter(toks, x -> list_contains(['el','los','y','que','una'], lower(x)))) AS INTEGER) AS hits_es,
        CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist'], lower(x)))) AS INTEGER) AS hits_de"""


@_q(
    "text_langid",
    f"""
    WITH t AS (SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
               FROM documents),
    h AS (
      SELECT doc_id,
        {_LANG_HITS_SQL}
      FROM t)
    SELECT doc_id, hits_en, hits_fr, hits_es, hits_de,
           CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'en'
                WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'fr'
                WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'es'
                ELSE 'de' END AS predicted_lang
    FROM h
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram language ID over documents (operators.text): per-
    language stopword/character-class evidence scores, argmax label --
    scan-shaped, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return X.language_id(docs)


@_q(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (rolling polynomial hash over normalized text,
    operators.text.fingerprint_docs): cheap stable content identity for
    joins and caching."""
    docs = load_table(spark, sf_dir, "documents")
    return X.fingerprint_docs(docs)


# ---------------------------------------------------------------------------
# C2/C3/C5 string-function coverage on synthesized path/caption columns
# ---------------------------------------------------------------------------


@_q(
    "c2_path_functions",
    r"""
    WITH p AS (SELECT doc_id,
                      'data/' || source || '/doc_' || CAST(doc_id AS VARCHAR) || '.Mp4' AS path
               FROM documents)
    SELECT doc_id,
           string_split(path, '/')[-1] AS base,
           regexp_replace(path, '/[^/]*$', '') AS dir,
           lower(string_split(path, '.')[-1]) AS ext,
           regexp_replace(string_split(path, '/')[-1], '\.[^.]*$', '') AS stem
    FROM p
    """,
)
def c2_path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path-convention scalar functions (C2/S13 resolver, strings.py):
    build data/<source>/doc_<id>.Mp4 paths, then re-derive basename /
    dirname / extension / stem."""
    docs = load_table(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("data/"), F.col("source"), F.lit("/doc_"), F.col("doc_id"), F.lit(".Mp4")
    )
    return docs.select(
        "doc_id",
        S.path_basename(path).alias("base"),
        S.path_dirname(path).alias("dir"),
        S.file_extension(path).alias("ext"),
        S.file_stem(path).alias("stem"),
    )


@_q(
    "c5_clean_caption",
    """
    SELECT p_partkey,
           trim(replace(split_part('<start_of_text>a ' || p_name || ' scene <end_of_text>junk',
                '<end_of_text>', 1), '<start_of_text>', '')) AS caption
    FROM part
    """,
)
def c5_clean_caption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption cleanup (C5): strip the <start_of_text> marker and truncate
    at <end_of_text>, then trim -- the reference's generated-caption post-
    processing as one composed Column."""
    part = load_table(spark, sf_dir, "part")
    raw = F.concat(
        F.lit("<start_of_text>a "), F.col("p_name"), F.lit(" scene <end_of_text>junk")
    )
    return part.select("p_partkey", S.clean_caption(raw).alias("caption"))


@_q(
    "c9_frame_indices",
    """
    WITH n AS (SELECT l_orderkey, l_linenumber,
                      CAST(l_quantity * 10 AS INTEGER) AS frame_count
               FROM lineitem)
    SELECT l_orderkey, l_linenumber,
           array_to_string([CAST(floor(frame_count * 0.2) AS INTEGER),
            CAST(floor(frame_count * 0.5) AS INTEGER),
            CAST(floor(frame_count * 0.8) AS INTEGER)], ',') AS key_frames_csv
    FROM n
    """,
)
def c9_frame_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-frame index math (C9), projected to a ','-joined string
    (`S.frame_indices_at_fractions` returns the array)."""
    li = load_table(spark, sf_dir, "lineitem")
    n = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") * 10).cast("int").alias("frame_count"),
    )
    return n.select(
        "l_orderkey",
        "l_linenumber",
        F.array_join(
            S.frame_indices_at_fractions(), ","
        ).alias("key_frames_csv"),
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token counting + rolling-hash (winnowing) fingerprints
# ---------------------------------------------------------------------------

# ASCII-only classes so Java regex (Spark) and RE2 (DuckDB) agree exactly
_BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@_q(
    "text_bpe_token_count",
    rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs | digit runs |
    single punctuation) — the pre-tokenizer shape of GPT-2-style BPE,
    restricted to ASCII classes so both engines' regex dialects agree."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


@_q(
    "text_winnow_fingerprint",
    r"""
    WITH norm AS (
      SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      FROM documents),
    wins AS (
      SELECT doc_id, md5(substr(t, w.i, 16)) AS wh
      FROM norm CROSS JOIN LATERAL (
        SELECT unnest(generate_series(1, greatest(length(t) - 15, 1))) AS i) w)
    SELECT doc_id, MIN(wh) AS winnow_fp, COUNT(*) AS n_windows
    FROM wins GROUP BY doc_id
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via rolling k-char window hashes (winnowing
    signature = min window hash): normalize → hash every 16-char window →
    min per doc."""
    docs = load_table(spark, sf_dir, "documents")
    k = 16
    norm = docs.select(
        "doc_id",
        F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))).alias("t"),
    )
    starts = norm.select(
        "doc_id",
        F.col("t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("t") - (k - 1), F.lit(1)))
        ).alias("i"),
    )
    hashed = starts.select(
        "doc_id", F.md5(F.substring(F.col("t"), F.col("i").cast("int"), k).cast("binary")).alias("wh")
    )
    return hashed.groupBy("doc_id").agg(
        F.min("wh").alias("winnow_fp"), F.count(F.lit(1)).alias("n_windows")
    )


@_q(
    "text_normalize",
    r"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 \t\n\r\f]', '', 'g'),
                '[ \t\n\r\f]+', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalization chain (lower → ASCII class strip → whitespace
    collapse) as one codegen'd projection — the step every downstream dedup
    or fingerprint consumes."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", X.normalize_text().alias("norm_text"))


@_q(
    "vocab_top_tokens",
    f"""
    WITH tok AS (SELECT unnest({_SQL_LTOKS}) AS token FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS n
    FROM tok GROUP BY token
    ORDER BY n DESC, token
    LIMIT 50
    """,
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: corpus token frequencies → top 50."""
    docs = load_table(spark, sf_dir, "documents")
    freq = X.token_frequencies(docs)
    return R.top_k(freq, [F.desc("n"), F.asc("token")], 50)


@_q(
    "vocab_stats",
    f"""
    WITH tok AS (SELECT unnest({_SQL_LTOKS}) AS token FROM documents),
    freq AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
    SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           count(*) / CAST(sum(n) AS DOUBLE) AS type_token_ratio
    FROM freq
    """,
)
def vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row vocabulary summary (total tokens, vocab size, type-token
    ratio) over the shared token-frequency shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return X.vocab_stats(docs)


@_q(
    "c14_json_extract",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def c14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C14 — embedded-JSON parsing on the events ``props`` column (the
    reference round-trips records through json.load/dump everywhere; here a
    native JSON path expression, no Python)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@_q(
    "f6_training_pairs",
    """
    SELECT text AS caption, 'docs/' || CAST(doc_id AS VARCHAR) || '.txt' AS clip_path
    FROM documents WHERE lang = 'en'
    """,
)
def f6_training_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 — the (caption, path) training-pair projection
    (macvid.py:183-190): a pure column-pruned select; the scan reads only
    the two referenced columns."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == "en").select(
        F.col("text").alias("caption"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias(
            "clip_path"
        ),
    )


@_q(
    "split_train_val_test",
    """
    WITH b AS (
      SELECT doc_id,
             ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM documents)
    SELECT doc_id,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split keyed on a content hash of doc_id —
    reproducible across engines, repartitions, and re-runs (operators/
    sampling.py); the oracle replays the identical md5-bucket arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    return split_assign(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "split")


@_q(
    "sample_stratified",
    """
    WITH b AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5('strata' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM documents)
    SELECT doc_id, lang FROM b
    WHERE bucket < (CASE WHEN lang = 'en' THEN 2000 ELSE 10000 END)
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language rebalancing: deterministically keep 20% of English docs and
    100% of everything else — the stable per-stratum downsampling a
    multilingual training-corpus build uses."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs).select("doc_id", "lang")


@_q(
    "text_repetition",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id, len(toks) AS words_total,
             len(list_distinct(toks)) AS words_distinct, toks
      FROM t WHERE len(toks) >= 2),
    g AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i + 1])) AS gram
      FROM s),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram),
    a AS (
      SELECT doc_id, max(c) AS top_c, sum(c) AS total_g,
             sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_g
      FROM gc GROUP BY doc_id)
    SELECT s.doc_id, words_total,
           1.0 - words_distinct::DOUBLE / words_total AS word_rep_ratio,
           top_c::DOUBLE / total_g AS top_ngram_frac,
           dup_g::DOUBLE / total_g AS dup_ngram_frac
    FROM s JOIN a ON s.doc_id = a.doc_id
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality metrics (boilerplate/template detection):
    word repetition ratio, top-bigram fraction, duplicate-bigram fraction
    per document (operators/text.py::repetition_features)."""
    docs = load_table(spark, sf_dir, "documents")
    return X.repetition_features(docs)


#: oracle CTE ``t``: each document's whitespace token count ``n_tokens``
_DOC_TOKENS_SQL = """WITH t AS (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents)"""


@_q(
    "pack_sequences_by_lang",
    f"""
    {_DOC_TOKENS_SQL},
    c AS (
      SELECT doc_id, lang, n_tokens,
             (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING))::BIGINT - n_tokens AS start_offset
      FROM t)
    SELECT doc_id, lang, n_tokens, start_offset,
           start_offset // 512 AS pack_id,
           start_offset % 512 AS pack_offset,
           CASE WHEN n_tokens = 0 THEN 1
                ELSE (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
           END AS n_packs
    FROM c
    """,
)
def pack_sequences_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing into 512-token windows, sharded by lang
    (operators/packing.py): each document's window id, offset, and span
    count — the layout step between a curated corpus and a training run."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("doc_id", "lang", token_count("text").cast("long").alias("n_tokens"))
    return pack_sequences(sized).select(
        "doc_id", "lang", "n_tokens", "start_offset", "pack_id", "pack_offset", "n_packs"
    )


@_q(
    "text_scrub",
    """
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
               || '@example.com or https://site' || CAST(doc_id AS VARCHAR)
               || '.example/page?id=' || CAST(doc_id AS VARCHAR)
               || ' tel +1 (415) 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0'),
             'https?://[^\\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{6,}[0-9]', '<PHONE>', 'g') AS scrubbed
    FROM documents
    """,
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/link scrubbing (operators/text.py::scrub_text): synthetic
    deterministic PII (email, URL, phone from doc_id) is added to the text
    and redacted with typed placeholders."""
    docs = load_table(spark, sf_dir, "documents")
    decorated = F.concat(
        F.substring("text", 1, 40),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or https://site"), F.col("doc_id").cast("string"),
        F.lit(".example/page?id="), F.col("doc_id").cast("string"),
        F.lit(" tel +1 (415) 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
    )
    return docs.select("doc_id", scrub_text(decorated).alias("scrubbed"))


@_q(
    "sample_k_per_lang",
    """
    SELECT doc_id, lang FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY lang
      ORDER BY md5('topk' || CAST(doc_id AS VARCHAR)), doc_id) <= 20
    """,
)
def sample_k_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced subset curation: exactly 20 deterministically-chosen docs
    per language (operators/sampling.py::sample_k_per_group — hash-ranked,
    WindowGroupLimit plan, stable under repartitioning)."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_k_per_group(docs).select("doc_id", "lang")


@_q(
    "snapshot_diff_docs",
    """
    WITH old AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 0),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END) AS fp
      FROM documents WHERE doc_id % 13 <> 0)
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old.fp IS NULL THEN 'added'
                WHEN new.fp IS NULL THEN 'removed'
                WHEN old.fp <> new.fp THEN 'modified'
                ELSE 'unchanged' END AS status
    FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
    """,
)
def snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot diff (relational.snapshot_diff) of two
    deterministic views of the documents table: each doc labeled
    added/removed/modified/unchanged by md5 fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fingerprint")
    )
    new = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            ).otherwise(F.col("text")).cast("binary")
        ).alias("fingerprint"),
    )
    return snapshot_diff(old, new)


@_q(
    "quality_gate_tokens",
    """
    WITH tc AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents),
    thr AS (SELECT quantile_cont(n_tokens, 0.1) AS p10 FROM tc)
    SELECT doc_id, n_tokens FROM tc, thr WHERE n_tokens >= p10
    """,
)
def quality_gate_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-threshold quality gating: drop the shortest decile of the
    corpus."""
    docs = load_table(spark, sf_dir, "documents")
    tc = docs.select("doc_id", token_count("text").cast("long").alias("n_tokens"))
    thr = tc.agg(F.expr("percentile(n_tokens, 0.1)").alias("p10"))
    return (
        tc.crossJoin(F.broadcast(thr))
        .filter(F.col("n_tokens") >= F.col("p10"))
        .select("doc_id", "n_tokens")
    )


@_q(
    "tfidf_top_terms",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_LTOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    dft AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (SELECT tf.doc_id, tf.token,
                 CAST(tf.tf * n.n_docs AS DOUBLE) / dft.df AS tfidf
          FROM tf JOIN dft USING (token) CROSS JOIN n)
    SELECT doc_id, token, tfidf FROM (
      SELECT s.*, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, token) AS rn FROM s)
    WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 salient terms by tf·idf with a LINEAR idf
    (tf·N/df), which is bit-identical across engines where a log-based idf
    need not be."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    s = (
        tf.join(dft, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


def _exact_dedup(docs: DataFrame) -> DataFrame:
    """``(doc_id, lang, text)`` of the min doc_id per md5 text fingerprint:
    exact dedup as one fingerprint-keyed window (no extra shuffle)."""
    fp = docs.select(
        "doc_id", "lang", "text", X.fingerprint("text").alias("f")
    )
    w = Window.partitionBy("f")
    return (
        fp.withColumn("keeper", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keeper"))
        .drop("keeper", "f")
    )


def _gate_split(docs: DataFrame) -> DataFrame:
    """Quality gate (``n_tokens >= 20``) then the deterministic md5-bucket
    80/10/10 train/val/test split: ``(doc_id, lang, n_tokens, split)``."""
    scored = docs.select(
        "doc_id", "lang", X.token_count("text").alias("n_tokens")
    )
    gated = scored.filter(F.col("n_tokens") >= 20)
    return split_assign(
        gated, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    ).select("doc_id", "lang", "n_tokens", "split")


def _kept_sql(src: str) -> str:
    """Oracle CTEs ``fp`` and ``kept``: :func:`_exact_dedup` over ``src``."""
    return f"""fp AS (
      SELECT doc_id, lang, text,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS f
      FROM {src}),
    kept AS (
      SELECT doc_id, lang, text FROM (
        SELECT fp.*, min(doc_id) OVER (PARTITION BY f) AS keeper FROM fp)
      WHERE doc_id = keeper)"""


def _gate_split_sql(src: str) -> str:
    """Oracle tail: :func:`_gate_split` over the CTE ``src``."""
    return f"""scored AS (
      SELECT doc_id, lang, CAST(len({_SQL_TOKS}) AS INTEGER) AS n_tokens
      FROM {src}),
    gated AS (SELECT * FROM scored WHERE n_tokens >= 20),
    b AS (
      SELECT gated.*,
             ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM gated)
    SELECT doc_id, lang, n_tokens,
           CASE WHEN bucket < 8000 THEN 'train'
                WHEN bucket < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM b"""


@_q(
    "pipeline_curate",
    f"""
    WITH {_kept_sql("documents")},
    {_gate_split_sql("kept")}
    """,
)
def pipeline_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline as one query: exact dedup (md5
    fingerprint, keep min doc_id) → quality gate (token floor) →
    deterministic md5-bucket split."""
    docs = load_table(spark, sf_dir, "documents")
    return _gate_split(_exact_dedup(docs))


@_q(
    "sample_weighted",
    """
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             least(n_chars / 400.0, 1.0) AS keep_p,
             ('0x' || substr(md5('wsample' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % 10000 AS bucket
      FROM documents)
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM w WHERE bucket < keep_p * 10000
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic importance sampling: a per-row keep probability from a
    quality proxy (longer docs upweighted, capped at 1.0), decided by a pure
    hash of the key."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "keep_p", F.least(F.col("n_chars") / 400.0, F.lit(1.0))
    )
    return weighted_sample(docs).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("n_chars")
    )


@_q(
    "unpivot_doc_metrics",
    """
    SELECT doc_id, metric, value FROM (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE) AS chars,
             CAST(length(text) AS DOUBLE) AS actual_chars,
             CAST(len(list_filter(string_split_regex(text, '\\s+'),
                  x -> x <> '')) AS DOUBLE) AS tokens
      FROM documents)
    UNPIVOT (value FOR metric IN (chars, actual_chars, tokens))
    """,
)
def unpivot_doc_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (the inverse of agg_pivot): wide per-doc metrics to
    long (doc_id, metric, value) — a narrow Expand, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("chars"),
        F.length("text").cast("double").alias("actual_chars"),
        X.token_count("text").cast("double").alias("tokens"),
    )
    return wide.unpivot(
        "doc_id", ["chars", "actual_chars", "tokens"], "metric", "value"
    )


@_q(
    "c16_extract_all_numbers",
    """
    SELECT doc_id,
           coalesce(list_aggregate(regexp_extract_all(text, '[0-9]+'),
                    'string_agg', ','), '') AS nums,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INTEGER) AS n_nums
    FROM documents
    """,
)
def c16_extract_all_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all — the multi-match sibling of C7's single extract:
    all digit runs per document plus the match count, one codegen'd
    projection."""
    docs = load_table(spark, sf_dir, "documents")
    nums = F.expr(r"regexp_extract_all(text, '[0-9]+', 0)")
    # array projected to a joined string: the result hasher cannot
    # hash list cells (see tests/test_oracle_queries.py)
    return docs.select(
        "doc_id",
        F.array_join(nums, ",").alias("nums"),
        F.size(nums).alias("n_nums"),
    )


@_q(
    "langid_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\\s+'), x -> x <> '') toks
               FROM documents),
    h AS (
      SELECT doc_id, lang,
        {_LANG_HITS_SQL}
      FROM t),
    p AS (
      SELECT lang,
           CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de) = 0 THEN 'und'
                WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'en'
                WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'fr'
                WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'es'
                ELSE 'de' END AS predicted_lang
      FROM h)
    SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY lang, predicted_lang
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-eval pattern: confusion matrix of the heuristic language
    ID against the labeled lang column — one scan through the predictor, one
    keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pred = X.language_id(docs).select("doc_id", "predicted_lang")
    return (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "text_sentences",
    r"""
    WITH s AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                         x -> trim(x)), x -> x <> '') AS sents
      FROM documents)
    SELECT doc_id,
           CAST(len(sents) AS INTEGER) AS n_sentences,
           CAST(coalesce(list_aggregate(list_transform(sents,
                x -> length(x)), 'max'), 0) AS INTEGER) AS max_sentence_chars
    FROM s
    """,
)
def text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats (regex terminator split, trimmed,
    empties dropped): per-doc sentence count and longest sentence — the
    pre-chunking pass before packing or windowed embedding."""
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x)
        ),
        lambda x: x != "",
    )
    return docs.select(
        "doc_id",
        F.size(sents).alias("n_sentences"),
        F.coalesce(
            F.array_max(F.transform(sents, lambda x: F.length(x))), F.lit(0)
        ).alias("max_sentence_chars"),
    )


@_q(
    "text_chunk_overlap",
    """
    SELECT d.doc_id, CAST(s.start AS INT) AS chunk_start,
           substr(d.text, s.start + 1, 200) AS chunk
    FROM documents d
    CROSS JOIN LATERAL (
      SELECT unnest(generate_series(0, d.n_chars - 1, 150)) AS start) s
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking: size 200, stride 150, so consecutive
    chunks share 50 characters."""
    docs = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(0), F.col("n_chars").cast("int") - 1, F.lit(150)
    )
    return docs.select(
        "doc_id", F.explode(starts).alias("chunk_start"), "text"
    ).select(
        "doc_id",
        "chunk_start",
        F.expr("substring(text, chunk_start + 1, 200)").alias("chunk"),
    )


@_q(
    "text_char_diversity",
    """
    WITH ch AS (
      SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents),
    cnt AS (SELECT doc_id, c, count(*) AS k FROM ch GROUP BY doc_id, c),
    s AS (SELECT doc_id,
                 CAST(sum(k * k) AS BIGINT) AS sum_k2,
                 CAST(sum(k) AS BIGINT) AS n,
                 CAST(count(*) AS BIGINT) AS n_distinct_chars
          FROM cnt GROUP BY doc_id)
    SELECT doc_id,
           1.0 - CAST(sum_k2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
             AS char_gini,
           n_distinct_chars
    FROM s
    """,
)
def text_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution diversity as GINI IMPURITY (1 − Σp²) — the
    low-entropy-gibberish / repeated-char filter signal."""
    docs = load_table(spark, sf_dir, "documents")
    ch = docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    cnt = ch.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    s = cnt.groupBy("doc_id").agg(
        F.sum(F.col("k") * F.col("k")).alias("sum_k2"),
        F.sum("k").alias("n"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
    )
    gini = F.lit(1.0) - F.col("sum_k2").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    return s.select("doc_id", gini.alias("char_gini"), "n_distinct_chars")


@_q(
    "scd2_docs_merge",
    """
    WITH cur_open AS (
      SELECT doc_id, md5(text) AS fp, '2024-01-01' AS valid_from
      FROM documents WHERE doc_id % 13 <> 0),
    hist AS (
      SELECT doc_id, md5('v0' || text) AS fp,
             '2023-01-01' AS valid_from, '2024-01-01' AS valid_to
      FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 17 = 0),
    upd AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]'
                      ELSE text END) AS fp
      FROM documents WHERE doc_id % 11 <> 0),
    j AS (
      SELECT o.doc_id AS k, o.fp AS ofp, o.valid_from AS ofrom,
             u.doc_id AS uk, u.fp AS ufp
      FROM cur_open o FULL OUTER JOIN upd u ON o.doc_id = u.doc_id)
    SELECT doc_id, fingerprint, valid_from, valid_to FROM (
      SELECT k AS doc_id, ofp AS fingerprint, ofrom AS valid_from,
             CAST(NULL AS VARCHAR) AS valid_to
      FROM j WHERE k IS NOT NULL AND (uk IS NULL OR ofp = ufp)
      UNION ALL
      SELECT k, ofp, ofrom, '2024-06-01'
      FROM j WHERE k IS NOT NULL AND uk IS NOT NULL AND ofp <> ufp
      UNION ALL
      SELECT uk, ufp, '2024-06-01', CAST(NULL AS VARCHAR)
      FROM j WHERE uk IS NOT NULL AND (k IS NULL OR ofp <> ufp)
      UNION ALL
      SELECT doc_id, fp, valid_from, valid_to FROM hist
    ) merged
    """,
)
def scd2_docs_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 merge (scd.scd2_merge): deterministic views of the
    documents table play an existing versioned corpus and an update
    snapshot."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 13 != 0)
    cur_open = base.select(
        "doc_id",
        F.md5(F.col("text").cast("binary")).alias("fingerprint"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    hist = base.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        F.md5(F.concat(F.lit("v0"), F.col("text")).cast("binary")).alias(
            "fingerprint"
        ),
        F.lit("2023-01-01").alias("valid_from"),
        F.lit("2024-01-01").alias("valid_to"),
    )
    current = cur_open.unionByName(hist)
    updates = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("fingerprint"),
    )
    return scd2_merge(current, updates)


@_q(
    "text_zscore_by_lang",
    """
    WITH stats AS (
      SELECT lang,
             CAST(CAST(SUM(CAST(n_chars AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(n_chars AS DECIMAL(27,6)) * CAST(n_chars AS DECIMAL(27,6))) AS VARCHAR) AS DOUBLE) AS s2,
             CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY lang)
    SELECT d.doc_id, d.lang, d.n_chars,
           (CAST(d.n_chars AS DOUBLE) - s.s1 / s.n)
             / sqrt((s.s2 - s.s1 * s.s1 / s.n) / (s.n - 1)) AS z_chars
    FROM documents d JOIN stats s ON d.lang = s.lang
    WHERE s.n > 1
    """,
)
def text_zscore_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language z-score of document length. Plan: one small aggregate
    broadcast back over the corpus, no second corpus shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    dec = F.col("n_chars").cast("decimal(27,6)")
    stats = docs.groupBy("lang").agg(
        F.sum(dec).cast("string").cast("double").alias("s1"),
        F.sum(dec * dec).cast("string").cast("double").alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    j = docs.join(F.broadcast(stats), "lang").filter(F.col("n") > 1)
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1)
    z = (F.col("n_chars").cast("double") - mean) / F.sqrt(var)
    return j.select("doc_id", "lang", "n_chars", z.alias("z_chars"))


@_q(
    "sample_match_target",
    """
    WITH cnt AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    tgt AS (
      SELECT * FROM (VALUES
        ('en', CAST(0.30 AS DOUBLE)), ('de', CAST(0.20 AS DOUBLE)),
        ('fr', CAST(0.20 AS DOUBLE)), ('es', CAST(0.15 AS DOUBLE)),
        ('zh', CAST(0.15 AS DOUBLE))) t(lang, frac)),
    rates AS (
      SELECT c.lang,
             (SELECT min(c2.n / t2.frac) FROM cnt c2 JOIN tgt t2 ON c2.lang = t2.lang)
               * t.frac / c.n AS rate
      FROM cnt c JOIN tgt t ON c.lang = t.lang)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE CAST(('0x' || substr(md5('resample' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
          < r.rate * 10000
    """,
)
def sample_match_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic resampling to a TARGET language distribution
    (downsample the dominant language until the kept corpus matches the
    recipe). Plan: a tiny counts aggregate and a one-row scalar, both
    broadcast; the kept set is a map-side filter on the scan."""
    docs = load_table(spark, sf_dir, "documents")
    frac = (
        F.when(F.col("lang") == "en", 0.30)
        .when(F.col("lang") == "de", 0.20)
        .when(F.col("lang") == "fr", 0.20)
        .when(F.col("lang") == "es", 0.15)
        .when(F.col("lang") == "zh", 0.15)
    )
    cnt = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("frac", frac)
    )
    scale = cnt.agg(F.min(F.col("n") / F.col("frac")).alias("scale"))
    rates = cnt.join(F.broadcast(scale)).select(
        "lang", (F.col("scale") * F.col("frac") / F.col("n")).alias("rate")
    )
    bucket = hash_bucket("doc_id", salt="resample")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(bucket < F.col("rate") * 10000)
        .select("doc_id", "lang")
    )


@_q(
    "sample_top_p_by_lang",
    """
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cum_before,
             SUM(n_chars) OVER (PARTITION BY lang) AS total
      FROM documents)
    SELECT doc_id, lang, n_chars
    FROM ranked
    WHERE coalesce(cum_before, 0) < CAST(0.8 AS DOUBLE) * total
    """,
)
def sample_top_p_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p selection per language: keep the longest documents (n_chars
    DESC, doc_id) while the mass before each is still under 80% of the
    language's character mass."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    cum_before = F.sum("n_chars").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    total = F.sum("n_chars").over(Window.partitionBy("lang"))
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.coalesce(cum_before, F.lit(0)).alias("_cb"),
            total.alias("_tot"),
        )
        .filter(F.col("_cb") < F.lit(0.8) * F.col("_tot"))
        .select("doc_id", "lang", "n_chars")
    )


@_q(
    "pipeline_incremental",
    f"""
    WITH old AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 11 <> 0),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END AS text,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]' ELSE text END) AS fp
      FROM documents WHERE doc_id % 13 <> 0),
    diff AS (
      SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
             CASE WHEN old.fp IS NULL THEN 'added'
                  WHEN new.fp IS NULL THEN 'removed'
                  WHEN old.fp <> new.fp THEN 'modified'
                  ELSE 'unchanged' END AS status
      FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id),
    reproc AS (
      SELECT d.doc_id,
             CAST(len({_SQL_TOKS.replace("text", "n.text")}) AS INTEGER) AS n_tokens
      FROM diff d JOIN new n ON n.doc_id = d.doc_id
      WHERE d.status IN ('added', 'modified'))
    SELECT d.doc_id, d.status, r.n_tokens
    FROM diff d LEFT OUTER JOIN reproc r ON r.doc_id = d.doc_id
    """,
)
def pipeline_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental re-processing: diff two corpus snapshots by fingerprint
    and tokenize ONLY added/modified docs; every other row carries through
    with n_tokens NULL."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fingerprint")
    )
    new_text = F.when(
        F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
    ).otherwise(F.col("text"))
    new = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        new_text.alias("text"),
        F.md5(new_text.cast("binary")).alias("fingerprint"),
    )
    diff = snapshot_diff(old, new)
    changed = (
        diff.filter(F.col("status").isin("added", "modified"))
        .join(new.select("doc_id", "text"), "doc_id")
        .select("doc_id", X.token_count("text").alias("n_tokens"))
    )
    return diff.join(changed, "doc_id", "left_outer").select(
        "doc_id", "status", "n_tokens"
    )


@_q(
    "text_dup_sentence_fraction",
    r"""
    WITH s AS (
      SELECT doc_id,
             unnest(list_filter(list_transform(string_split_regex(text, '[.!?]+'),
                    x -> trim(x)), x -> x <> '')) AS sent
      FROM documents),
    h AS (SELECT doc_id, md5(sent) AS hs FROM s),
    g AS (SELECT hs, count(DISTINCT doc_id) AS nd FROM h GROUP BY hs),
    per AS (
      SELECT h.doc_id,
             CAST(count(*) AS BIGINT) AS n_sentences,
             CAST(sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      FROM h JOIN g ON h.hs = g.hs GROUP BY h.doc_id)
    SELECT doc_id, n_sentences, n_dup,
           CAST(n_dup AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS dup_fraction
    FROM per
    """,
)
def text_dup_sentence_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document sentence-duplication fraction — the RefinedWeb-style
    boilerplate signal (docs whose sentences mostly appear in OTHER docs are
    templates/mirrors, a different failure mode than whole-doc dups)."""
    docs = load_table(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x)),
        lambda x: x != "",
    )
    h = docs.select(
        "doc_id", F.explode(sents).alias("sent")
    ).select("doc_id", F.md5(F.col("sent").cast("binary")).alias("hs"))
    g = h.groupBy("hs").agg(F.countDistinct("doc_id").alias("nd"))
    per = (
        h.join(g, "hs")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sentences"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0)).alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        "n_sentences",
        "n_dup",
        (F.col("n_dup").cast("double") / F.col("n_sentences").cast("double")).alias(
            "dup_fraction"
        ),
    )


@_q(
    "quality_logit",
    r"""
    WITH f AS (
      SELECT doc_id, lang, n_chars,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT doc_id, lang, n_tokens,
           (-2.0 + 0.004 * CAST(n_tokens AS DOUBLE))
             + 0.35 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE))
             AS logit,
           ((-2.0 + 0.004 * CAST(n_tokens AS DOUBLE))
             + 0.35 * (CAST(n_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)))
             > 0.0 AS keep
    FROM f WHERE n_tokens > 0
    """,
)
def quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate with a LITERAL-weight linear model: the
    logit is plain double multiply/add over engineered features
    (bit-portable, unlike a sigmoid), thresholded at 0."""
    docs = load_table(spark, sf_dir, "documents")

    f = docs.select(
        "doc_id", "lang", "n_chars", X.token_count("text").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    logit = (
        F.lit(-2.0) + F.lit(0.004) * F.col("n_tokens").cast("double")
    ) + F.lit(0.35) * (
        F.col("n_chars").cast("double") / F.col("n_tokens").cast("double")
    )
    return f.select(
        "doc_id", "lang", "n_tokens", logit.alias("logit"), (logit > 0.0).alias("keep")
    )


@_q(
    "sample_temperature_mix",
    """
    WITH cnt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY source),
    wt AS (SELECT source, n, sqrt(CAST(n AS DOUBLE)) AS w FROM cnt),
    tot AS (SELECT sum(w) AS sw, sum(n) AS sn FROM wt),
    rates AS (
      SELECT wt.source,
             (wt.w / tot.sw) * (CAST(tot.sn AS DOUBLE) * CAST(0.5 AS DOUBLE))
               / CAST(wt.n AS DOUBLE) AS rate
      FROM wt CROSS JOIN tot)
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE CAST(('0x' || substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
          < r.rate * 10000
    """,
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixing: sample sources proportional to n^α
    with α = 0.5 (sqrt is correctly rounded on every engine); the overall
    budget is half the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    wt = cnt.withColumn("w", F.sqrt(F.col("n").cast("double")))
    tot = wt.agg(F.sum("w").alias("sw"), F.sum("n").alias("sn"))
    rates = wt.join(F.broadcast(tot)).select(
        "source",
        (
            (F.col("w") / F.col("sw"))
            * (F.col("sn").cast("double") * F.lit(0.5))
            / F.col("n").cast("double")
        ).alias("rate"),
    )
    bucket = hash_bucket("doc_id", salt="mix")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(bucket < F.col("rate") * 10000)
        .select("doc_id", "source")
    )


@_q(
    "dataset_card_by_source",
    f"""
    WITH t AS (
      SELECT source, lang, n_chars,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(CAST(n_chars AS DECIMAL(27,6))) AS DOUBLE) / COUNT(n_chars)
             AS avg_chars,
           CAST(median(n_tokens) AS DOUBLE) AS median_tokens,
           CAST(quantile_cont(n_tokens, 0.9) AS DOUBLE) AS p90_tokens,
           CAST(SUM(CAST(n_tokens AS DECIMAL(27,6))) AS DOUBLE) AS total_tokens
    FROM t GROUP BY source
    """,
)
def dataset_card_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card in ONE grouped aggregate: docs, language
    spread, decimal-exact mean and totals, exact interpolated median and
    p90."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "lang", "n_chars", X.token_count("text").cast("long").alias("n_tokens")
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        A.decimal_avg("n_chars").alias("avg_chars"),
        F.expr("percentile(n_tokens, 0.5)").cast("double").alias("median_tokens"),
        F.expr("percentile(n_tokens, 0.9)").cast("double").alias("p90_tokens"),
        A.decimal_sum("n_tokens").alias("total_tokens"),
    )


@_q(
    "text_novelty_score",
    r"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             t[u.i] || ' ' || t[u.i + 1] || ' ' || t[u.i + 2] AS s
      FROM toks
      CROSS JOIN (SELECT unnest(generate_series(1, 400)) AS i) u
      WHERE u.i + 2 <= len(t)),
    firstseen AS (
      SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS novelty
    FROM sh JOIN firstseen f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
)
def text_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty: the fraction of a document's 3-gram shingles it
    introduces to the corpus, first occurrence under the doc_id order."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("t"),
    )
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(size(t) - 2, 0)), "
                    "i -> concat(t[i-1], ' ', t[i], ' ', t[i+1]))"
                )
            ).alias("s"),
        )
        .distinct()
    )
    firstseen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firstseen, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (F.col("n_novel").cast("double") / F.col("n_shingles").cast("double")).alias(
                "novelty"
            ),
        )
    )


@_q(
    "doc_contiguous_ids",
    """
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY lang, doc_id) - 1 AS BIGINT)
             AS row_id
    FROM documents
    """,
)
def doc_contiguous_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global ids 0..n-1 in (lang, doc_id) order via
    relational.contiguous_ids: one range exchange plus per-partition offsets
    instead of a SinglePartition row_number window."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return contiguous_ids(docs).select("doc_id", "row_id")


@_q(
    "curriculum_schedule",
    r"""
    WITH f AS (
      SELECT doc_id,
             CAST(n_chars AS DOUBLE)
               / CAST(len(list_filter(string_split_regex(text, '\s+'),
                          x -> x <> '')) AS DOUBLE) AS difficulty
      FROM documents
      WHERE len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) > 0)
    SELECT doc_id, difficulty,
           CASE WHEN difficulty < CAST(5.4 AS DOUBLE) THEN 0
                WHEN difficulty < CAST(5.6 AS DOUBLE) THEN 1
                ELSE 2 END AS stage,
           md5('cur1' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM f
    """,
)
def curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assignment for staged training: difficulty (mean word
    length — any scalar score plugs in), fixed-threshold pacing stages, and
    a salted-md5 shuffle key giving a DETERMINISTIC within-stage order."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    )
    difficulty = F.col("n_chars").cast("double") / n_tokens.cast("double")
    return (
        docs.filter(n_tokens > 0)
        .select(
            "doc_id",
            difficulty.alias("difficulty"),
            F.when(difficulty < 5.4, 0)
            .when(difficulty < 5.6, 1)
            .otherwise(2)
            .alias("stage"),
            F.md5(
                F.concat(F.lit("cur1"), F.col("doc_id").cast("string")).cast("binary")
            ).alias("shuffle_key"),
        )
    )


@_q(
    "pipeline_pretrain_full",
    f"""
    WITH corp AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id % 10 <> 0),
    bench AS (
      SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 10 = 0),
    {_kept_sql("corp")},
    ct AS (
      SELECT doc_id, {_SQL_TOKS} AS toks FROM kept),
    cs AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                         || toks[i+3] || ' ' || toks[i+4]))) AS shingle
      FROM ct WHERE len(toks) >= 5),
    bt AS (
      SELECT bench_id, {_SQL_TOKS} AS toks FROM bench),
    bs AS (
      SELECT bench_id,
             unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                         || toks[i+3] || ' ' || toks[i+4]))) AS shingle
      FROM bt WHERE len(toks) >= 5),
    bhot AS (SELECT shingle FROM bs GROUP BY shingle HAVING count(*) > 100),
    bok AS (SELECT * FROM bs WHERE shingle NOT IN (SELECT shingle FROM bhot)),
    flagged AS (
      SELECT DISTINCT cs.doc_id FROM cs JOIN bok ON cs.shingle = bok.shingle),
    clean AS (
      SELECT kept.* FROM kept
      WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
    {_gate_split_sql("clean")}
    """,
)
def pipeline_pretrain_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete pretraining-curation recipe as one plan: exact dedup
    (md5, keep min id) → benchmark decontamination (5-gram shingle
    anti-join, benchmark side broadcast) → token-floor quality gate →
    md5-bucket split."""
    docs = load_table(spark, sf_dir, "documents")
    corp = docs.filter(F.col("doc_id") % 10 != 0)
    bench = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(F.col("doc_id").alias("bench_id"), "text")
    )
    return _gate_split(decontaminate(_exact_dedup(corp), bench))


# ---------------------------------------------------------------------------
# CCNet-style LM quality filter (Wenzek et al. 2019, arXiv:1911.00359):
# corpus-trained bigram LM -> per-doc mean surprisal -> per-language
# head/middle/tail tertiles.  Every value in the decision path and the output
# is an INTEGER (bit-length surprisal, fixed-point micro score, counting-based
# discrete tertile thresholds), so the oracle match is exact by construction —
# no percentile interpolation, no libm (see text.bigram_lm_surprisal).
# ---------------------------------------------------------------------------

_CCNET_SQL = f"""
    WITH t AS (SELECT doc_id, lang, {_SQL_LTOKS} AS toks FROM documents),
    t2 AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= 2),
    bg0 AS (SELECT doc_id, lang, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i FROM t2),
    bg AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2 FROM bg0),
    cb AS (SELECT w1, w2, count(*) AS cb FROM bg GROUP BY w1, w2),
    cp AS (SELECT w1, count(*) AS cp FROM bg GROUP BY w1),
    v AS (SELECT count(DISTINCT tok) AS vsz
          FROM (SELECT unnest(toks) AS tok FROM t2)),
    s AS (SELECT b.doc_id, b.lang,
                 length(bin(cp.cp + v.vsz)) - length(bin(cb.cb + 1)) AS sp
          FROM bg b JOIN cb ON b.w1 = cb.w1 AND b.w2 = cb.w2
                    JOIN cp ON b.w1 = cp.w1
                    CROSS JOIN v),
    d AS (SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
                 CAST(sum(sp) AS BIGINT) AS surprisal_sum
          FROM s GROUP BY doc_id, lang),
    d2 AS (SELECT *, surprisal_sum * 1000000 // n_bigrams AS surprisal_micro
           FROM d),
    cnt AS (SELECT lang, surprisal_micro, count(*) AS c
            FROM d2 GROUP BY lang, surprisal_micro),
    cum AS (SELECT lang, surprisal_micro,
                   SUM(c) OVER (PARTITION BY lang ORDER BY surprisal_micro
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS cum
            FROM cnt),
    nl AS (SELECT lang, count(*) AS n FROM d2 GROUP BY lang),
    th AS (SELECT c.lang,
                  MIN(CASE WHEN c.cum >= (n.n + 2) // 3
                           THEN c.surprisal_micro END) AS t1,
                  MIN(CASE WHEN c.cum >= (2 * n.n + 2) // 3
                           THEN c.surprisal_micro END) AS t2
           FROM cum c JOIN nl n ON c.lang = n.lang GROUP BY c.lang)
    SELECT d2.doc_id, d2.lang, d2.n_bigrams, d2.surprisal_sum,
           CAST(d2.surprisal_micro AS BIGINT) AS surprisal_micro,
           CASE WHEN d2.surprisal_micro <= th.t1 THEN 'head'
                WHEN d2.surprisal_micro <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM d2 JOIN th ON d2.lang = th.lang
    """


@_q("ccnet_perplexity_buckets", _CCNET_SQL)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet quality-filter recipe: score every document with a
    corpus-trained bigram LM (integer bit-length surprisal,
    ``text.bigram_lm_surprisal``), then bucket into per-language
    head/middle/tail tertiles.

    Scale shape: the threshold window runs over DISTINCT (lang, score) pairs
    — post-aggregation strata, bounded by score cardinality, NOT corpus rows
    (no global NTILE over the corpus); thresholds (one row per lang)
    broadcast back onto the doc stream."""
    docs = load_table(spark, sf_dir, "documents")
    scored = X.bigram_lm_surprisal(docs)
    # checkpoint the DOC-LEVEL score table (one small row per document):
    # the threshold branch (cnt) and the final bucket join both read it,
    # and unmaterialized the whole scoring pipeline — the query's dominant
    # cost — re-executes per consumer (cnt, nl, final join).
    d2 = scored.withColumn(
        "surprisal_micro", F.expr("surprisal_sum * 1000000L DIV n_bigrams")
    ).localCheckpoint()
    cnt = d2.groupBy("lang", "surprisal_micro").agg(F.count(F.lit(1)).alias("c"))
    wl = (
        Window.partitionBy("lang")
        .orderBy("surprisal_micro")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cnt.withColumn("cum", F.sum("c").over(wl))
    # per-lang doc totals fold out of the (lang, score) counts — same rows,
    # one fewer pass over the checkpoint
    nl = cnt.groupBy("lang").agg(F.sum("c").alias("n"))
    th = (
        cum.join(F.broadcast(nl), "lang")
        .groupBy("lang")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(n + 2) DIV 3"), F.col("surprisal_micro"))
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(2 * n + 2) DIV 3"), F.col("surprisal_micro")
                )
            ).alias("t2"),
        )
    )
    out = d2.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "n_bigrams",
        "surprisal_sum",
        "surprisal_micro",
        F.when(F.col("surprisal_micro") <= F.col("t1"), F.lit("head"))
        .when(F.col("surprisal_micro") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )
    return out


# ---------------------------------------------------------------------------
# DSIR data selection (Xie et al. 2023, arXiv:2302.03169): hashed-n-gram
# importance weights of raw docs against a target reference corpus, then
# deterministic top-k selection.  Integer end to end (md5 feature buckets,
# bit-length log-ratios), so fully oracle-checked.
# ---------------------------------------------------------------------------

_DSIR_SQL = f"""
    WITH t AS (SELECT doc_id, lang, source, (source = 'src0') AS is_target,
                      {_SQL_LTOKS} AS toks FROM documents),
    t2 AS (SELECT * FROM t WHERE len(toks) >= 1),
    uni AS (SELECT doc_id, lang, source, is_target, unnest(toks) AS feat FROM t2),
    bg0 AS (SELECT doc_id, lang, source, is_target, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t2 WHERE len(toks) >= 2),
    bg AS (SELECT doc_id, lang, source, is_target,
                  toks[i] || ' ' || toks[i + 1] AS feat FROM bg0),
    f0 AS (SELECT * FROM uni UNION ALL SELECT * FROM bg),
    f AS (SELECT *, ('0x' || substr(md5('dsir' || feat), 1, 8))::BIGINT % 512 AS fb
          FROM f0),
    raw AS (SELECT fb, count(*) AS cr FROM f GROUP BY fb),
    tgt AS (SELECT fb, count(*) AS ct FROM f WHERE is_target GROUP BY fb),
    tot AS (SELECT count(*) AS nr,
                   count(*) FILTER (WHERE is_target) AS nt FROM f),
    wt AS (SELECT raw.fb,
                  (length(bin(COALESCE(tgt.ct, 0) + 1)) - length(bin(tot.nt + 512)))
                - (length(bin(raw.cr + 1)) - length(bin(tot.nr + 512))) AS s
           FROM raw LEFT JOIN tgt ON raw.fb = tgt.fb CROSS JOIN tot),
    dw AS (SELECT f.doc_id, f.lang, f.source, f.is_target,
                  CAST(count(*) AS BIGINT) AS n_features,
                  CAST(sum(wt.s) AS BIGINT) AS weight
           FROM f JOIN wt ON f.fb = wt.fb
           GROUP BY f.doc_id, f.lang, f.source, f.is_target)
    SELECT doc_id, lang, source, is_target, n_features, weight
    FROM dw ORDER BY weight DESC, doc_id LIMIT 100
    """


@_q("dsir_target_selection", _DSIR_SQL)
def dsir_target_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: the 100 documents whose hashed-n-gram features look
    most like the 'src0' source (``sampling.dsir_doc_weights``), ordered by
    weight DESC, doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    w = SM.dsir_doc_weights(docs, F.col("source") == "src0")
    return w.orderBy(F.desc("weight"), F.asc("doc_id")).limit(100)


# ---------------------------------------------------------------------------
# Gopher quality-rule battery (Rae et al. 2021, arXiv:2112.11446 A1.1) — the
# rule set RefinedWeb/Dolma/FineWeb inherit.  Integer cross-multiplied
# thresholds -> bit-portable booleans, fully oracle-checked.
# ---------------------------------------------------------------------------

_GOPHER_SQL = rf"""
    WITH base AS (
      SELECT doc_id, text, {_SQL_LTOKS} AS toks,
             string_split(text, chr(10)) AS lines
      FROM documents),
    m AS (
      SELECT doc_id,
             len(toks) AS n_words,
             COALESCE(list_aggregate(list_transform(toks, x -> length(x)),
                                     'sum'), 0) AS swl,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell,
             len(lines) AS n_lines,
             len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %'
                                       OR l LIKE '• %')) AS n_bullet,
             len(list_filter(lines, l -> l LIKE '%...')) AS n_ell_end,
             len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
             (CASE WHEN list_contains(toks, 'the')  THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'be')   THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'to')   THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'of')   THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'and')  THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END
            + CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END) AS n_stop
      FROM base),
    fl AS (
      SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
             (n_words >= 50 AND n_words <= 100000) AS word_count_ok,
             (3 * n_words <= swl AND swl <= 10 * n_words) AS mean_word_len_ok,
             (10 * (n_hash + n_ell) <= n_words) AS symbol_ratio_ok,
             (10 * n_bullet < 9 * n_lines) AS bullet_lines_ok,
             (10 * n_ell_end <= 3 * n_lines) AS ellipsis_lines_ok,
             (5 * n_alpha >= 4 * n_words) AS alpha_word_ok,
             (n_stop >= 2) AS stopword_ok
      FROM m)
    SELECT *,
           (word_count_ok AND mean_word_len_ok AND symbol_ratio_ok
            AND bullet_lines_ok AND ellipsis_lines_ok AND alpha_word_ok
            AND stopword_ok) AS keep
    FROM fl
    """


@_q("gopher_quality_rules", _GOPHER_SQL)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's rule battery over the documents table — see
    ``text.gopher_quality_flags`` for the rules and the integer
    cross-multiplication trick that keeps every threshold bit-portable."""
    docs = load_table(spark, sf_dir, "documents")
    return X.gopher_quality_flags(docs)


@_q(
    "mix_token_budget",
    rf"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
                      md5('mixb' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS cum_tokens
          FROM t)
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 400
    """,
)
def mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix assembly under an exact per-source TOKEN budget (400):
    each source contributes documents in md5-of-id order until its
    cumulative token count reaches the budget.

    Scale shape: token counting is scan-shaped; the cumulative sum is ONE
    window partitioned by source (keyed shuffle, no global order); the md5
    order makes the kept prefix a pure function of doc ids — stable under
    repartitioning and incremental arrival, and the same rows DuckDB
    selects. Integers end to end."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("mixb"), F.col("doc_id").cast("string")).cast("binary"))
    t = docs.select(
        "doc_id",
        "source",
        X.token_count("text").cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 400)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@_q(
    "curation_scorecard",
    f"""
    SELECT c.doc_id, c.lang, g.n_words, c.bucket AS lm_bucket,
           g.keep AS gopher_keep, g.word_count_ok, q.keep AS classifier_keep,
           (q.keep AND c.bucket <> 'tail') AS keep
    FROM ({_CCNET_SQL}) c
    JOIN ({_GOPHER_SQL}) g ON g.doc_id = c.doc_id
    JOIN ({ORACLE_SQL['quality_logit']}) q ON q.doc_id = c.doc_id
    """,
)
def curation_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document curation scorecard: the CCNet LM tertile, the Gopher
    rules and the linear classifier gate in one row per doc, with the
    combined keep verdict."""
    cc = ccnet_perplexity_buckets(spark, sf_dir).select("doc_id", "lang", "bucket")
    go = gopher_quality_rules(spark, sf_dir).select(
        "doc_id", "n_words", "keep", "word_count_ok"
    )
    ql = quality_logit(spark, sf_dir).select("doc_id", F.col("keep").alias("qk"))
    return (
        cc.join(go.withColumnRenamed("keep", "gopher_keep"), "doc_id")
        .join(ql, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_words",
            F.col("bucket").alias("lm_bucket"),
            "gopher_keep",
            "word_count_ok",
            F.col("qk").alias("classifier_keep"),
            (F.col("qk") & (F.col("bucket") != "tail")).alias("keep"),
        )
    )


@_q(
    "sample_neyman_allocation",
    """
    WITH m AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6))) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(value AS DECIMAL(9,6)) * CAST(value AS DECIMAL(9,6)))
                  AS VARCHAR) AS DOUBLE) AS s2
      FROM events WHERE abs(value) < CAST(1000.0 AS DOUBLE)
      GROUP BY event_type),
    w AS (
      SELECT event_type, n,
             CAST(n AS DOUBLE) * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS wt
      FROM m WHERE n >= 2),
    tot AS (SELECT sum(wt) AS sw FROM w),
    alloc AS (
      SELECT w.event_type, w.n,
             1000.0 * w.wt / tot.sw AS a,
             CAST(floor(1000.0 * w.wt / tot.sw) AS BIGINT) AS base,
             1000.0 * w.wt / tot.sw - floor(1000.0 * w.wt / tot.sw) AS rem
      FROM w CROSS JOIN tot),
    leftover AS (SELECT 1000 - sum(base) AS l FROM alloc),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rr
      FROM alloc),
    target AS (
      SELECT r.event_type, r.n,
             r.base + (CASE WHEN r.rr <= leftover.l THEN 1 ELSE 0 END) AS n_target
      FROM ranked r CROSS JOIN leftover),
    sel AS (
      SELECT e.event_id, e.event_type,
             ROW_NUMBER() OVER (PARTITION BY e.event_type
                 ORDER BY md5('ney' || CAST(e.event_id AS VARCHAR)), e.event_id)
               AS rk
      FROM events e WHERE abs(e.value) < CAST(1000.0 AS DOUBLE))
    SELECT s.event_id, s.event_type, t.n_target
    FROM sel s JOIN target t ON s.event_type = t.event_type
    WHERE s.rk <= t.n_target
    """,
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-allocation stratified sampling: a budget of 1000 split across
    strata proportional to n_h * sigma_h with largest-remainder integer
    apportionment, md5-rank selection inside each stratum."""
    ev = load_table(spark, sf_dir, "events").filter(F.abs(F.col("value")) < 1000.0)
    d6 = F.col("value").cast("decimal(9,6)")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d6).cast("string").cast("double").alias("s1"),
        F.sum(d6 * d6).cast("string").cast("double").alias("s2"),
    )
    w = m.filter(F.col("n") >= 2).select(
        "event_type",
        "n",
        (
            F.col("n").cast("double")
            * F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            )
        ).alias("wt"),
    )
    tot = w.agg(F.sum("wt").alias("sw"))
    a = F.lit(1000.0) * F.col("wt") / F.col("sw")
    alloc = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        F.floor(a).cast("bigint").alias("base"),
        (a - F.floor(a)).alias("rem"),
    )
    # alloc's lineage is the full-corpus moments aggregate, and alloc
    # feeds THREE consumers (ranked's left side, the broadcast 'ahead'
    # copy, the leftover aggregate) — checkpoint the strata-sized frame so
    # the scan+aggregate runs once, not three times (the checkpoint is a
    # handful of rows)
    alloc = alloc.localCheckpoint()
    leftover = alloc.agg((F.lit(1000) - F.sum("base")).alias("l"))
    # Largest-remainder rank WITHOUT a global window (the alloc table is
    # strata-sized, but the declared surface bans empty-partition windows
    # outright): rr = 1 + |rows strictly ahead in (rem DESC, event_type ASC)|
    # via a broadcast non-equi self-join count.
    ahead = alloc.select(
        F.col("event_type").alias("b_et"), F.col("rem").alias("b_rem")
    )
    ranked = (
        alloc.join(
            F.broadcast(ahead),
            (F.col("b_rem") > F.col("rem"))
            | (
                (F.col("b_rem") == F.col("rem"))
                & (F.col("b_et") < F.col("event_type"))
            ),
            "left",
        )
        .groupBy("event_type", "base")
        .agg((F.count("b_et") + F.lit(1)).alias("rr"))
    )
    target = ranked.crossJoin(F.broadcast(leftover)).select(
        "event_type",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("l"), 1).otherwise(0)
        ).alias("n_target"),
    )

    ws = Window.partitionBy("event_type").orderBy(*md5_order("event_id", "ney"))
    sel = ev.select(
        "event_id", "event_type", F.row_number().over(ws).alias("rk")
    )
    out = (
        sel.join(F.broadcast(target), "event_type")
        .filter(F.col("rk") <= F.col("n_target"))
        .select("event_id", "event_type", "n_target")
    )
    return out


@_q(
    "sample_priority_topk",
    """
    WITH p AS (
      SELECT o_orderkey, o_totalprice,
             o_totalprice
               / ((('0x' || substr(md5('prio' || CAST(o_orderkey AS VARCHAR)), 1, 13))::BIGINT + 1)
                  / 4503599627370496.0) AS priority
      FROM orders),
    t AS (SELECT * FROM p ORDER BY priority DESC, o_orderkey LIMIT 501),
    tau AS (SELECT min(priority) AS tau FROM t),
    s AS (SELECT * FROM t ORDER BY priority DESC, o_orderkey LIMIT 500)
    SELECT s.o_orderkey, s.o_totalprice,
           GREATEST(s.o_totalprice, tau.tau) AS weight_est
    FROM s CROSS JOIN tau
    """,
)
def sample_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling: each row's priority is w/u with u a deterministic
    md5-uniform in (0,1]; the sample is the top-k priorities, with estimator
    weight max(w, tau) from the (k+1)-th priority tau."""
    k = 500
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("prio"), F.col("o_orderkey").cast("string")
                    ).cast("binary")
                ),
                1,
                13,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ) / F.lit(4503599627370496.0)
    p = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (F.col("o_totalprice") / u).alias("priority"),
    )
    # the (k+1)-row TakeOrdered is consumed twice (tau aggregate + final
    # re-limit) — checkpoint so the orders scan and per-partition heaps
    # run once (a tiny checkpoint)
    top = p.orderBy(F.desc("priority"), F.asc("o_orderkey")).limit(k + 1).localCheckpoint()
    tau = top.agg(F.min("priority").alias("tau"))
    s = top.orderBy(F.desc("priority"), F.asc("o_orderkey")).limit(k)
    out = s.crossJoin(F.broadcast(tau)).select(
        "o_orderkey",
        "o_totalprice",
        F.greatest(F.col("o_totalprice"), F.col("tau")).alias("weight_est"),
    )
    return out


@_q(
    "vocab_churn_halves",
    rf"""
    WITH tok AS (
      SELECT doc_id % 2 AS half, unnest({_SQL_LTOKS}) AS token
      FROM documents),
    fa AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
           WHERE half = 0 GROUP BY token),
    fb AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok
           WHERE half = 1 GROUP BY token),
    ta AS (SELECT token FROM fa ORDER BY n DESC, token LIMIT 10),
    tb AS (SELECT token FROM fb ORDER BY n DESC, token LIMIT 10),
    u AS (
      SELECT COALESCE(ta.token, tb.token) AS token,
             ta.token IS NOT NULL AS in_a, tb.token IS NOT NULL AS in_b
      FROM ta FULL OUTER JOIN tb ON ta.token = tb.token)
    SELECT u.token,
           CAST(COALESCE(fa.n, 0) AS BIGINT) AS n_a,
           CAST(COALESCE(fb.n, 0) AS BIGINT) AS n_b,
           CASE WHEN in_a AND in_b THEN 'stayed'
                WHEN in_b THEN 'entered' ELSE 'exited' END AS status
    FROM u
    LEFT JOIN fa ON u.token = fa.token
    LEFT JOIN fb ON u.token = fb.token
    """,
)
def vocab_churn_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter churn: the tokens that enter or exit the top-10
    vocabulary between two corpus halves (a deterministic doc-id split).

    Scale shape: one tokenize pass feeding two token-keyed partial
    aggregates, TakeOrdered top-10 each (no global sort; k is sized to the
    synthetic corpus's 31-token vocabulary so enter/exit transitions occur
    at test scale), a tiny full-outer join, and two keyed lookups back into
    the frequency tables for the true counts."""
    docs = load_table(spark, sf_dir, "documents")
    fa = X.token_frequencies(docs.filter(F.col("doc_id") % 2 == 0))
    fb = X.token_frequencies(docs.filter(F.col("doc_id") % 2 == 1))
    ta = R.top_k(fa, [F.desc("n"), F.asc("token")], 10).select(
        F.col("token").alias("a_token")
    )
    tb = R.top_k(fb, [F.desc("n"), F.asc("token")], 10).select(
        F.col("token").alias("b_token")
    )
    u = ta.join(
        tb, ta.a_token == tb.b_token, "full_outer"
    ).select(
        F.coalesce("a_token", "b_token").alias("token"),
        F.col("a_token").isNotNull().alias("in_a"),
        F.col("b_token").isNotNull().alias("in_b"),
    )
    out = (
        u
        .join(fa.withColumnRenamed("n", "na"), "token", "left")
        .join(fb.withColumnRenamed("n", "nb"), "token", "left")
    )
    return out.select(
        "token",
        F.coalesce("na", F.lit(0)).cast("bigint").alias("n_a"),
        F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_b"),
        F.when(F.col("in_a") & F.col("in_b"), "stayed")
        .when(F.col("in_b"), "entered")
        .otherwise("exited")
        .alias("status"),
    )


@_q(
    "pipeline_sft_examples",
    """
    WITH pairs AS (
      SELECT user_id, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             string_agg(event_type, '>') OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prefix,
             event_type AS label,
             COUNT(*) OVER (PARTITION BY user_id, CAST(ts AS DATE)) AS day_n
      FROM events
      QUALIFY prefix IS NOT NULL)
    SELECT user_id, day, prefix, label,
           CASE WHEN ('0x' || substr(md5('sft' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                     % 10 < 8
                THEN 'train' ELSE 'val' END AS split
    FROM pairs WHERE day_n >= 3
    """,
)
def pipeline_sft_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SFT example pipeline: [[next_event_training_pairs]] ->
    activity gate (user-days with >= 3 events) -> user-level 80/20 md5
    split.

    Scale shape: one keyed window pass produces pairs AND the day-count gate
    (same partitioning, no second shuffle); the split is a scan-shaped pure
    hash function of user_id -- stable under repartition, replayable across
    engines."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    wp = Window.partitionBy("user_id", day).orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wn = Window.partitionBy("user_id", day)
    pairs = ev.select(
        "user_id",
        F.date_format(day, "yyyy-MM-dd").alias("day"),
        F.concat_ws(">", F.collect_list("event_type").over(wp)).alias("prefix"),
        F.col("event_type").alias("label"),
        F.count(F.lit(1)).over(wn).alias("day_n"),
    ).filter(F.col("prefix") != "")
    return (
        pairs.filter(F.col("day_n") >= 3)
        .select(
            "user_id",
            "day",
            "prefix",
            "label",
            F.when(hash_bucket("user_id", 10, "sft") < 8, "train")
            .otherwise("val")
            .alias("split"),
        )
    )


@_q(
    "skipgram_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_LTOKS} AS toks FROM documents),
    ex AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
    pairs AS (
      SELECT toks[i] AS center, toks[i + d] AS context
      FROM ex CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS d) d
      WHERE i + d BETWEEN 1 AND len(toks))
    SELECT center, context, CAST(count(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY center, context HAVING count(*) >= 5
    """,
)
def skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair counts within a ±2 window — the
    word2vec training-pair shaping stage and the raw counts behind token
    PMI (the log-free lift twin of [[basket_part_lift]]).

    Scale shape (operators/text.py:skipgram_pairs): no positional
    self-join — each position fans out to exactly 2·window offset lookups
    into the still-attached token array, so the pre-aggregate row count
    is 4× the token count, never dl² per doc; the min-count floor is
    applied IN the single keyed count so sub-floor pairs never leave the
    shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return X.skipgram_pairs(docs, min_count=5)


@_q(
    "postings_topk_by_term",
    f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_LTOKS}) AS token FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
           GROUP BY doc_id, token)
    SELECT token, doc_id, tf,
           CAST(ROW_NUMBER() OVER (PARTITION BY token
                ORDER BY tf DESC, doc_id) AS INTEGER) AS rank
    FROM tf
    QUALIFY rank <= 3
    """,
)
def postings_topk_by_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered posting lists: the top-3 documents per term by term
    frequency.

    Scale shape: one (doc, token) count with map-side partials, then a
    TOKEN-keyed window that Spark executes as WindowGroupLimit — the
    per-group top-k filter runs BELOW the shuffle on each map partition, so
    at most 3 rows per (token, input-partition) ever enter the exchange; key
    count = vocabulary size."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    w = Window.partitionBy("token").orderBy(F.desc("tf"), F.asc("doc_id"))
    return (
        tf.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("token", "doc_id", "tf", F.col("rank").cast("int").alias("rank"))
    )


@_q(
    "pmi_skipgram_lift",
    f"""
    WITH t AS (SELECT doc_id, {_SQL_LTOKS} AS toks FROM documents),
    ex AS (SELECT toks, unnest(range(1, len(toks) + 1)) AS i FROM t),
    raw AS (
      SELECT toks[i] AS center, toks[i + d] AS context,
             CAST(count(*) AS BIGINT) AS cnt
      FROM ex CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS d) d
      WHERE i + d BETWEEN 1 AND len(toks)
      GROUP BY center, context),
    tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM raw),
    mc AS (SELECT center, CAST(sum(cnt) AS BIGINT) AS c_center
           FROM raw GROUP BY center),
    mx AS (SELECT context, CAST(sum(cnt) AS BIGINT) AS c_context
           FROM raw GROUP BY context)
    SELECT raw.center, raw.context, raw.cnt,
           (CAST(raw.cnt AS DOUBLE) * CAST(tot.total AS DOUBLE))
           / (CAST(mc.c_center AS DOUBLE) * CAST(mx.c_context AS DOUBLE))
           AS lift
    FROM raw
    JOIN mc USING (center) JOIN mx USING (context) CROSS JOIN tot
    WHERE raw.cnt >= 5
    """,
)
def pmi_skipgram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token association lift over ±2-window skip-gram pairs (PMI without
    the log, which is bit-portable); lift > 1 marks collocations.

    Scale shape: the unfloored pair aggregate feeds the marginals, computed
    once and checkpointed for its three consumers; marginals are vocab-sized
    and broadcast back; the support floor prunes the output only. Exact
    integer counts, one double expression at the end."""
    docs = load_table(spark, sf_dir, "documents")
    raw = X.skipgram_pairs(docs, min_count=1).localCheckpoint()
    tot = raw.agg(F.sum("cnt").cast("long").alias("total"))
    mc = raw.groupBy("center").agg(F.sum("cnt").cast("long").alias("c_center"))
    mx = raw.groupBy("context").agg(F.sum("cnt").cast("long").alias("c_context"))
    lift = (F.col("cnt").cast("double") * F.col("total").cast("double")) / (
        F.col("c_center").cast("double") * F.col("c_context").cast("double")
    )
    out = (
        raw.filter(F.col("cnt") >= 5)
        .join(F.broadcast(mc), "center")
        .join(F.broadcast(mx), "context")
        .crossJoin(F.broadcast(tot))
        .select("center", "context", "cnt", lift.alias("lift"))
    )
    return out


@_q(
    "doc_hashed_features",
    f"""
    WITH {_HASHED_COUNTS_SQL}
    SELECT w.doc_id, w.bucket,
           CAST(w.w AS DOUBLE) / sqrt(CAST(nrm.norm2 AS DOUBLE)) AS weight
    FROM w JOIN nrm USING (doc_id)
    """,
)
def doc_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document featurizer (text.hashed_features): 64-dim
    signed-hash bag-of-words, L2-normalized, as sparse (doc_id, bucket,
    weight) rows."""
    docs = load_table(spark, sf_dir, "documents")
    return X.hashed_features(docs)


@_q(
    "text_rank_normalize",
    """
    WITH r AS (
      SELECT doc_id, lang, n_chars,
             CAST(rank() OVER (PARTITION BY lang ORDER BY n_chars) AS BIGINT)
               AS rnk
      FROM documents),
    s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(min(n_chars) AS BIGINT) AS mn,
                 CAST(max(n_chars) AS BIGINT) AS mx
          FROM documents GROUP BY lang)
    SELECT r.doc_id, r.lang, CAST(r.n_chars AS BIGINT) AS n_chars,
           CASE WHEN s.n > 1
                THEN CAST(r.rnk - 1 AS DOUBLE) / CAST(s.n - 1 AS DOUBLE)
                ELSE 0.0 END AS pct_rank,
           CASE WHEN s.mx > s.mn
                THEN CAST(r.n_chars - s.mn AS DOUBLE) / CAST(s.mx - s.mn AS DOUBLE)
                ELSE 0.0 END AS minmax
    FROM r JOIN s ON s.lang = r.lang
    """,
)
def text_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank and min-max normalization of a quality proxy per language.

    Scale shape: ONE lang-keyed window for the rank (sort within partitions
    only) and a per-lang stats aggregate broadcast back — no global sort, no
    second shuffle on the fact table."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars")
    r = docs.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.rank().over(w).cast("long").alias("rnk"),
    )
    s = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("n_chars").cast("long").alias("mn"),
        F.max("n_chars").cast("long").alias("mx"),
    )
    pct = F.when(
        F.col("n") > 1,
        (F.col("rnk") - 1).cast("double") / (F.col("n") - 1).cast("double"),
    ).otherwise(F.lit(0.0))
    mm = F.when(
        F.col("mx") > F.col("mn"),
        (F.col("n_chars") - F.col("mn")).cast("double")
        / (F.col("mx") - F.col("mn")).cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        r.join(F.broadcast(s), "lang")
        .select("doc_id", "lang", "n_chars", pct.alias("pct_rank"), mm.alias("minmax"))
    )


@_q(
    "text_readability",
    r"""
    WITH c AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(len(list_filter(list_transform(
                    string_split_regex(text, '[.!?]+'), x -> trim(x)),
                    x -> x <> '')) AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS n_syllables
      FROM documents)
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
             (('206.835'::DOUBLE
               - ('1.015'::DOUBLE
                  * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))))
              - ('84.6'::DOUBLE
                 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))))
           END AS flesch,
           CASE WHEN n_words = 0 OR n_sentences = 0 THEN 'empty'
                WHEN (('206.835'::DOUBLE
                       - ('1.015'::DOUBLE
                          * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))))
                      - ('84.6'::DOUBLE
                         * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE)))) >= '60.0'::DOUBLE
                  THEN 'easy'
                WHEN (('206.835'::DOUBLE
                       - ('1.015'::DOUBLE
                          * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))))
                      - ('84.6'::DOUBLE
                         * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE)))) >= '30.0'::DOUBLE
                  THEN 'standard'
                ELSE 'difficult' END AS band
    FROM c
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — a classic curation signal
    (readability gates complement the Gopher battery: a page can pass every
    length rule and still be word-salad).

    Scale shape: pure scan — three regexp counts and arithmetic, no shuffle
    at all."""
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    ).cast("long")
    n_sents = F.size(
        F.filter(
            F.transform(F.split(F.col("text"), r"[.!?]+"), lambda x: F.trim(x)),
            lambda x: x != "",
        )
    ).cast("long")
    n_syll = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0))
    ).cast("long")
    c = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sentences"),
        n_syll.alias("n_syllables"),
    )
    flesch = F.lit(206.835) - (
        F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
    ) - (
        F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    score = F.when((F.col("n_words") > 0) & (F.col("n_sentences") > 0), flesch)
    band = (
        F.when((F.col("n_words") == 0) | (F.col("n_sentences") == 0), F.lit("empty"))
        .when(flesch >= F.lit(60.0), F.lit("easy"))
        .when(flesch >= F.lit(30.0), F.lit("standard"))
        .otherwise(F.lit("difficult"))
    )
    return c.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        score.alias("flesch"),
        band.alias("band"),
    )


@_q(
    "mix_budget_spillover",
    rf"""
    WITH t AS (SELECT doc_id, source,
                      CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
                      md5('mixs' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    a AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
          FROM t GROUP BY source),
    p AS (SELECT
            CAST(SUM(CASE WHEN avail <= 1300 THEN 1300 - avail ELSE 0 END)
                 AS BIGINT) AS pool,
            CAST(SUM(CASE WHEN avail > 1300 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_surplus
          FROM a),
    r AS (SELECT x.source, CAST(1 + count(y.source) AS BIGINT) AS rr
          FROM a x LEFT JOIN a y ON y.avail > 1300 AND y.source < x.source
          WHERE x.avail > 1300 GROUP BY x.source),
    bud AS (SELECT a.source,
                   CAST(1300 + CASE WHEN a.avail > 1300 AND p.n_surplus > 0
                        THEN p.pool // p.n_surplus
                             + CASE WHEN r.rr <= p.pool % p.n_surplus
                               THEN 1 ELSE 0 END
                        ELSE 0 END AS BIGINT) AS budget
            FROM a LEFT JOIN r ON r.source = a.source CROSS JOIN p),
    c AS (SELECT doc_id, source, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND CURRENT ROW) AS cum
          FROM t)
    SELECT c.doc_id, c.source, c.n_tokens,
           CAST(c.cum AS BIGINT) AS cum_tokens, b.budget
    FROM c JOIN bud b ON b.source = c.source
    WHERE c.cum <= b.budget
    """,
)
def mix_budget_spillover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix assembly with spillover: sources below their base
    budget (1300 tokens) return the unused part to a pool, redistributed
    across the surplus sources in equal integer shares (remainder to the
    lexicographically first).

    Scale shape: per-source totals are one keyed aggregate; pool and
    surplus-count are a 2-scalar aggregate of the source-sized table; the
    surplus ranking uses the broadcast count-ahead self-join (the Neyman
    pattern — the declared surface bans empty-partition windows); the kept
    prefix is the same ONE source-keyed cumsum window as the base form.
    Integers end to end."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("mixs"), F.col("doc_id").cast("string")).cast("binary"))
    t = docs.select(
        "doc_id",
        "source",
        X.token_count("text").cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    avail = (
        t.groupBy("source").agg(F.sum("n_tokens").cast("long").alias("avail"))
    ).localCheckpoint()
    pool = avail.agg(
        F.sum(
            F.when(F.col("avail") <= 1300, F.lit(1300) - F.col("avail")).otherwise(0)
        )
        .cast("long")
        .alias("pool"),
        F.sum(F.when(F.col("avail") > 1300, 1).otherwise(0))
        .cast("long")
        .alias("n_surplus"),
    )
    surplus = avail.filter(F.col("avail") > 1300)
    ahead = surplus.select(F.col("source").alias("b_src"))
    ranked = (
        surplus.join(F.broadcast(ahead), F.col("b_src") < F.col("source"), "left")
        .groupBy("source")
        .agg((F.count("b_src") + F.lit(1)).cast("long").alias("rr"))
    )
    bud = (
        avail.join(F.broadcast(ranked), "source", "left")
        .crossJoin(F.broadcast(pool))
        .select(
            "source",
            (
                F.lit(1300)
                + F.when(
                    (F.col("avail") > 1300) & (F.col("n_surplus") > 0),
                    F.expr("pool DIV n_surplus")
                    + F.when(F.col("rr") <= F.col("pool") % F.col("n_surplus"), 1)
                    .otherwise(0),
                ).otherwise(0)
            )
            .cast("long")
            .alias("budget"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    out = (
        c.join(F.broadcast(bud), "source")
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .select("doc_id", "source", "n_tokens", "cum_tokens", "budget")
    )
    return out


@_q(
    "shard_manifest",
    rf"""
    WITH t AS (SELECT doc_id,
                      CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
                      md5('shard' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    s AS (SELECT doc_id, n_tokens, h,
                 CAST(('0x' || substr(h, 1, 8))::BIGINT % 8 AS BIGINT)
                   AS shard_id
          FROM t)
    SELECT doc_id, shard_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard_id ORDER BY h, doc_id)
                AS BIGINT) AS pos,
           n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY h, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens AS BIGINT) AS token_offset
    FROM s
    """,
)
def shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard manifest: a deterministic md5 shuffle, hash
    assignment into 8 shards, and each document's (shard, pos, offset) with
    its exact token offset.

    Scale shape: hashing is scan-shaped; position and offset are ONE
    shard-keyed window (8 balanced partitions by construction — md5 is
    uniform); no global sort anywhere."""
    docs = load_table(spark, sf_dir, "documents")

    h = F.md5(F.concat(F.lit("shard"), F.col("doc_id").cast("string")).cast("binary"))
    t = docs.select(
        "doc_id",
        X.token_count("text").cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    shard = (
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long") % 8
    ).cast("long")
    s = t.withColumn("shard_id", shard)
    wp = Window.partitionBy("shard_id").orderBy("h", "doc_id")
    wc = wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return s.select(
        "doc_id",
        "shard_id",
        F.row_number().over(wp).cast("long").alias("pos"),
        "n_tokens",
        (F.sum("n_tokens").over(wc) - F.col("n_tokens"))
        .cast("long")
        .alias("token_offset"),
    )


@_q(
    "preference_pairs_dpo",
    f"""
    WITH s AS (SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
                      {_dsum('l.l_extendedprice * (1 - l.l_discount)')}
                        AS spend
               FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
               GROUP BY o.o_custkey, l.l_partkey),
    r AS (SELECT custkey, partkey, spend,
                 ROW_NUMBER() OVER (PARTITION BY custkey
                      ORDER BY spend DESC, partkey) AS rt,
                 ROW_NUMBER() OVER (PARTITION BY custkey
                      ORDER BY spend ASC, partkey DESC) AS rb,
                 count(*) OVER (PARTITION BY custkey) AS np
          FROM s)
    SELECT c.custkey, CAST(c.np AS BIGINT) AS n_parts,
           c.partkey AS chosen_part, j.partkey AS rejected_part,
           c.spend AS chosen_spend, j.spend AS rejected_spend
    FROM r c JOIN r j ON j.custkey = c.custkey AND j.rb = 1
    WHERE c.rt = 1 AND c.np >= 2
    """,
)
def preference_pairs_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference pairs for DPO: per customer, the CHOSEN item is the top
    part by exact spend and the REJECTED one the bottom part.

    Scale shape: spend is one (custkey, partkey)-keyed decimal aggregate;
    both rank windows and the pair join share the custkey partitioning — one
    shuffle family end to end."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            A.decimal_sum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("spend")
        )
    )
    wt = Window.partitionBy("custkey").orderBy(F.desc("spend"), F.asc("partkey"))
    wb = Window.partitionBy("custkey").orderBy(F.asc("spend"), F.desc("partkey"))
    wn = Window.partitionBy("custkey")
    r = s.select(
        "custkey",
        "partkey",
        "spend",
        F.row_number().over(wt).alias("rt"),
        F.row_number().over(wb).alias("rb"),
        F.count(F.lit(1)).over(wn).alias("np"),
    )
    c = r.filter((F.col("rt") == 1) & (F.col("np") >= 2)).select(
        "custkey",
        F.col("np").cast("long").alias("n_parts"),
        F.col("partkey").alias("chosen_part"),
        F.col("spend").alias("chosen_spend"),
    )
    j = r.filter(F.col("rb") == 1).select(
        "custkey",
        F.col("partkey").alias("rejected_part"),
        F.col("spend").alias("rejected_spend"),
    )
    return c.join(j, "custkey").select(
        "custkey",
        "n_parts",
        "chosen_part",
        "rejected_part",
        "chosen_spend",
        "rejected_spend",
    )


@_q(
    "length_bucket_batches",
    rf"""
    WITH t AS (SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens,
                      md5('lenb' || CAST(doc_id AS VARCHAR)) AS h
               FROM documents),
    b AS (SELECT doc_id, n_tokens, h,
                 CAST(LEAST(n_tokens // 32, 15) AS BIGINT) AS bucket FROM t),
    r AS (SELECT doc_id, n_tokens, bucket,
                 CAST(ROW_NUMBER() OVER (PARTITION BY bucket
                      ORDER BY h, doc_id) AS BIGINT) AS rn
          FROM b)
    SELECT bucket, CAST((rn - 1) // 8 AS BIGINT) AS batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS max_len,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(count(*) * max(n_tokens) - SUM(n_tokens) AS BIGINT)
             AS padded_tokens,
           CASE WHEN count(*) * max(n_tokens) > 0 THEN
             CAST(count(*) * max(n_tokens) - SUM(n_tokens) AS DOUBLE)
               / CAST(count(*) * max(n_tokens) AS DOUBLE) END AS waste_frac
    FROM r GROUP BY bucket, (rn - 1) // 8
    """,
)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: documents binned by token count
    (32-token buckets, capped), md5-shuffled within each bucket, cut into
    batches of 8, each with its exact padding waste.

    Scale shape: bucketing is scan-shaped; position assignment is ONE
    bucket-keyed window; the batch aggregate reuses the same (bucket, batch)
    keying. Integers throughout; the division is guarded for the
    all-empty-docs batch."""
    docs = load_table(spark, sf_dir, "documents")

    h = F.md5(F.concat(F.lit("lenb"), F.col("doc_id").cast("string")).cast("binary"))
    t = docs.select(
        "doc_id",
        X.token_count("text").cast("bigint").alias("n_tokens"),
        h.alias("h"),
    )
    b = t.withColumn(
        "bucket", F.least(F.expr("n_tokens DIV 32"), F.lit(15)).cast("long")
    )
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    r = b.withColumn("rn", F.row_number().over(w).cast("long"))
    g = r.withColumn("batch_id", F.expr("(rn - 1) DIV 8").cast("long"))
    agg = g.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("sum_tokens"),
    )
    padded = F.col("n_docs") * F.col("max_len") - F.col("sum_tokens")
    denom = F.col("n_docs") * F.col("max_len")
    return agg.select(
        "bucket",
        "batch_id",
        "n_docs",
        "max_len",
        "sum_tokens",
        padded.cast("long").alias("padded_tokens"),
        F.when(denom > 0, padded.cast("double") / denom.cast("double")).alias(
            "waste_frac"
        ),
    )


@_q(
    "vocab_hapax_ratio",
    rf"""
    WITH toks AS (SELECT source, unnest({_SQL_TOKS}) AS tok
                  FROM documents WHERE source IS NOT NULL),
    tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY source, tok),
    r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_distinct,
                 CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax
          FROM tc GROUP BY source)
    SELECT source, n_distinct, n_hapax,
           CAST(n_hapax AS DOUBLE) / n_distinct AS hapax_ratio
    FROM r
    """,
)
def vocab_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena ratio per source: the share of tokens that occur once.

    Scale shape: token explode is scan-shaped; the (source, token) aggregate
    is the only corpus-sized shuffle, and the per-source rollup is
    group-sized."""
    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.filter(F.col("source").isNotNull())
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    r = tc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
    )
    return r.select(
        "source",
        "n_distinct",
        "n_hapax",
        (F.col("n_hapax").cast("double") / F.col("n_distinct")).alias("hapax_ratio"),
    )


@_q(
    "grpo_group_advantages",
    """
    WITH e AS (SELECT event_id, user_id,
                      strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                      value AS reward
               FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL
                 AND value IS NOT NULL),
    g AS (SELECT user_id, day,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST(reward AS DECIMAL(27,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(reward AS DECIMAL(27,6))
                          * CAST(reward AS DECIMAL(27,6))) AS DOUBLE) AS sxx
          FROM e GROUP BY user_id, day),
    j AS (SELECT e.event_id, e.user_id, e.day, e.reward, g.n,
                 g.sx / g.n AS mean_r,
                 (CAST(g.n AS DOUBLE) * g.sxx - g.sx * g.sx)
                   / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) - 1.0))
                   AS var_r
          FROM e JOIN g ON g.user_id = e.user_id AND g.day = e.day
          WHERE g.n > 1)
    SELECT event_id, user_id, day, reward, n, mean_r,
           CASE WHEN var_r > 0
                THEN (reward - mean_r) / sqrt(var_r)
                ELSE CAST(0.0 AS DOUBLE) END AS advantage
    FROM j
    """,
)
def grpo_group_advantages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO group-relative advantages: within each user x day group, every
    reward normalized to (r - group_mean) / group_std.

    Scale shape: one keyed moment aggregate + one keyed join back — the
    standard two-pass normalize, no window."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        "event_id",
        "user_id",
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day"),
        F.col("value").alias("reward"),
    )
    dec = F.col("reward").cast("decimal(27,6)")
    g = e.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).cast("double").alias("sx"),
        F.sum(dec * dec).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    mean_r = F.col("sx") / F.col("n")
    var_r = (nd * F.col("sxx") - F.col("sx") * F.col("sx")) / (nd * (nd - 1.0))
    j = (
        e.join(g, ["user_id", "day"])
        .filter(F.col("n") > 1)
        .withColumn("mean_r", mean_r)
        .withColumn("var_r", var_r)
    )
    return j.select(
        "event_id",
        "user_id",
        "day",
        "reward",
        "n",
        "mean_r",
        F.when(
            F.col("var_r") > 0,
            (F.col("reward") - F.col("mean_r")) / F.sqrt("var_r"),
        )
        .otherwise(F.lit(0.0))
        .alias("advantage"),
    )


@_q(
    "source_distinctive_terms",
    rf"""
    WITH toks AS (SELECT source, unnest({_SQL_TOKS}) AS tok
                  FROM documents WHERE source IS NOT NULL),
    st AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS a
           FROM toks GROUP BY source, tok),
    ssz AS (SELECT source, CAST(sum(a) AS BIGINT) AS s_total FROM st
            GROUP BY source),
    ct AS (SELECT tok, CAST(sum(a) AS BIGINT) AS b FROM st GROUP BY tok),
    t AS (SELECT CAST(sum(a) AS BIGINT) AS d_total FROM st),
    l AS (SELECT st.source, st.tok, st.a,
                 (CAST(st.a AS DOUBLE) * t.d_total)
                   / (CAST(ct.b AS DOUBLE) * ssz.s_total) AS lift
          FROM st
          JOIN ssz ON ssz.source = st.source
          JOIN ct ON ct.tok = st.tok
          CROSS JOIN t
          WHERE st.a >= 5),
    r AS (SELECT source, tok, a, lift,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY lift DESC, tok) AS BIGINT) AS rnk
          FROM l)
    SELECT source, tok, a AS n_occurrences, lift, rnk
    FROM r WHERE rnk <= 5
    """,
)
def source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source by rate lift (term rate in source / term
    rate in corpus), top-5 per source with a min-count floor of 5.

    Scale shape: one (source, token) aggregate; the corpus term table joins
    keyed on token; top-5 per source is a WindowGroupLimit-able
    source-partitioned rank."""
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.filter(F.col("source").isNotNull())
        .select("source", F.explode(tokens("text")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
    )
    ssz = st.groupBy("source").agg(F.sum("a").cast("long").alias("s_total"))
    ct = st.groupBy("tok").agg(F.sum("a").cast("long").alias("b"))
    t = st.agg(F.sum("a").cast("long").alias("d_total"))
    lift = (F.col("a").cast("double") * F.col("d_total")) / (
        F.col("b").cast("double") * F.col("s_total")
    )
    l = (
        st.filter(F.col("a") >= 5)
        .join(F.broadcast(ssz), "source")
        .join(ct, "tok")
        .crossJoin(F.broadcast(t))
        .select("source", "tok", "a", lift.alias("lift"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("lift"), F.asc("tok"))
    r = l.select(
        "source", "tok", "a", "lift", F.row_number().over(w).cast("long").alias("rnk")
    )
    return r.filter(F.col("rnk") <= 5).select(
        "source", "tok", F.col("a").alias("n_occurrences"), "lift", "rnk"
    )


@_q(
    "source_venn_overlap",
    """
    WITH fp AS (
      SELECT md5(text) AS fingerprint,
             array_to_string(list_sort(list(DISTINCT source)), '+') AS combo
      FROM documents WHERE source IS NOT NULL
      GROUP BY md5(text))
    SELECT combo, CAST(count(*) AS BIGINT) AS n_fingerprints
    FROM fp GROUP BY combo
    """,
)
def source_venn_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Venn diagram of exact-duplicate content across sources: each distinct
    text fingerprint labeled with the sorted set of its sources ('web',
    'web+wiki', ...), combinations counted.

    Scale shape: one fingerprint-keyed aggregate (collect_set over the
    handful of sources), one tiny combo aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    fp = (
        docs.filter(F.col("source").isNotNull())
        .groupBy(F.md5("text").alias("fingerprint"))
        .agg(
            F.concat_ws(
                "+", F.sort_array(F.collect_set("source"))
            ).alias("combo")
        )
    )
    return fp.groupBy("combo").agg(
        F.count(F.lit(1)).cast("long").alias("n_fingerprints")
    )


@_q(
    "vocab_coverage_by_freq_class",
    f"""
    WITH tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
      GROUP BY tok),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_types
            FROM tf),
    ladder AS (SELECT unnest([2, 5, 10, 50, 100]) AS threshold)
    SELECT CAST(l.threshold AS INTEGER) AS threshold,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(SUM(tf.freq) AS BIGINT) AS n_occurrences,
           CAST(SUM(tf.freq) AS DOUBLE) / MAX(tot.total) AS coverage,
           CAST(count(*) AS DOUBLE) / MAX(tot.n_types) AS type_fraction
    FROM tf CROSS JOIN ladder l CROSS JOIN tot
    WHERE tf.freq >= l.threshold
    GROUP BY l.threshold
    """,
)
def vocab_coverage_by_freq_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage: the fraction of all token occurrences covered by the
    token types seen at least t times (t = 2..100).

    Scale shape: one token-keyed aggregate, a 5x fan-out of the vocab table
    against the threshold ladder (broadcast), one 5-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")

    tf = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    tot = tf.agg(
        F.sum("freq").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    ladder = spark.createDataFrame(
        [(2,), (5,), (10,), (50,), (100,)], "threshold int"
    )
    j = (
        tf.crossJoin(F.broadcast(ladder))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("freq") >= F.col("threshold"))
    )
    return j.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("freq").cast("long").alias("n_occurrences"),
        (F.sum("freq").cast("double") / F.max("total")).alias("coverage"),
        (F.count(F.lit(1)).cast("double") / F.max("n_types")).alias(
            "type_fraction"
        ),
    )


@_q(
    "corpus_stopword_candidates",
    f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, tok
      FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM documents WHERE len({_SQL_TOKS}) > 0),
    df AS (SELECT tok, CAST(count(*) AS BIGINT) AS doc_freq
           FROM dt GROUP BY tok)
    SELECT tok, doc_freq,
           CAST(doc_freq AS DOUBLE) / nd.n_docs AS df_fraction
    FROM df CROSS JOIN nd
    WHERE CAST(doc_freq AS DOUBLE) / nd.n_docs >= CAST(0.3 AS DOUBLE)
    """,
)
def corpus_stopword_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-specific stopwords: tokens whose document frequency (fraction
    of docs containing them) is >= 0.3.

    Scale shape: distinct (doc, token) -- one keyed dedup -- then a
    token-keyed count against a scalar doc count."""
    docs = load_table(spark, sf_dir, "documents")

    dt = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).distinct()
    nd = docs.filter(F.size(tokens("text")) > 0).agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs")
    )
    df = dt.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
    frac = F.col("doc_freq").cast("double") / F.col("n_docs")
    return (
        df.crossJoin(F.broadcast(nd))
        .filter(frac >= 0.3)
        .select("tok", "doc_freq", frac.alias("df_fraction"))
    )


@_q(
    "vocab_growth_by_arrival",
    f"""
    WITH mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) + 1 AS m FROM documents),
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    dt AS (
      SELECT (doc_id * 20) // mx.m AS bucket, unnest({_SQL_SHINGLES}) AS tok
      FROM toks CROSS JOIN mx),
    fb AS (SELECT tok, CAST(MIN(bucket) AS BIGINT) AS first_bucket
           FROM dt GROUP BY tok),
    nw AS (SELECT first_bucket AS bucket,
                  CAST(count(*) AS BIGINT) AS n_new_types
           FROM fb GROUP BY first_bucket),
    cum AS (
      SELECT a.bucket,
             CAST(SUM(b.n_new_types) AS BIGINT) AS cum_types
      FROM nw a JOIN nw b ON b.bucket <= a.bucket
      GROUP BY a.bucket)
    SELECT nw.bucket, nw.n_new_types, cum.cum_types
    FROM nw JOIN cum ON cum.bucket = nw.bucket
    """,
)
def vocab_growth_by_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve: the corpus in 20 doc_id-order slices,
    counting the 3-gram shingle types first seen in each slice and the
    cumulative shingle vocabulary.

    Scale shape: one token-keyed MIN aggregate, a 20-row bucket aggregate +
    tiny self-join."""
    docs = load_table(spark, sf_dir, "documents")

    mx = docs.agg((F.max("doc_id").cast("long") + 1).alias("m"))
    dt = (
        docs.select(
            "doc_id", F.explode(word_ngrams(tokens("text"))).alias("tok")
        )
        .crossJoin(F.broadcast(mx))
        .select(F.expr("(doc_id * 20) div m").alias("bucket"), "tok")
    )
    fb = dt.groupBy("tok").agg(F.min("bucket").cast("long").alias("first_bucket"))
    nw = fb.groupBy(F.col("first_bucket").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new_types")
    )
    b = nw.select(F.col("bucket").alias("b_bucket"), F.col("n_new_types").alias("b_new"))
    cum = (
        nw.select("bucket")
        .join(F.broadcast(b), F.col("b_bucket") <= F.col("bucket"))
        .groupBy("bucket")
        .agg(F.sum("b_new").cast("long").alias("cum_types"))
    )
    return nw.join(cum, "bucket").select("bucket", "n_new_types", "cum_types")


@_q(
    "text_mattr_diversity",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents),
    ex AS (
      SELECT doc_id, lang, u.pos AS pos, t[u.pos] AS tok,
             CAST(len(t) AS BIGINT) AS n_toks
      FROM toks
      CROSS JOIN (SELECT unnest(range(1, 2001)) AS pos) u
      WHERE u.pos <= len(t)),
    win AS (
      SELECT a.doc_id, a.lang, a.pos AS w_start,
             CAST(count(DISTINCT b.tok) AS BIGINT) AS n_distinct
      FROM ex a JOIN ex b
        ON b.doc_id = a.doc_id
       AND b.pos >= a.pos AND b.pos < a.pos + 25
      WHERE a.pos + 24 <= a.n_toks
      GROUP BY a.doc_id, a.lang, a.pos),
    per_doc AS (
      SELECT doc_id, lang,
             CAST(SUM(n_distinct) AS DOUBLE) / (25 * count(*)) AS mattr
      FROM win GROUP BY doc_id, lang)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(floor(mattr * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / count(*) AS mean_mattr
    FROM per_doc GROUP BY lang
    """,
)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR lexical diversity: the mean distinct-token fraction over every
    25-token sliding window per document, averaged by language.

    Scale shape: SCAN-LOCAL — the sliding window-distinct runs as a
    higher-order expression over each doc's (capped) token array (O(n·25)
    per doc), so the only shuffle in the plan is the final lang aggregate;
    no doc-keyed positional self-join, which would be quadratic in document
    length."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        F.slice(tokens("text"), 1, 2000).alias("toks"),
        F.size(tokens("text")).cast("long").alias("n_toks"),
    )
    # window starts s = 1 .. min(n_toks - 24, 2000): the join form this
    # replaces emitted a window row only when at least one capped
    # position fell inside it, so starts beyond the 2000-token cap
    # contribute nothing (windows straddling the cap count distinct over
    # the tokens that survive it, same as the join's bpos <= 2000 edge)
    wins = F.expr(
        "transform(sequence(1, least(n_toks - 24, 2000)), "
        "s -> size(array_distinct(slice(toks, s, 25))))"
    )
    per_doc = (
        base.filter(F.col("n_toks") >= 25)
        .select("doc_id", "lang", wins.alias("wins"))
        .select(
            "doc_id",
            "lang",
            (
                F.expr(
                    "cast(aggregate(wins, 0L, (a, x) -> a + x) as double)"
                )
                / (25 * F.size("wins"))
            ).alias("mattr"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (
            F.sum(F.floor(F.col("mattr") * 1000000.0).cast("long")).cast(
                "double"
            )
            / 1000000.0
            / F.count(F.lit(1))
        ).alias("mean_mattr"),
    )


@_q(
    "vocab_rank_frequency_ratios",
    f"""
    WITH tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest({_SQL_TOKS}) AS tok FROM documents)
      GROUP BY tok),
    top AS (
      SELECT tok, freq,
             CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS BIGINT)
               AS rnk
      FROM tf ORDER BY freq DESC, tok ASC LIMIT 10),
    one AS (SELECT freq AS f1 FROM top WHERE rnk = 1)
    SELECT top.rnk AS rank, top.tok, top.freq,
           CAST(one.f1 AS DOUBLE) / top.freq AS top_over_freq,
           CAST(one.f1 AS DOUBLE) / (top.freq * top.rnk) AS zipf_deviation
    FROM top CROSS JOIN one
    """,
)
def vocab_rank_frequency_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency check for the top-10 tokens: freq(1)/freq(r) and
    zipf_deviation = f1/(f_r * r) (1.0 = unit-exponent Zipf), from exact
    integer ratios.

    Scale shape: one token aggregate, TakeOrdered top-10, rank window over
    the GlobalLimit-bounded list."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    top = (
        tf.orderBy(F.desc("freq"), F.asc("tok"))
        .limit(10)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("freq"), F.asc("tok")))
            .cast("long"),
        )
    )
    one = top.filter(F.col("rank") == 1).select(F.col("freq").alias("f1"))
    return top.crossJoin(F.broadcast(one)).select(
        "rank",
        "tok",
        "freq",
        (F.col("f1").cast("double") / F.col("freq")).alias("top_over_freq"),
        (
            F.col("f1").cast("double") / (F.col("freq") * F.col("rank"))
        ).alias("zipf_deviation"),
    )


@_q(
    "tokenizer_fertility_by_lang",
    rf"""
    WITH f AS (
      SELECT lang,
             CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
               AS n_bpe,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS n_words
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CASE WHEN SUM(n_words) > 0
                THEN CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_words)
                ELSE CAST(0.0 AS DOUBLE) END AS fertility
    FROM f GROUP BY lang
    """,
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace word.

    Scale shape: pure scan-shaped projection + ONE keyed aggregate to
    |langs| rows; both token counts come from the same row pass."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "lang",
        F.size(
            F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
        )
        .cast("long")
        .alias("n_bpe"),
        X.token_count("text").cast("long").alias("n_words"),
    )
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.when(
            F.sum("n_words") > 0,
            F.sum("n_bpe").cast("double") / F.sum("n_words"),
        )
        .otherwise(F.lit(0.0))
        .alias("fertility"),
    )


_QSIG_PHI = """
           CASE WHEN (n11 + n10) > 0 AND (n01 + n00) > 0
                 AND (n11 + n01) > 0 AND (n10 + n00) > 0
                THEN CAST(n11 * n00 - n10 * n01 AS DOUBLE)
                     / sqrt(CAST((n11 + n10) AS DOUBLE) * (n01 + n00)
                            * (n11 + n01) * (n10 + n00))
                ELSE CAST(0.0 AS DOUBLE) END AS phi
"""


@_q(
    "quality_signal_phi_matrix",
    rf"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> '')) AS BIGINT) AS s_tokens,
             CAST(length(text) AS BIGINT) AS s_chars,
             CAST(len(list_distinct(list_filter(string_split_regex(text, '\s+'),
                  x -> x <> ''))) AS BIGINT) AS s_vocab,
             CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
               AS s_bpe
      FROM documents),
    med AS (
      SELECT quantile_cont(CAST(s_tokens AS DOUBLE), 0.5) AS m_tokens,
             quantile_cont(CAST(s_chars AS DOUBLE), 0.5) AS m_chars,
             quantile_cont(CAST(s_vocab AS DOUBLE), 0.5) AS m_vocab,
             quantile_cont(CAST(s_bpe AS DOUBLE), 0.5) AS m_bpe
      FROM f),
    b AS (
      SELECT CASE WHEN s_tokens > m_tokens THEN 1 ELSE 0 END AS b1,
             CASE WHEN s_chars > m_chars THEN 1 ELSE 0 END AS b2,
             CASE WHEN s_vocab > m_vocab THEN 1 ELSE 0 END AS b3,
             CASE WHEN s_bpe > m_bpe THEN 1 ELSE 0 END AS b4
      FROM f CROSS JOIN med),
    g AS (
      SELECT
        CAST(SUM(b1*b2) AS BIGINT) AS p12_11, CAST(SUM(b1*(1-b2)) AS BIGINT) AS p12_10,
        CAST(SUM((1-b1)*b2) AS BIGINT) AS p12_01, CAST(SUM((1-b1)*(1-b2)) AS BIGINT) AS p12_00,
        CAST(SUM(b1*b3) AS BIGINT) AS p13_11, CAST(SUM(b1*(1-b3)) AS BIGINT) AS p13_10,
        CAST(SUM((1-b1)*b3) AS BIGINT) AS p13_01, CAST(SUM((1-b1)*(1-b3)) AS BIGINT) AS p13_00,
        CAST(SUM(b1*b4) AS BIGINT) AS p14_11, CAST(SUM(b1*(1-b4)) AS BIGINT) AS p14_10,
        CAST(SUM((1-b1)*b4) AS BIGINT) AS p14_01, CAST(SUM((1-b1)*(1-b4)) AS BIGINT) AS p14_00,
        CAST(SUM(b2*b3) AS BIGINT) AS p23_11, CAST(SUM(b2*(1-b3)) AS BIGINT) AS p23_10,
        CAST(SUM((1-b2)*b3) AS BIGINT) AS p23_01, CAST(SUM((1-b2)*(1-b3)) AS BIGINT) AS p23_00,
        CAST(SUM(b2*b4) AS BIGINT) AS p24_11, CAST(SUM(b2*(1-b4)) AS BIGINT) AS p24_10,
        CAST(SUM((1-b2)*b4) AS BIGINT) AS p24_01, CAST(SUM((1-b2)*(1-b4)) AS BIGINT) AS p24_00,
        CAST(SUM(b3*b4) AS BIGINT) AS p34_11, CAST(SUM(b3*(1-b4)) AS BIGINT) AS p34_10,
        CAST(SUM((1-b3)*b4) AS BIGINT) AS p34_01, CAST(SUM((1-b3)*(1-b4)) AS BIGINT) AS p34_00
      FROM b),
    rows_ AS (
      SELECT 'tokens' AS sig_a, 'chars' AS sig_b, p12_11 AS n11, p12_10 AS n10, p12_01 AS n01, p12_00 AS n00 FROM g
      UNION ALL SELECT 'tokens', 'vocab', p13_11, p13_10, p13_01, p13_00 FROM g
      UNION ALL SELECT 'tokens', 'bpe', p14_11, p14_10, p14_01, p14_00 FROM g
      UNION ALL SELECT 'chars', 'vocab', p23_11, p23_10, p23_01, p23_00 FROM g
      UNION ALL SELECT 'chars', 'bpe', p24_11, p24_10, p24_01, p24_00 FROM g
      UNION ALL SELECT 'vocab', 'bpe', p34_11, p34_10, p34_01, p34_00 FROM g)
    SELECT sig_a, sig_b, n11, n10, n01, n00,
           {_QSIG_PHI}
    FROM rows_
    """,
)
def quality_signal_phi_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise phi correlation between four median-binarized document
    quality signals (whitespace tokens, chars, distinct vocabulary, BPE-ish
    tokens).

    Scale shape: one scan for the signals, one 4-value median aggregate
    broadcast back, one scalar aggregate of 24 boolean-product sums, a 6-row
    unpivot — two scans, no joins keyed on doc."""
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        X.token_count("text").cast("long").alias("s_tokens"),
        F.length("text").cast("long").alias("s_chars"),
        F.size(F.array_distinct(X.tokens("text"))).cast("long").alias("s_vocab"),
        F.size(
            F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))
        ).cast("long").alias("s_bpe"),
    )
    med = f.agg(
        F.expr("percentile(CAST(s_tokens AS DOUBLE), 0.5)").alias("m_tokens"),
        F.expr("percentile(CAST(s_chars AS DOUBLE), 0.5)").alias("m_chars"),
        F.expr("percentile(CAST(s_vocab AS DOUBLE), 0.5)").alias("m_vocab"),
        F.expr("percentile(CAST(s_bpe AS DOUBLE), 0.5)").alias("m_bpe"),
    )
    b = f.crossJoin(F.broadcast(med)).select(
        F.when(F.col("s_tokens") > F.col("m_tokens"), 1).otherwise(0).alias("b1"),
        F.when(F.col("s_chars") > F.col("m_chars"), 1).otherwise(0).alias("b2"),
        F.when(F.col("s_vocab") > F.col("m_vocab"), 1).otherwise(0).alias("b3"),
        F.when(F.col("s_bpe") > F.col("m_bpe"), 1).otherwise(0).alias("b4"),
    )
    names = {1: "tokens", 2: "chars", 3: "vocab", 4: "bpe"}
    aggs = []
    for i in range(1, 5):
        for j in range(i + 1, 5):
            bi, bj = F.col(f"b{i}"), F.col(f"b{j}")
            aggs += [
                F.sum(bi * bj).cast("long").alias(f"p{i}{j}_11"),
                F.sum(bi * (1 - bj)).cast("long").alias(f"p{i}{j}_10"),
                F.sum((1 - bi) * bj).cast("long").alias(f"p{i}{j}_01"),
                F.sum((1 - bi) * (1 - bj)).cast("long").alias(f"p{i}{j}_00"),
            ]
    g = b.agg(*aggs)
    # ONE stack() unpivot instead of a 6-way unionAll of selects over g —
    # a union re-plans (and re-computes) the scalar aggregate per branch.
    stack_args = ", ".join(
        f"'{names[i]}', '{names[j]}', p{i}{j}_11, p{i}{j}_10, p{i}{j}_01, p{i}{j}_00"
        for i in range(1, 5)
        for j in range(i + 1, 5)
    )
    rows = g.select(
        F.expr(
            f"stack(6, {stack_args}) AS (sig_a, sig_b, n11, n10, n01, n00)"
        )
    )
    na = F.col("n11") + F.col("n10")
    nnota = F.col("n01") + F.col("n00")
    nb = F.col("n11") + F.col("n01")
    nnotb = F.col("n10") + F.col("n00")
    return rows.select(
        "sig_a",
        "sig_b",
        "n11",
        "n10",
        "n01",
        "n00",
        F.when(
            (na > 0) & (nnota > 0) & (nb > 0) & (nnotb > 0),
            (F.col("n11") * F.col("n00") - F.col("n10") * F.col("n01")).cast(
                "double"
            )
            / F.sqrt(na.cast("double") * nnota * nb * nnotb),
        )
        .otherwise(F.lit(0.0))
        .alias("phi"),
    )


def _pass_at_k_sql(k: int) -> str:
    """1 - C(f, k)/C(n, k) as the explicit left-associated k-term product
    (f = failures): exact in IEEE doubles given integer inputs, and the
    GREATEST clamp makes f < k yield probability-of-all-failures 0."""
    prod = " * ".join(
        f"(CAST(GREATEST(f - {i}, 0) AS DOUBLE) / (n - {i}))" for i in range(k)
    )
    return f"(1.0 - {prod})"


@_q(
    "eval_pass_at_k",
    f"""
    WITH a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT)
               - CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      AS BIGINT) AS f
      FROM events GROUP BY user_id),
    q AS (SELECT user_id, n, f FROM a WHERE n >= 10),
    p AS (
      SELECT user_id,
             {_pass_at_k_sql(1)} AS p1,
             {_pass_at_k_sql(5)} AS p5,
             {_pass_at_k_sql(10)} AS p10
      FROM q)
    SELECT CAST(count(*) AS BIGINT) AS n_tasks,
           CAST(SUM(CAST(floor(p1 * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000000.0 / count(*) AS pass_at_1,
           CAST(SUM(CAST(floor(p5 * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000000.0 / count(*) AS pass_at_5,
           CAST(SUM(CAST(floor(p10 * 1000000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000000.0 / count(*) AS pass_at_10
    FROM p
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator per task: with n attempts of which c
    succeed, pass@k = 1 - C(n-c, k)/C(n, k).

    Scale shape: one user-keyed aggregate, one scan-shaped projection (the
    k-term products are pure codegen arithmetic), one scalar aggregate."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.count(F.lit(1))
            - F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        )
        .cast("long")
        .alias("f"),
    )
    q = a.filter(F.col("n") >= 10)

    def pass_at_k(k: int):
        prod = None
        for i in range(k):
            term = F.greatest(F.col("f") - i, F.lit(0)).cast("double") / (
                F.col("n") - i
            )
            prod = term if prod is None else prod * term
        return F.lit(1.0) - prod

    p = q.select(
        pass_at_k(1).alias("p1"),
        pass_at_k(5).alias("p5"),
        pass_at_k(10).alias("p10"),
    )

    def nano_mean(c: str):
        return (
            F.sum(F.floor(F.col(c) * F.lit(1000000000.0)).cast("long")).cast(
                "double"
            )
            / F.lit(1000000000.0)
            / F.count(F.lit(1))
        )

    return p.agg(
        F.count(F.lit(1)).cast("long").alias("n_tasks"),
        nano_mean("p1").alias("pass_at_1"),
        nano_mean("p5").alias("pass_at_5"),
        nano_mean("p10").alias("pass_at_10"),
    )


@_q(
    "split_balance_chisq",
    """
    WITH b AS (
      SELECT CASE WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                        1, 8))::BIGINT % 10000 < 8000 THEN 'train'
                  WHEN ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),
                        1, 8))::BIGINT % 10000 < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents),
    g AS (SELECT split, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY split),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g),
    e AS (
      SELECT g.split, g.n, t.total,
             t.total * CASE g.split WHEN 'train' THEN CAST(0.8 AS DOUBLE)
                                    WHEN 'val' THEN CAST(0.1 AS DOUBLE)
                                    ELSE CAST(0.1 AS DOUBLE) END AS expected
      FROM g CROSS JOIN t)
    SELECT split, n, expected,
           CAST(n AS DOUBLE) / total AS observed_frac,
           (n - expected) * (n - expected) / expected AS chisq_term
    FROM e
    """,
)
def split_balance_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit of the md5 80/10/10 split
    ([[split_train_val_test]]): per-split observed count vs expected, with
    each split's chi-square term.

    Scale shape: one scan + 3-row keyed aggregate + broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    s = split_assign(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    g = s.groupBy("split").agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = g.agg(F.sum("n").cast("long").alias("total"))
    frac = (
        F.when(F.col("split") == "train", F.lit(0.8))
        .when(F.col("split") == "val", F.lit(0.1))
        .otherwise(F.lit(0.1))
    )
    e = g.crossJoin(F.broadcast(t)).select(
        "split",
        "n",
        (F.col("total") * frac).alias("expected"),
        (F.col("n").cast("double") / F.col("total")).alias("observed_frac"),
        F.col("total").alias("_total"),
    )
    return e.select(
        "split",
        "n",
        "expected",
        "observed_frac",
        (
            (F.col("n") - F.col("expected"))
            * (F.col("n") - F.col("expected"))
            / F.col("expected")
        ).alias("chisq_term"),
    )


#: oracle CTEs ``per`` and ``tot``: the :func:`_source_totals` mirror
_SOURCE_TOTALS_SQL = """WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS tn,
                   CAST(SUM(sum_chars) AS BIGINT) AS ts FROM per)"""


def _source_totals(docs: DataFrame):
    """``(per, tot)``: documents and characters per ``source``, and the
    one-row corpus totals ``tn``, ``ts`` — exact BIGINT sums."""
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("tn"),
        F.sum("sum_chars").cast("long").alias("ts"),
    )
    return per, tot


@_q(
    "source_loo_contribution",
    f"""
    {_SOURCE_TOTALS_SQL},
    fp AS (SELECT md5(text) AS h, count(DISTINCT source) AS nd,
                  MIN(source) AS only_src
           FROM documents GROUP BY md5(text)),
    td AS (SELECT CAST(count(*) AS BIGINT) AS total_distinct FROM fp),
    ex AS (SELECT only_src AS source, CAST(count(*) AS BIGINT) AS excl
           FROM fp WHERE nd = 1 GROUP BY only_src)
    SELECT per.source, per.n_docs,
           CASE WHEN tot.tn > per.n_docs
                THEN CAST(tot.ts - per.sum_chars AS DOUBLE)
                     / (tot.tn - per.n_docs) END AS loo_mean_chars,
           CASE WHEN tot.tn > per.n_docs
                THEN CAST(tot.ts - per.sum_chars AS DOUBLE)
                     / (tot.tn - per.n_docs)
                     - CAST(tot.ts AS DOUBLE) / tot.tn END AS delta_mean_chars,
           CAST(COALESCE(ex.excl, 0) AS BIGINT) AS exclusive_distinct,
           CAST(td.total_distinct - COALESCE(ex.excl, 0) AS BIGINT)
             AS loo_distinct_texts
    FROM per CROSS JOIN tot CROSS JOIN td
    LEFT JOIN ex ON ex.source = per.source
    """,
)
def source_loo_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out data valuation by source: the corpus mean doc length
    without that source, its delta vs the full mean, and the count of
    exact-distinct texts living only in that source (exclusive_distinct).

    Scale shape: one per-source aggregate (k rows), one keyed fingerprint
    aggregate (|distinct texts| rows) + k-row rollup, two broadcast scalars;
    integer-exact until the final divisions."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "text"
    )
    per, tot = _source_totals(docs)
    fp = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.count_distinct("source").alias("nd"),
        F.min("source").alias("only_src"),
    )
    td = fp.agg(F.count(F.lit(1)).cast("long").alias("total_distinct"))
    ex = (
        fp.filter(F.col("nd") == 1)
        .groupBy(F.col("only_src").alias("_src"))
        .agg(F.count(F.lit(1)).cast("long").alias("excl"))
    )
    loo_mean = F.when(
        F.col("tn") > F.col("n_docs"),
        (F.col("ts") - F.col("sum_chars")).cast("double")
        / (F.col("tn") - F.col("n_docs")),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(td))
        .join(ex, F.col("_src") == F.col("source"), "left")
        .select(
            "source",
            "n_docs",
            loo_mean.alias("loo_mean_chars"),
            (loo_mean - F.col("ts").cast("double") / F.col("tn")).alias(
                "delta_mean_chars"
            ),
            F.coalesce(F.col("excl"), F.lit(0)).cast("long").alias(
                "exclusive_distinct"
            ),
            (
                F.col("total_distinct") - F.coalesce(F.col("excl"), F.lit(0))
            )
            .cast("long")
            .alias("loo_distinct_texts"),
        )
    )


@_q(
    "eval_langid_confusion",
    f"""
    WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> '') toks
               FROM documents),
    h AS (
      SELECT doc_id, lang,
        {_LANG_HITS_SQL}
      FROM t),
    p AS (
      SELECT lang AS declared_lang,
             CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de) = 0 THEN 'und'
                  WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'en'
                  WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'fr'
                  WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de) THEN 'es'
                  ELSE 'de' END AS predicted_lang
      FROM h),
    cell AS (
      SELECT declared_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
      FROM p GROUP BY declared_lang, predicted_lang),
    tot AS (
      SELECT declared_lang, CAST(SUM(n) AS BIGINT) AS n_declared
      FROM cell GROUP BY declared_lang)
    SELECT cell.declared_lang, cell.predicted_lang, cell.n,
           CAST(cell.n AS DOUBLE) / tot.n_declared AS frac_of_declared
    FROM cell JOIN tot ON tot.declared_lang = cell.declared_lang
    """,
)
def eval_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    declared language labels: each (declared, predicted) cell with its count
    and its row-normalized share.

    Scale shape: the langid scan (per-doc token-list filters, no shuffle),
    one keyed cell aggregate bounded by |langs|^2, one |langs|-row rollup
    joined back — all post-scan work is metadata-sized."""
    docs = load_table(spark, sf_dir, "documents")
    p = X.language_id(docs).join(
        docs.select("doc_id", F.col("lang").alias("declared_lang")), "doc_id"
    )
    cell = p.groupBy("declared_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cell.groupBy(F.col("declared_lang").alias("_d")).agg(
        F.sum("n").cast("long").alias("n_declared")
    )
    return (
        cell.join(F.broadcast(tot), F.col("_d") == F.col("declared_lang"))
        .select(
            "declared_lang",
            "predicted_lang",
            "n",
            (F.col("n").cast("double") / F.col("n_declared")).alias(
                "frac_of_declared"
            ),
        )
    )


@_q(
    "source_pair_ablation",
    f"""
    {_SOURCE_TOTALS_SQL},
    fp AS (SELECT md5(text) AS h, count(DISTINCT source) AS nd,
                  MIN(source) AS smin, MAX(source) AS smax
           FROM documents GROUP BY md5(text)),
    td AS (SELECT CAST(count(*) AS BIGINT) AS total_distinct FROM fp),
    ex1 AS (SELECT smin AS s, CAST(count(*) AS BIGINT) AS c
            FROM fp WHERE nd = 1 GROUP BY smin),
    ex2 AS (SELECT smin AS pa, smax AS pb, CAST(count(*) AS BIGINT) AS c
            FROM fp WHERE nd = 2 GROUP BY smin, smax),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb,
             a.n_docs AS na, b.n_docs AS nb,
             a.sum_chars AS ca, b.sum_chars AS cb
      FROM per a JOIN per b ON a.source < b.source)
    SELECT pairs.sa, pairs.sb,
           CASE WHEN tot.tn > pairs.na + pairs.nb
                THEN CAST(tot.ts - pairs.ca - pairs.cb AS DOUBLE)
                     / (tot.tn - pairs.na - pairs.nb) END AS loo2_mean_chars,
           CAST(td.total_distinct - COALESCE(e1a.c, 0) - COALESCE(e1b.c, 0)
                - COALESCE(e2.c, 0) AS BIGINT) AS loo2_distinct_texts,
           CAST(COALESCE(e2.c, 0) AS BIGINT) AS pair_interaction_distinct
    FROM pairs CROSS JOIN tot CROSS JOIN td
    LEFT JOIN ex1 e1a ON e1a.s = pairs.sa
    LEFT JOIN ex1 e1b ON e1b.s = pairs.sb
    LEFT JOIN ex2 e2 ON e2.pa = pairs.sa AND e2.pb = pairs.sb
    """,
)
def source_pair_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-source ablation on top of [[source_loo_contribution]]: for every
    source pair, the corpus mean length and distinct-text count with both
    removed, and the interaction (distinct texts living in exactly that
    pair).

    Scale shape: the same fingerprint aggregate as the solo LOO, two k-row /
    k^2-row rollups, all pair math on |sources|^2 rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars", "text"
    )
    per, tot = _source_totals(docs)
    fp = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.count_distinct("source").alias("nd"),
        F.min("source").alias("smin"),
        F.max("source").alias("smax"),
    )
    td = fp.agg(F.count(F.lit(1)).cast("long").alias("total_distinct"))
    ex1 = (
        fp.filter(F.col("nd") == 1)
        .groupBy(F.col("smin").alias("s"))
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    ex2 = (
        fp.filter(F.col("nd") == 2)
        .groupBy(F.col("smin").alias("pa"), F.col("smax").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    a = per.select(
        F.col("source").alias("sa"),
        F.col("n_docs").alias("na"),
        F.col("sum_chars").alias("ca"),
    )
    b = per.select(
        F.col("source").alias("sb"),
        F.col("n_docs").alias("nb"),
        F.col("sum_chars").alias("cb"),
    )
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    e1a = ex1.select(F.col("s").alias("_s1a"), F.col("c1").alias("_c1a"))
    e1b = ex1.select(F.col("s").alias("_s1b"), F.col("c1").alias("_c1b"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(td))
        .join(F.broadcast(e1a), F.col("_s1a") == F.col("sa"), "left")
        .join(F.broadcast(e1b), F.col("_s1b") == F.col("sb"), "left")
        .join(
            F.broadcast(ex2),
            (F.col("pa") == F.col("sa")) & (F.col("pb") == F.col("sb")),
            "left",
        )
        .select(
            "sa",
            "sb",
            F.when(
                F.col("tn") > F.col("na") + F.col("nb"),
                (F.col("ts") - F.col("ca") - F.col("cb")).cast("double")
                / (F.col("tn") - F.col("na") - F.col("nb")),
            ).alias("loo2_mean_chars"),
            (
                F.col("total_distinct")
                - F.coalesce(F.col("_c1a"), F.lit(0))
                - F.coalesce(F.col("_c1b"), F.lit(0))
                - F.coalesce(F.col("c2"), F.lit(0))
            )
            .cast("long")
            .alias("loo2_distinct_texts"),
            F.coalesce(F.col("c2"), F.lit(0))
            .cast("long")
            .alias("pair_interaction_distinct"),
        )
    )


@_q(
    "vocab_chao1_richness",
    f"""
    WITH tok AS (SELECT lang, unnest({_SQL_LTOKS}) AS token FROM documents),
    tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS n
           FROM tok GROUP BY lang, token)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS s_obs,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(count(*) AS DOUBLE)
             + CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END)
                    * (SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) - 1) AS DOUBLE)
               / (2.0 * (SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) + 1))
             AS chao1_estimate
    FROM tf GROUP BY lang
    """,
)
def vocab_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary richness per language: S_obs + F1(F1-1)/(2(F2+1))
    from the singleton (F1) and doubleton (F2) counts.

    Scale shape: scan-shaped tokenization, one (lang, token)-keyed count,
    one |langs|-row rollup — the frequency-of-frequencies never leaves the
    aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    tf = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    f1 = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    f2 = F.sum(F.when(F.col("n") == 2, 1).otherwise(0))
    return tf.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        f1.cast("long").alias("f1"),
        f2.cast("long").alias("f2"),
        (
            F.count(F.lit(1)).cast("double")
            + (f1 * (f1 - 1)).cast("double") / (2.0 * (f2 + 1))
        ).alias("chao1_estimate"),
    )


@_q(
    "stylometry_burrows_delta",
    f"""
    WITH tok AS (SELECT source, unnest({_SQL_LTOKS}) AS token FROM documents),
    cnt AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
            FROM tok GROUP BY source, token),
    totals AS (SELECT source, CAST(SUM(n) AS BIGINT) AS total
               FROM cnt GROUP BY source),
    markers AS MATERIALIZED (
      SELECT token FROM (
        SELECT token, CAST(SUM(n) AS BIGINT) AS cn FROM cnt GROUP BY token)
      ORDER BY cn DESC, token LIMIT 20),
    grid AS MATERIALIZED (
      SELECT t.source, m.token, t.total, COALESCE(c.n, 0) AS n,
             CAST(COALESCE(c.n, 0) AS DOUBLE) / t.total AS f
      FROM totals t CROSS JOIN markers m
      LEFT JOIN cnt c ON c.source = t.source AND c.token = m.token),
    k AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM totals),
    mstat AS MATERIALIZED (
      SELECT grid.token,
             CAST(SUM(CAST(floor(grid.f * 1000000000000.0) AS BIGINT))
                  AS BIGINT) AS fsum
      FROM grid GROUP BY grid.token),
    mu AS MATERIALIZED (
      SELECT mstat.token,
             CAST(mstat.fsum AS DOUBLE) / 1000000000000.0
               / CAST(k.ns AS DOUBLE) AS mu
      FROM mstat CROSS JOIN k),
    sig AS MATERIALIZED (
      SELECT grid.token,
             sqrt(CAST(SUM(CAST(floor((grid.f - mu.mu) * (grid.f - mu.mu)
                                      * 1000000000000.0) AS BIGINT))
                       AS DOUBLE) / 1000000000000.0
                  / CAST(k.ns - 1 AS DOUBLE)) AS sigma
      FROM grid JOIN mu ON mu.token = grid.token CROSS JOIN k
      WHERE k.ns >= 2
      GROUP BY grid.token, k.ns),
    z AS MATERIALIZED (
      SELECT grid.source, grid.token,
             CASE WHEN sig.sigma > 0.0
                  THEN (grid.f - mu.mu) / sig.sigma ELSE 0.0 END AS z
      FROM grid JOIN mu ON mu.token = grid.token
      JOIN sig ON sig.token = grid.token)
    SELECT a.source AS sa, b.source AS sb,
           CAST(CAST(SUM(CAST(floor(abs(a.z - b.z) * 1000000000.0) AS BIGINT))
                     AS DOUBLE) / 1000000000.0 / 20.0 AS DOUBLE) AS delta
    FROM z a JOIN z b ON a.token = b.token AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def stylometry_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between sources: each source's relative frequency of
    the corpus's 20 most frequent words z-scored across sources, then
    Delta(a, b) = mean |z_a - z_b|.

    Scale shape: one (source, token) keyed count, a |sources| x 20 broadcast
    grid, 20-row marker stats, and a marker-keyed pair join whose
    cardinality is |sources|^2 x 20 metadata rows — the corpus is touched
    once."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    )
    cnt = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    totals = cnt.groupBy("source").agg(F.sum("n").cast("long").alias("total"))
    markers = (
        cnt.groupBy("token")
        .agg(F.sum("n").cast("long").alias("cn"))
        .orderBy(F.col("cn").desc(), "token")
        .limit(20)
        .select("token")
    )
    c2 = cnt.select(
        F.col("source").alias("_cs"), F.col("token").alias("_ct"), "n"
    )
    grid = (
        totals.crossJoin(F.broadcast(markers))
        .join(
            c2,
            (F.col("_cs") == F.col("source")) & (F.col("_ct") == F.col("token")),
            "left",
        )
        .select(
            "source",
            "token",
            "total",
            (
                F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total")
            ).alias("f"),
        )
    )
    k = totals.agg(F.count(F.lit(1)).cast("long").alias("ns"))
    mstat = grid.groupBy("token").agg(
        F.sum(F.floor(F.col("f") * 1000000000000.0).cast("long"))
        .cast("long")
        .alias("fsum")
    )
    mu = mstat.crossJoin(F.broadcast(k)).select(
        "token",
        (
            F.col("fsum").cast("double") / 1000000000000.0
            / F.col("ns").cast("double")
        ).alias("mu"),
    )
    mu2 = mu.select(F.col("token").alias("_mt"), "mu")
    sig = (
        grid.join(F.broadcast(mu2), F.col("_mt") == F.col("token"))
        .crossJoin(F.broadcast(k))
        .filter(F.col("ns") >= 2)
        .groupBy("token", "ns")
        .agg(
            F.sqrt(
                F.sum(
                    F.floor(
                        (F.col("f") - F.col("mu"))
                        * (F.col("f") - F.col("mu"))
                        * 1000000000000.0
                    ).cast("long")
                ).cast("double")
                / 1000000000000.0
                / (F.col("ns") - 1).cast("double")
            ).alias("sigma")
        )
        .select(F.col("token").alias("_st"), "sigma")
    )
    z = (
        grid.join(F.broadcast(mu2), F.col("_mt") == F.col("token"))
        .join(F.broadcast(sig), F.col("_st") == F.col("token"))
        .select(
            "source",
            "token",
            F.when(
                F.col("sigma") > 0.0,
                (F.col("f") - F.col("mu")) / F.col("sigma"),
            )
            .otherwise(0.0)
            .alias("z"),
        )
    )
    zb = z.select(
        F.col("source").alias("sb"),
        F.col("token").alias("_zt"),
        F.col("z").alias("_zb"),
    )
    return (
        z.join(zb, (F.col("_zt") == F.col("token")) & (F.col("source") < F.col("sb")))
        .groupBy(F.col("source").alias("sa"), "sb")
        .agg(
            (
                F.sum(
                    F.floor(F.abs(F.col("z") - F.col("_zb")) * 1000000000.0)
                    .cast("long")
                ).cast("double")
                / 1000000000.0
                / 20.0
            ).alias("delta")
        )
    )


@_q(
    "truncation_budget_curve",
    f"""
    WITH t AS (
      SELECT CAST(len({_SQL_LTOKS}) AS BIGINT) AS n_tokens FROM documents),
    lad AS (SELECT unnest([16, 32, 64, 128]) AS max_len),
    c AS (
      SELECT lad.max_len,
             CAST(SUM(t.n_tokens) AS BIGINT) AS total_tokens,
             CAST(SUM(CASE WHEN t.n_tokens < lad.max_len
                           THEN t.n_tokens ELSE lad.max_len END)
                  AS BIGINT) AS kept_tokens,
             CAST(SUM(CASE WHEN t.n_tokens > lad.max_len THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truncated,
             CAST(count(*) AS BIGINT) AS n_docs
      FROM t CROSS JOIN lad GROUP BY lad.max_len)
    SELECT max_len, n_docs, n_truncated, total_tokens, kept_tokens,
           CAST(kept_tokens AS DOUBLE) / total_tokens AS kept_frac,
           CAST(n_truncated AS DOUBLE) / n_docs AS truncated_frac
    FROM c
    """,
)
def truncation_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncation cost curve: for each candidate max_seq_len, the fraction
    of corpus tokens that survives and the fraction of documents cut.

    Scale shape: one tokenizing scan, a 4-literal broadcast ladder, one
    4-row aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(X.tokens(F.lower(F.col("text")))).cast("long").alias("n_tokens")
    )
    lad = spark.createDataFrame([(16,), (32,), (64,), (128,)], "max_len int")
    c = (
        t.crossJoin(F.broadcast(lad))
        .groupBy("max_len")
        .agg(
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.least(F.col("n_tokens"), F.col("max_len").cast("long")))
            .cast("long")
            .alias("kept_tokens"),
            F.sum(
                F.when(F.col("n_tokens") > F.col("max_len"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_truncated"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    return c.select(
        "max_len",
        "n_docs",
        "n_truncated",
        "total_tokens",
        "kept_tokens",
        (F.col("kept_tokens").cast("double") / F.col("total_tokens")).alias(
            "kept_frac"
        ),
        (F.col("n_truncated").cast("double") / F.col("n_docs")).alias(
            "truncated_frac"
        ),
    )


@_q(
    "text_trigram_stupid_backoff",
    r"""
    WITH t AS (SELECT doc_id, lang,
                      list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '') AS toks
               FROM documents),
    t3 AS (SELECT doc_id, lang, toks FROM t WHERE len(toks) >= 3),
    tg0 AS (SELECT doc_id, lang, toks,
                   unnest(generate_series(1, len(toks) - 2)) AS i FROM t3),
    tg AS (SELECT doc_id, lang, toks[i] AS w1, toks[i + 1] AS w2,
                  toks[i + 2] AS w3 FROM tg0),
    train AS (SELECT * FROM tg WHERE doc_id % 2 = 1),
    score AS (SELECT * FROM tg WHERE doc_id % 2 = 0),
    c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM train GROUP BY w1, w2, w3),
    ctx2 AS (SELECT w1, w2, count(*) AS ctx2 FROM train GROUP BY w1, w2),
    b23 AS (SELECT w2, w3, count(*) AS b23 FROM train GROUP BY w2, w3),
    u2 AS (SELECT w2, count(*) AS u2 FROM train GROUP BY w2),
    u3 AS (SELECT w3, count(*) AS u3 FROM train GROUP BY w3),
    nv AS (SELECT count(*) AS n, count(DISTINCT w3) AS v FROM train),
    sc AS (SELECT s.lang,
                  CASE WHEN c3.c3 IS NOT NULL THEN 1 ELSE 0 END AS tri_hit,
                  CASE WHEN c3.c3 IS NULL AND b23.b23 IS NOT NULL
                       THEN 1 ELSE 0 END AS bi_backoff,
                  CASE WHEN c3.c3 IS NULL AND b23.b23 IS NULL
                       THEN 1 ELSE 0 END AS uni_backoff,
                  CASE
                    WHEN c3.c3 IS NOT NULL
                      THEN length(bin(ctx2.ctx2)) - length(bin(c3.c3))
                    WHEN b23.b23 IS NOT NULL
                      THEN 2 + length(bin(u2.u2)) - length(bin(b23.b23))
                    ELSE 4 + length(bin(nv.n + nv.v))
                           - length(bin(COALESCE(u3.u3, 0) + 1))
                  END AS sp
           FROM score s
           LEFT JOIN c3 ON s.w1 = c3.w1 AND s.w2 = c3.w2 AND s.w3 = c3.w3
           LEFT JOIN ctx2 ON s.w1 = ctx2.w1 AND s.w2 = ctx2.w2
           LEFT JOIN b23 ON s.w2 = b23.w2 AND s.w3 = b23.w3
           LEFT JOIN u2 ON s.w2 = u2.w2
           LEFT JOIN u3 ON s.w3 = u3.w3
           CROSS JOIN nv)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(tri_hit) AS BIGINT) AS n_tri_hits,
           CAST(SUM(bi_backoff) AS BIGINT) AS n_bi_backoffs,
           CAST(SUM(uni_backoff) AS BIGINT) AS n_uni_backoffs,
           CAST(SUM(sp) AS BIGINT) AS surprisal_sum,
           CAST(SUM(sp) * 1000000 // count(*) AS BIGINT)
             AS mean_surprisal_micro
    FROM sc GROUP BY lang
    """,
)
def text_trigram_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram LM with stupid backoff: trained on the odd-doc_id half,
    scored on the even half, backing off trigram -> bigram -> add-one
    unigram with a fixed 2-bit penalty per level, reporting per-language hit
    and backoff rates.

    Scale shape: one tokenize scan, a linear trigram explode, five
    map-side-combinable count tables over n-gram vocabularies, five keyed
    LEFT joins onto the held-out trigram stream, and one per-language
    aggregate; the (N, V) scalar is a one-row broadcast. No Python, no
    window, no cartesian."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", tokens(F.lower(F.col("text"))).alias("toks")
    ).filter(F.size("toks") >= 3)
    n = F.size("toks")
    inner = F.zip_with(
        F.slice(F.col("toks"), F.lit(2), n - 2),
        F.slice(F.col("toks"), F.lit(3), n - 2),
        lambda b, c: F.struct(b.alias("w2"), c.alias("w3")),
    )
    tri = F.zip_with(
        F.slice(F.col("toks"), F.lit(1), n - 2),
        inner,
        lambda a, s: F.struct(
            a.alias("w1"),
            s.getField("w2").alias("w2"),
            s.getField("w3").alias("w3"),
        ),
    )
    tg = d.select("doc_id", "lang", F.explode(tri).alias("t")).select(
        "doc_id", "lang", "t.w1", "t.w2", "t.w3"
    )
    train = tg.filter(F.col("doc_id") % 2 == 1)
    score = tg.filter(F.col("doc_id") % 2 == 0)
    c3 = train.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ctx2 = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("ctx2"))
    b23 = train.groupBy("w2", "w3").agg(F.count(F.lit(1)).alias("b23"))
    u2 = train.groupBy("w2").agg(F.count(F.lit(1)).alias("u2"))
    u3 = train.groupBy("w3").agg(F.count(F.lit(1)).alias("u3"))
    nv = train.agg(
        F.count(F.lit(1)).alias("n"), F.count_distinct("w3").alias("v")
    )
    bl = lambda c: F.length(F.bin(c))  # noqa: E731 — integer bit-length log2
    sp = (
        F.when(F.col("c3").isNotNull(), bl(F.col("ctx2")) - bl(F.col("c3")))
        .when(
            F.col("b23").isNotNull(),
            F.lit(2) + bl(F.col("u2")) - bl(F.col("b23")),
        )
        .otherwise(
            F.lit(4)
            + bl(F.col("n") + F.col("v"))
            - bl(F.coalesce(F.col("u3"), F.lit(0)) + 1)
        )
    )
    sc = (
        score.join(c3, ["w1", "w2", "w3"], "left")
        .join(ctx2, ["w1", "w2"], "left")
        .join(b23, ["w2", "w3"], "left")
        .join(u2, ["w2"], "left")
        .join(u3, ["w3"], "left")
        .crossJoin(F.broadcast(nv))
        .select(
            "lang",
            F.when(F.col("c3").isNotNull(), 1).otherwise(0).alias("tri_hit"),
            F.when(F.col("c3").isNull() & F.col("b23").isNotNull(), 1)
            .otherwise(0)
            .alias("bi_backoff"),
            F.when(F.col("c3").isNull() & F.col("b23").isNull(), 1)
            .otherwise(0)
            .alias("uni_backoff"),
            sp.alias("sp"),
        )
    )
    return sc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_trigrams"),
        F.sum("tri_hit").cast("long").alias("n_tri_hits"),
        F.sum("bi_backoff").cast("long").alias("n_bi_backoffs"),
        F.sum("uni_backoff").cast("long").alias("n_uni_backoffs"),
        F.sum("sp").cast("long").alias("surprisal_sum"),
        F.expr("SUM(sp) * 1000000 DIV count(*)")
        .cast("long")
        .alias("mean_surprisal_micro"),
    )


@_q(
    "curation_loo_source_impact",
    """
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(SUM(n_chars) AS BIGINT) AS sum_chars
               FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_docs) AS tn, SUM(sum_chars) AS tsum FROM s)
    SELECT source, n_docs,
           CAST(tsum * 1000000 // tn AS BIGINT) AS full_mean_micro,
           CAST((tsum - sum_chars) * 1000000 // (tn - n_docs) AS BIGINT)
             AS loo_mean_micro,
           CAST((tsum - sum_chars) * 1000000 // (tn - n_docs)
                - tsum * 1000000 // tn AS BIGINT) AS delta_micro
    FROM s CROSS JOIN tot
    """,
)
def curation_loo_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out source impact: for each source, the corpus mean n_chars
    without it and the delta, (total - source) / (n - n_source) from ONE
    aggregate.

    Scale shape: one scan collapsing to a per-source aggregate, one
    broadcast scalar pair; all-integer micro arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    tot = s.agg(
        F.sum("n_docs").alias("tn"), F.sum("sum_chars").alias("tsum")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("tsum * 1000000 DIV tn").alias("full_mean_micro"),
        F.expr("(tsum - sum_chars) * 1000000 DIV (tn - n_docs)").alias(
            "loo_mean_micro"
        ),
        F.expr(
            "(tsum - sum_chars) * 1000000 DIV (tn - n_docs)"
            " - tsum * 1000000 DIV tn"
        ).alias("delta_micro"),
    )


@_q(
    "curation_guard_audit",
    f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    bsz AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n
            FROM b GROUP BY l_orderkey),
    bt AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
           WHERE doc_id % 10 = 0),
    bs AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                              || toks[i+3] || ' ' || toks[i+4]))) AS shingle
           FROM bt WHERE len(toks) >= 5),
    sf AS (SELECT shingle, CAST(count(*) AS BIGINT) AS freq
           FROM bs GROUP BY shingle)
    SELECT 'baskets_total' AS metric, CAST(count(*) AS BIGINT) AS value FROM bsz
    UNION ALL
    SELECT 'baskets_over_cap', CAST(count(*) AS BIGINT)
    FROM bsz WHERE n > {MAX_BASKET_SIZE}
    UNION ALL
    SELECT 'max_basket_size', CAST(max(n) AS BIGINT) FROM bsz
    UNION ALL
    SELECT 'bench_shingles_distinct', CAST(count(*) AS BIGINT) FROM sf
    UNION ALL
    SELECT 'bench_boilerplate_shingles', CAST(count(*) AS BIGINT)
    FROM sf WHERE freq > 100
    UNION ALL
    SELECT 'max_bench_shingle_freq', CAST(max(freq) AS BIGINT) FROM sf
    """,
)
def curation_guard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How close the corpus sits to the skew guards: the hot-basket cap
    (graph.cap_baskets, MAX_BASKET_SIZE) and the benchmark stop-shingle cap
    (decontaminate.MAX_BENCH_FREQ).

    Scale shape: one basket-size aggregate (basket-keyed, map-side partial)
    + one benchmark-side shingle-frequency aggregate (tiny by construction);
    everything else is scalar summaries of those two."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # Each summary table feeds ONE row of scalars, so the six unionAll
    # branches (6 driver-synchronized single-row aggregate jobs over two
    # persisted tables) fuse into two chained aggregates + a stack unpivot —
    # one action, one pass over each source, no persists.
    # COUNT of a filtered table == count_if over the unfiltered one, and MAX
    # is the same aggregate, so each (metric, value) row is value-identical.
    bstats = (
        li.distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("bt"),
            F.count_if(F.col("n") > MAX_BASKET_SIZE).cast("long").alias("bo"),
            F.max("n").cast("long").alias("bm"),
        )
    )
    bench = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    sstats = (
        D.shingle_rows(bench, n=5, hashed=True)
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("sd"),
            F.count_if(F.col("freq") > 100).cast("long").alias("sb"),
            F.max("freq").cast("long").alias("sm"),
        )
    )
    return bstats.crossJoin(F.broadcast(sstats)).selectExpr(
        """stack(6,
           'baskets_total', bt,
           'baskets_over_cap', bo,
           'max_basket_size', bm,
           'bench_shingles_distinct', sd,
           'bench_boilerplate_shingles', sb,
           'max_bench_shingle_freq', sm) AS (metric, value)"""
    )


@_q(
    "mixture_lang_source_lift",
    f"""
    WITH t AS (
      SELECT source, lang,
             CAST(len({_SQL_TOKS}) AS BIGINT) AS nt
      FROM documents),
    cell AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(nt) AS BIGINT) AS n_tokens
      FROM t GROUP BY source, lang),
    per_source AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS source_tokens
      FROM cell GROUP BY source),
    per_lang AS (
      SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
      FROM cell GROUP BY lang),
    total AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM cell)
    SELECT c.source, c.lang, c.n_docs, c.n_tokens,
           c.n_tokens / s.source_tokens AS share_in_source,
           l.lang_tokens / t.total_tokens AS corpus_share,
           (c.n_tokens / s.source_tokens) / (l.lang_tokens / t.total_tokens)
             AS mixture_lift
    FROM cell c
    JOIN per_source s ON s.source = c.source
    JOIN per_lang l ON l.lang = c.lang
    CROSS JOIN total t
    """,
)
def mixture_lang_source_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixing readout: token-weighted language share within each source, the
    corpus-wide share, and the lift between them.

    Scale shape: one corpus scan to (source, lang, token_count), then a
    single keyed aggregate to the |sources|x|langs| cell table — every later
    total (per-source, per-lang, grand) derives from the CELL table, which
    is checkpointed once and broadcast into the final join (dimension-sized;
    the corpus is never re-scanned or re-shuffled). All shares are long/long
    divisions — bit-exact vs the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source", "lang", token_count("text").cast("long").alias("nt")
    )
    cell = (
        t.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
        .localCheckpoint()
    )
    per_source = cell.groupBy("source").agg(
        F.sum("n_tokens").cast("long").alias("source_tokens")
    )
    per_lang = cell.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("lang_tokens")
    )
    total = cell.agg(F.sum("n_tokens").cast("long").alias("total_tokens"))
    share = F.col("n_tokens") / F.col("source_tokens")
    cshare = F.col("lang_tokens") / F.col("total_tokens")
    out = (
        cell.join(F.broadcast(per_source), "source")
        .join(F.broadcast(per_lang), "lang")
        .join(F.broadcast(total))
        .select(
            "source",
            "lang",
            "n_docs",
            "n_tokens",
            share.alias("share_in_source"),
            cshare.alias("corpus_share"),
            (share / cshare).alias("mixture_lift"),
        )
    )
    return out


@_q(
    "pack_split_stats",
    f"""
    {_DOC_TOKENS_SQL},
    c AS (
      SELECT doc_id, lang, n_tokens,
             (sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING))::BIGINT - n_tokens AS so
      FROM t),
    p AS (
      SELECT lang, n_tokens,
             CASE WHEN n_tokens = 0 THEN 1
                  ELSE (so + n_tokens - 1) // 512 - so // 512 + 1
             END AS n_packs
      FROM c)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS packs_used,
           CAST(sum(CASE WHEN n_packs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
           CAST(sum(n_packs - 1) AS BIGINT) AS extra_spans,
           sum(CASE WHEN n_packs >= 2 THEN 1 ELSE 0 END) / count(*) AS split_rate,
           CASE WHEN sum(n_tokens) = 0 THEN 0.0
                ELSE sum(n_tokens) / (((sum(n_tokens) + 511) // 512) * 512)
           END AS fill_rate
    FROM p GROUP BY lang
    """,
)
def pack_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout audit of [[pack_sequences_by_lang]] per language: documents
    split across 512-token window boundaries, the extra spans, windows used
    and the fill rate.

    Scale shape: one scan to (lang, token_count), the same per-shard window
    cumsum the packer itself runs (one keyed shuffle), then a per-lang
    aggregate — counts and integer window ids end-to-end, so every output
    ratio is a long/long division the oracle replays bit-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", "lang", token_count("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(sized)
    agg = packed.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum(F.when(F.col("n_packs") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_split_docs"),
        F.sum(F.col("n_packs") - 1).cast("long").alias("extra_spans"),
    )
    packs_used = F.expr("(total_tokens + 511) div 512").cast("long")
    return agg.select(
        "lang",
        "n_docs",
        "total_tokens",
        packs_used.alias("packs_used"),
        "n_split_docs",
        "extra_spans",
        (F.col("n_split_docs") / F.col("n_docs")).alias("split_rate"),
        F.when(F.col("total_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.col("total_tokens") / (packs_used * 512)
        )
        .alias("fill_rate"),
    )
