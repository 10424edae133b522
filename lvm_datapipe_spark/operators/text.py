"""Text-analysis operators for large-scale training-data pipelines:
tokenization, quality scoring, language ID, fingerprinting.

These extend the reference's text surface (caption cleanup C5, regex word
extraction C7 — SURVEY.md §2.7) with the operators an LLM-data pipeline needs
over a ``documents(doc_id, text, ...)`` table.  Everything here is native
Column expressions — whole-stage codegen, no Python in the hot path — and has
a deterministic DuckDB-SQL twin for the oracle gate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization with empty tokens dropped (robust to leading/
    trailing/repeated whitespace)."""
    return F.filter(F.split(_c(text), r"\s+"), lambda t: t != "")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def normalize_whitespace(text: Column | str) -> Column:
    return F.trim(F.regexp_replace(_c(text), r"\s+", " "))


def normalize_text() -> Column:
    """Canonical pre-tokenization normalization of ``text``: lowercase, strip everything
    outside ``[a-z0-9]``+whitespace (ASCII normalization — the corpora this
    engine targets are pre-transliterated; widen the class for unicode
    pipelines), collapse whitespace runs, trim.  Explicit whitespace class
    (not ``\\s``) because Java and RE2 disagree on ``\\x0b``; this chain is
    engine-portable and oracle-checked."""
    t = F.lower(_c("text"))
    t = F.regexp_replace(t, "[^a-z0-9 \t\n\r\f]", "")
    return F.trim(F.regexp_replace(t, "[ \t\n\r\f]+", " "))


def token_frequencies(df: DataFrame) -> DataFrame:
    """Corpus token frequency table ``(token, n)`` — the exact heavy-hitters
    base (vocabulary building, stopword discovery, Zipf diagnostics).

    Scale shape: explode is a narrow per-row flatMap; the single shuffle is
    the token-keyed partial-aggregated count.  Natural-language token
    frequencies are Zipfian, but a SUM over a hot key is exactly what
    map-side partial aggregation absorbs — each map task emits one partial
    row per distinct token, so the reduce side sees at most
    #partitions rows for "the"."""
    toks = tokens(F.lower(_c("text")))
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def vocab_stats(df: DataFrame) -> DataFrame:
    """One-row corpus vocabulary summary: total tokens, distinct tokens
    (vocabulary size), and type-token ratio.  Composed from the frequency
    table so the shuffle is shared with heavy-hitter queries."""
    freq = token_frequencies(df)
    return freq.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab_size"),
        (F.count(F.lit(1)) / F.sum("n")).alias("type_token_ratio"),
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 over the lower-cased, whitespace-normalized
    text.  md5 is bit-identical across engines (unlike xxhash64/builtin
    ``hash``), which makes exact-dup groups oracle-checkable."""
    return F.md5(F.lower(normalize_whitespace(text)).cast("binary"))


def word_ngrams(toks: Column) -> Column:
    """Distinct word 3-gram shingles from a token array.  Guarded so arrays
    shorter than 3 yield [] (Spark's ``sequence(1, 0)`` would count DOWN,
    not produce an empty array).

    Built from ``element_at`` lookups, NOT ``slice`` — slice materializes a
    new sub-array per shingle and measured ~4× slower through the
    interpreted higher-order transform."""
    n = 3
    count = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(count >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams_all(toks: Column) -> Column:
    """All word 2-grams WITH duplicates (unlike :func:`word_ngrams`, which
    is distinct-shingle-oriented) — the counting form repetition metrics
    need.  Same element_at construction and short-array guard."""
    n = 2
    count = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(count >= 1, grams).otherwise(F.array().cast("array<string>"))


def repetition_features(df: DataFrame) -> DataFrame:
    """Repetition-based quality signals per document — the filters a
    web-scale corpus clean applies before training (boilerplate, SEO spam,
    and template pages are dominated by repeated words/n-grams):

    - ``word_rep_ratio``: 1 − distinct/total words (how much of the doc is
      re-used vocabulary);
    - ``top_ngram_frac``: occurrences of the single most frequent word
      n-gram over all n-gram occurrences;
    - ``dup_ngram_frac``: fraction of n-gram occurrences whose n-gram
      appears more than once.

    Plan shape: word-level stats are row-local (whole-stage codegen); the
    n-gram frequencies need one shuffle keyed on (doc, gram) with map-side
    partial counts, then a per-doc rollup — both partition cleanly by doc at
    any corpus size (no global hot key: a doc's grams land together).
    Docs shorter than 2 tokens are dropped (no n-grams to measure).
    """
    base = df.select(F.col("doc_id"), tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    sizes = base.select(
        "doc_id",
        F.size("toks").alias("words_total"),
        F.size(F.array_distinct("toks")).alias("words_distinct"),
    )
    grams = base.select(
        F.col("doc_id"), F.explode(word_ngrams_all(F.col("toks"))).alias("gram")
    )
    gc = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    agg = gc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.sum("c").alias("total_g"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))).alias("dup_g"),
    )
    return sizes.join(agg, "doc_id").select(
        "doc_id",
        "words_total",
        (F.lit(1.0) - F.col("words_distinct") / F.col("words_total")).alias(
            "word_rep_ratio"
        ),
        (F.col("top_c") / F.col("total_g")).alias("top_ngram_frac"),
        (F.col("dup_g") / F.col("total_g")).alias("dup_ngram_frac"),
    )


# PII / link scrubbing — heuristic patterns restricted to the regex subset
# with identical semantics in Java regex (Spark) and RE2 (DuckDB), so the
# scrub is oracle-checkable.  Order matters and is part of the contract:
# URLs first (an email-looking token inside a URL is part of the URL), then
# emails, then phone-like digit runs.
SCRUB_PATTERNS: list[tuple[str, str, str]] = [
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9][0-9()\-\s]{6,}[0-9]", "<PHONE>"),
]


def scrub_text(text: Column | str) -> Column:
    """Redact URLs, emails, and phone-like digit runs with typed
    placeholders — the pre-training hygiene pass every web corpus gets
    before the text reaches a model.  A chain of native ``regexp_replace``
    calls: whole-stage codegen, no Python, deterministic."""
    c = _c(text)
    for _, pat, repl in SCRUB_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


PUNCT_CLASS = "[^.!?,;:]"

# tiny deterministic stopword sets per language (n-gram-heuristic lang-ID);
# ASCII-only so tokenization is identical across engines
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "fr": ["le", "la", "les", "et", "une"],
    "es": ["el", "los", "y", "que", "una"],
    "de": ["der", "die", "das", "und", "ist"],
}
LANG_PRIORITY = ["en", "fr", "es", "de"]  # deterministic argmax tie-break


def punct_count() -> Column:
    return F.length(F.regexp_replace(_c("text"), PUNCT_CLASS, ""))


def _token_lang_counts(df: DataFrame) -> DataFrame:
    """Row-shaped shared pipeline for quality/lang-ID over ``(doc_id,
    text)``: posexplode tokens → one pass of conditional counts per doc
    (flat codegen — the array-lambda route is interpreted per element, see
    ARCHITECTURE §3).  Docs with zero tokens are preserved via left join
    with zero-filled counts."""
    toks = df.select(
        F.col("doc_id"), F.explode_outer(tokens("text")).alias("tok")
    ).withColumn("ltok", F.lower("tok"))
    aggs = [F.count("tok").alias("n_tokens")] + [
        F.count(F.when(F.col("ltok").isin(ws), 1)).alias(f"hits_{lang}")
        for lang, ws in LANG_STOPWORDS.items()
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def quality_features(df: DataFrame) -> DataFrame:
    """Per-document quality features + a composite score in [0, 1]:
    ``min(1, n_tokens/100) * (1 - punct_ratio) * (1 - stopword_ratio/2)``.
    Mirrors the reference's filter-hook idea (F8, ``macvid.py:90`` "add
    whatever condition for filtering") with concrete, deterministic metrics.
    """
    counts = _token_lang_counts(df)
    base = df.select(
        F.col("doc_id"),
        F.length(F.col("text")).alias("n_chars_actual"),
        punct_count().alias("n_punct"),
    )
    j = base.join(counts, "doc_id")
    n_tok = F.col("n_tokens").cast("int")
    n_char = F.col("n_chars_actual")
    n_punct = F.col("n_punct")
    n_stop = F.col("hits_en").cast("int")
    punct_ratio = F.when(n_char > 0, n_punct / n_char).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    score = (
        F.least(F.lit(1.0), n_tok / F.lit(100.0))
        * (F.lit(1.0) - punct_ratio)
        * (F.lit(1.0) - stop_ratio / F.lit(2.0))
    )
    return j.select(
        F.col("doc_id"),
        n_char.alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        n_punct.alias("n_punct"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """Stopword-vote language ID: count hits per language's marker set, pick
    the argmax with a fixed priority-order tie-break (LANG_PRIORITY); 'und'
    when no set scores > 0."""
    counts = _token_lang_counts(df)
    hit_cols = {lang: F.col(f"hits_{lang}").cast("int") for lang in LANG_STOPWORDS}
    best = F.greatest(*hit_cols.values())
    pred = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        pred = F.when((best > 0) & (hit_cols[lang] == best), F.lit(lang)).otherwise(pred)
    return counts.select(
        F.col("doc_id"),
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in LANG_PRIORITY],
        pred.alias("predicted_lang"),
    )


def fingerprint_docs(df: DataFrame) -> DataFrame:
    return df.select(F.col("doc_id"), fingerprint("text").alias("fingerprint"))


def bigram_lm_surprisal(df: DataFrame) -> DataFrame:
    """Per-document corpus-LM surprisal — the scoring core of a CCNet-style
    perplexity filter (Wenzek et al. 2019, arXiv:1911.00359): train an add-one
    bigram LM on the corpus itself, score each document by its mean per-token
    surprisal, so downstream tertile bucketing can keep the fluent "head".

    The per-bigram surprisal is the INTEGER bit-length log2
    ``length(bin(prefix_count + V)) - length(bin(bigram_count + 1))`` —
    i.e. ``floor(log2(denominator)) - floor(log2(numerator))`` up to the +1
    offsets — because libm ``log``/``log2`` are NOT bit-identical across
    engines (measured: 144/290 ULP mismatches vs DuckDB) while integer bit
    lengths are exact everywhere.  A production deploy swaps the true float
    ``-log2((cb+1)/(cp+V))`` (or broadcast KenLM scores) into the same plan;
    only this one projection expression changes.

    Plan shape (scales to 100 TB): one tokenize scan → bigram explode (linear
    fan-out, ~n_tokens rows per doc, the unavoidable cost of any distributed
    LM scoring) → two map-side-partial count aggregates over zipf-bounded
    vocab tables → two keyed joins bringing counts back to the bigram stream
    (shuffle keys: (w1,w2) and w1 — bucket the corpus by bigram hash to
    co-locate them) → one per-doc aggregate.  The vocab-size scalar V is a
    single-row broadcast.  No Python, no window, no cartesian.

    r11 NEGATIVE (SCALE_BENCH §21c): a two-pass rework persisted the
    (w1, w2) count table and derived cp/vocab from it by exact identities
    (cp(w1) = Σ_w2 cb; vocab = distinct(w1 ∪ w2)).  It measured slightly
    ahead at sf0.1 but LOST the n-scaled A/B in BOTH corpus regimes
    (heavy-tail 29.8 vs 13.3 s at 150k docs; Heaps-bounded 15.9 vs 10.4 s
    at 80k docs): the count table is NOT small relative to the stream
    (types grow with the corpus), so its cache materialization + the
    low-parallelism cached read feeding the scoring join cost more than
    the two map-side-cheap corpus scans they replaced.  REVERTED; the
    four-pass shape below is the measured scale optimum.

    Returns one row per document with >= 2 tokens:
    ``(id_col, *carry_cols, n_bigrams, surprisal_sum)`` — all integers, so
    every downstream comparison is exact on any engine.
    """
    carry_cols = ("lang",)
    toks = tokens(F.lower(_c("text")))
    d = df.select("doc_id", *carry_cols, toks.alias("toks")).filter(F.size("toks") >= 2)
    pairs = F.zip_with(
        F.slice(F.col("toks"), F.lit(1), F.size("toks") - 1),
        F.slice(F.col("toks"), F.lit(2), F.size("toks") - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = d.select("doc_id", *carry_cols, F.explode(pairs).alias("p")).select(
        "doc_id", *carry_cols, "p.w1", "p.w2"
    )
    # (deliberately NOT persisted: measured neutral at sf0.1 — the count
    # aggregates are map-side cheap and the cost lives in the two keyed
    # scoring joins, so materializing the corpus-sized bigram stream buys
    # nothing and costs storage churn at scale)
    cb = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    cp = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("cp"))
    vocab = d.select(F.explode("toks").alias("tok")).agg(
        F.count_distinct("tok").alias("vsz")
    )
    surprisal = F.length(F.bin(F.col("cp") + F.col("vsz"))) - F.length(
        F.bin(F.col("cb") + F.lit(1))
    )
    s = (
        bg.join(cb, ["w1", "w2"])
        .join(cp, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn("surprisal", surprisal)
    )
    return s.groupBy("doc_id", *carry_cols).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("surprisal").cast("bigint").alias("surprisal_sum"),
    )


#: Gopher's mandatory-stopword set (Rae et al. 2021, arXiv:2112.11446 A1.1):
#: a document must contain at least 2 of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

#: line-leading bullet markers for the bullet-line rule
GOPHER_BULLETS = ["- ", "* ", "• "]


def gopher_quality_flags(df: DataFrame) -> DataFrame:
    """Gopher's document-quality rule battery (Rae et al. 2021,
    arXiv:2112.11446, Appendix A1.1 — the filter set RefinedWeb/Dolma/
    FineWeb inherit), one boolean per rule plus the conjunction:

    - ``word_count_ok``    : 50 <= n_words <= 100_000
    - ``mean_word_len_ok`` : mean word length in [3, 10]
    - ``symbol_ratio_ok``  : (# '#' chars + # '...' runs) / n_words <= 0.1
    - ``bullet_lines_ok``  : < 90% of lines start with a bullet marker
    - ``ellipsis_lines_ok``: <= 30% of lines end with '...'
    - ``alpha_word_ok``    : >= 80% of words contain an alphabetic char
    - ``stopword_ok``      : contains >= 2 of GOPHER_STOPWORDS
    - ``keep``             : all of the above

    Every threshold is evaluated as an exact INTEGER cross-multiplication
    (``10 * symbols <= n_words`` instead of ``symbols / n_words <= 0.1``):
    no division, no floats, so the flags are bit-portable to any engine and
    the whole battery is one scan-shaped projection — at 100 TB the filter
    costs a map pass, nothing else.  Rules are flags, not a silent filter:
    downstream picks ``keep`` or re-weights individual rules.
    """
    t = _c("text")
    toks = tokens(F.lower(t))
    lines = F.split(t, "\n")
    n_words = F.size(toks)
    sum_word_len = F.aggregate(
        toks, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_lines = F.size(lines)
    is_bullet = lambda l: reduce(  # noqa: E731
        lambda a, b: a | b, [l.startswith(m) for m in GOPHER_BULLETS]
    )
    n_bullet = F.size(F.filter(lines, is_bullet))
    n_ell_end = F.size(F.filter(lines, lambda l: l.endswith("...")))
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
    n_stop = reduce(
        lambda a, b: a + b,
        [F.array_contains(toks, w).cast("int") for w in GOPHER_STOPWORDS],
    )
    flags = {
        "word_count_ok": (n_words >= 50) & (n_words <= 100_000),
        "mean_word_len_ok": (F.lit(3) * n_words <= sum_word_len)
        & (sum_word_len <= F.lit(10) * n_words),
        "symbol_ratio_ok": F.lit(10) * (n_hash + n_ellipsis.cast("long"))
        <= n_words.cast("long"),
        "bullet_lines_ok": F.lit(10) * n_bullet < F.lit(9) * n_lines,
        "ellipsis_lines_ok": F.lit(10) * n_ell_end <= F.lit(3) * n_lines,
        "alpha_word_ok": F.lit(5) * n_alpha >= F.lit(4) * n_words,
        "stopword_ok": n_stop >= 2,
    }
    keep = reduce(lambda a, b: a & b, flags.values())
    return df.select(
        F.col("doc_id"),
        n_words.alias("n_words"),
        *[c.alias(n) for n, c in flags.items()],
        keep.alias("keep"),
    )


#: skipgram_pairs' context window: pairs within ±SKIPGRAM_WINDOW positions
SKIPGRAM_WINDOW = 2


def skipgram_pairs(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Skip-gram (center, context) co-occurrence counts — the word2vec
    training-pair shaping stage, and the raw counts behind token PMI.

    Returns ``(center, context, cnt)`` for every ordered pair within
    ``±SKIPGRAM_WINDOW`` positions that occurs at least ``min_count`` times.

    Scale shape: NO positional self-join (which would be dl² pairs per
    document filtered after the fact).  Each token position fans out to
    exactly ``2*SKIPGRAM_WINDOW`` candidate offsets via a literal offset array;
    out-of-range offsets are dropped by an explicit bounds filter BEFORE
    the array lookups (and the 0-based ``F.get`` returns NULL rather than
    raising if an engine ever reorders the projection).  The only shuffle
    is the (center, context) count with map-side partials, and the
    ``min_count`` floor is applied IN the aggregate (HAVING) so sub-floor
    pairs never leave the exchange."""
    window = SKIPGRAM_WINDOW
    offsets = [d for d in range(-window, window + 1) if d != 0]
    t = docs.select("doc_id", tokens(F.lower(_c("text"))).alias("toks"))
    # two generators are not allowed in one Project; chain two selects
    ex = t.select(
        "toks", F.explode(F.sequence(F.lit(1), F.size("toks"))).alias("i")
    ).select(
        "toks", "i", F.explode(F.array(*[F.lit(d) for d in offsets])).alias("d")
    )
    j = F.col("i") + F.col("d")
    pairs = ex.filter((j >= 1) & (j <= F.size("toks"))).select(
        F.get("toks", F.col("i") - 1).alias("center"),
        F.get("toks", j - 1).alias("context"),
    )
    return (
        pairs.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
    )


#: feature-hashing width and salt: tokens hash to buckets [0, HASH_DIM)
HASH_DIM, HASH_SALT = 64, "feat"


def hashed_features(docs: DataFrame) -> DataFrame:
    """Feature hashing (the hashing trick, Weinberger et al. 2009): each
    token maps to a bucket in [0, HASH_DIM) with a ±1 sign, per-doc bucket
    weights are the signed counts, L2-normalized — the fastText-style
    bag-of-words featurizer that needs NO vocabulary table, so it is a
    pure scan at any corpus size.

    Returns the sparse form ``(doc_id, bucket, weight)`` with zero-weight
    buckets dropped.  Everything is exact integer arithmetic (signed
    counts, then a sum of squared BIGINTs for the norm) until one final
    sqrt + divide — bit-identical across engines by construction.

    Scale shape: one md5 per token (scan), one (doc, bucket) signed-count
    shuffle (key fan-in bounded by HASH_DIM per doc), one doc-keyed norm
    aggregate joined back; no vocabulary build, no broadcast state."""
    w = hashed_counts(docs)
    norm = w.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("long").alias("norm2")
    )
    return w.join(norm, "doc_id").select(
        "doc_id",
        "bucket",
        (F.col("w").cast("double") / F.sqrt(F.col("norm2").cast("double"))).alias(
            "weight"
        ),
    )


def hashed_counts(docs: DataFrame) -> DataFrame:
    """The exact-integer core of :func:`hashed_features`: per-doc SIGNED
    bucket counts ``(doc_id, bucket, w)`` of the ``text`` tokens, with zero
    buckets dropped.
    Kept integer so downstream dot products stay exact BIGINT arithmetic
    (see queries.sparse_cosine_topk) — normalization is one float
    expression applied at the very end, never inside an aggregate."""
    from lvm_datapipe_spark.operators.sampling import hash_bucket

    tok = docs.select(
        "doc_id", F.explode(tokens(F.lower(_c("text")))).alias("token")
    )
    h = F.md5(F.concat(F.lit(HASH_SALT), F.col("token").cast("string")).cast("binary"))
    sign = F.lit(1) - F.lit(2) * (
        F.conv(F.substring(h, 9, 1), 16, 10).cast("bigint") % 2
    )
    return (
        tok.select(
            "doc_id",
            hash_bucket("token", HASH_DIM, HASH_SALT).alias("bucket"),
            sign.alias("sign"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("long").alias("w"))
        .filter(F.col("w") != 0)
    )
