"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB: every variant avoids the quadratic all-pairs join —
candidates come from equi-joins on content-derived keys (fingerprint, shingle,
LSH band bucket, SimHash band), so the only shuffles are keyed on those
buckets and the pair set is tiny relative to n².

Cross-engine determinism: all VALUE-bearing hashing is md5 (bit-identical
in Spark and DuckDB); MinHash uses *lexicographic min over md5 strings* as
the hash family so signatures are comparable strings, not platform-specific
ints.  Interior JOIN KEYS that never surface in results (the shingle
intersection kernel) use ``xxhash64`` longs instead — an 8-byte shuffle key
in place of an n-word string, invisible to any oracle because only the pair
counts leave the plan (shingle_rows ``hashed=True``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators.graph import observed_checkpoint, partitioned_local_checkpoint
from lvm_datapipe_spark.operators.text import fingerprint, tokens

# -- exact -------------------------------------------------------------------


def exact_duplicate_groups(df: DataFrame) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct content with
    the canonical (min) id and the copy count.  One shuffle keyed on the
    md5 fingerprint — uniform, unskewed, broadcast-free."""
    return (
        df.select(F.col("doc_id"), fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# -- n-gram Jaccard ----------------------------------------------------------


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    n: int = 3,
    hashed: bool = False,
) -> DataFrame:
    """DISTINCT (id, shingle) word-n-gram rows of the ``text`` column in
    fully-relational form: posexplode the tokens, window-lead the next n-1
    tokens, concat.  Equivalent output to
    exploding a higher-order array of shingles, but every expression is
    flat whole-stage codegen — the higher-order array route measured
    2-10× slower (and its cost shifts unpredictably as the optimizer
    inlines the lambda into filters/generators).

    ``hashed=True`` replaces the shingle STRING with its ``xxhash64``
    inside the same scan (VERDICT r7 item 2, the DSIR ``bucket_fn``
    precedent): every downstream dropDuplicates / groupBy / self-join
    then shuffles 8-byte longs instead of ~n-word strings — the composed
    pipeline (SCALE_BENCH §13) measured its 72 GB spill at 250k docs
    dominated by string shingle rows.  Intersection counts and sizes are
    unchanged up to 64-bit hash collisions (~(n_shingles)²/2⁶⁵ — 10⁻⁸
    territory at any realistic corpus shard); keep the string form
    (default) where shingle text must surface or an oracle replays the
    exact strings."""
    toks = df.select(F.col(id_col), F.posexplode(tokens("text")).alias("pos", "tok"))
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w).alias(f"t{j}") for j in range(1, n)]
    with_next = toks.select(F.col(id_col), *parts)
    last = f"t{n - 1}"
    shingle = F.concat_ws(" ", "tok", *[f"t{j}" for j in range(1, n)])
    if hashed:
        shingle = F.xxhash64(shingle)
    return (
        with_next.filter(F.col(last).isNotNull())
        .select(F.col(id_col), shingle.alias("shingle"))
        .dropDuplicates([id_col, "shingle"])
    )


#: stop-shingle cap of the Jaccard and containment kernels: a shingle in
#: more docs is dropped from the intersection (see ngram_jaccard_pairs)
MAX_SHINGLE_FREQ = 1000
#: pair thresholds: Jaccard for ngram_jaccard_pairs, max directional
#: containment for containment_pairs
JACCARD_THRESHOLD, CONTAINMENT_THRESHOLD = 0.6, 0.8


def hashed_shingle_rows(strows: DataFrame) -> DataFrame:
    """The hashed form of a distinct (doc_id, shingle) STRING table:
    xxhash64 then re-dedup — semantically identical to
    ``shingle_rows(hashed=True)`` even under hash collisions (hashing first
    vs after the string distinct cannot change the (id, hash) set), and the
    string table's doc-keyed partitioning makes the re-dedup
    exchange-free."""
    hashed = strows.select(F.col("doc_id"), F.xxhash64("shingle").alias("shingle"))
    return hashed.dropDuplicates(["doc_id", "shingle"])


def ngram_jaccard_pairs(df: DataFrame, shingle_rows_df: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs by word-3-gram Jaccard similarity ≥
    ``JACCARD_THRESHOLD``.

    Plan shape: explode shingles → self-equi-join on shingle → count
    intersections per pair → Jaccard from |A|,|B|,|A∩B|.  The join is keyed
    on the shingle (no cross join); ``MAX_SHINGLE_FREQ`` drops stop-shingles
    that appear in more than that many docs — at corpus scale a handful of
    ultra-common shingles would otherwise create quadratic hot keys (a
    shingle shared by 10k docs alone contributes 10k²/2 joined rows).  A
    shingle in >1000 docs is boilerplate that contributes ~nothing to a
    ≥0.6 Jaccard decision but dominates the join.  Doc sizes |A|,|B| are
    always uncapped, so for corpora where no shingle exceeds the cap the
    output is bit-identical to the exact form.
    """
    # checkpoint: the shingle rows feed the sizes branch and BOTH sides of
    # the self-join below — unmaterialized, the shingle computation runs
    # 3×.  ``shingle_rows_df`` (prebuilt distinct STRING rows shared with
    # other kernels) derives the hashed form instead of rebuilding it from
    # the corpus (hashed_shingle_rows).
    if shingle_rows_df is None:
        ex = shingle_rows(df, "doc_id", 3, hashed=True).localCheckpoint()
    else:
        ex = hashed_shingle_rows(shingle_rows_df).localCheckpoint()
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = shingle_intersections(ex, "doc_id", MAX_SHINGLE_FREQ)
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def shingle_intersections(
    ex: DataFrame,
    id_col: str = "doc_id",
    max_shingle_freq: int | None = 1000,
    restrict_pairs: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, n_common) for every unordered id pair sharing ≥1 shingle
    in the DISTINCT (id, shingle) table ``ex`` — the shared intersection
    kernel under Jaccard, containment, and overlap set-similarity forms.

    ``restrict_pairs`` (columns id_a, id_b, id_a < id_b) limits the output
    to those pairs WITHOUT changing any retained pair's count: the
    stop-shingle cap is still counted over the whole of ``ex`` first, then
    ids outside the pair set are dropped from the explode and non-listed
    pairs are dropped before the aggregate.  Callers that immediately join
    the intersections against a bounded candidate set (the MinHash
    estimator audits) pass it to avoid computing the full co-shingle pair
    table and discarding ~all of it (guide §1.2); the pair set and its id
    projection are broadcast — they are bounded by design wherever this is
    worth using."""
    rids = None
    if restrict_pairs is not None:
        rids = (
            restrict_pairs.select(F.col("id_a").alias(id_col))
            .union(restrict_pairs.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
    if max_shingle_freq is not None:
        # Capped path, ONE shuffle: group by shingle, collect the (bounded)
        # posting list, drop over-cap shingles by list size, then emit pairs
        # with a double explode.  Joined-row volume is identical to the
        # self-equi-join, but there is no shingle-frequency side computation
        # and no second shuffle of the exploded table — and the cap bounds
        # every posting list, so no collect_list can OOM a hot key.
        grouped = (
            ex.groupBy("shingle")
            .agg(F.collect_list(id_col).alias("ids"))
            .filter((F.size("ids") >= 2) & (F.size("ids") <= max_shingle_freq))
        )
        lhs = grouped.select(F.explode("ids").alias("id_a"), "ids")
        if rids is not None:
            lhs = lhs.join(
                F.broadcast(rids.select(F.col(id_col).alias("id_a"))),
                "id_a",
                "semi",
            )
        pairs = lhs.select("id_a", F.explode("ids").alias("id_b")).filter(
            F.col("id_a") < F.col("id_b")
        )
    else:
        # Exact-on-every-shingle form: shingle self-equi-join (unbounded hot
        # keys possible — callers accept the skew risk by passing None).
        a = ex.select(F.col(id_col).alias("id_a"), "shingle")
        b = ex.select(F.col(id_col).alias("id_b"), "shingle")
        if rids is not None:
            a = a.join(
                F.broadcast(rids.select(F.col(id_col).alias("id_a"))),
                "id_a",
                "semi",
            )
            b = b.join(
                F.broadcast(rids.select(F.col(id_col).alias("id_b"))),
                "id_b",
                "semi",
            )
        pairs = a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
    if restrict_pairs is not None:
        pairs = pairs.join(
            F.broadcast(restrict_pairs.select("id_a", "id_b")),
            ["id_a", "id_b"],
            "semi",
        )
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))


def containment_pairs(df: DataFrame) -> DataFrame:
    """ASYMMETRIC near-dup pairs by n-gram containment C(A in B) =
    |A∩B| / |A| ≥ ``CONTAINMENT_THRESHOLD`` — the quote/inclusion
    detector.  Jaccard misses a short doc wholly quoted inside a long one
    (the union
    denominator dilutes it); containment normalizes by the SMALLER
    side's own size, so full inclusion scores 1.0 regardless of the
    container's length.  Emits one row per unordered pair whose max
    directional containment clears the threshold, with both directions
    reported (cont_a = share of A's shingles found in B, cont_b vice
    versa).

    Plan shape: identical to :func:`ngram_jaccard_pairs` — distinct
    (id, shingle) rows, the capped posting-list intersection kernel,
    then two keyed joins against the size table.  Same stop-shingle cap
    semantics (sizes always uncapped)."""
    cached = shingle_rows(df, "doc_id", 3, hashed=True).localCheckpoint()
    sizes = cached.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = shingle_intersections(cached, "doc_id", MAX_SHINGLE_FREQ)
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("cont_a", F.col("n_common") / F.col("n_a"))
        .withColumn("cont_b", F.col("n_common") / F.col("n_b"))
        .filter(
            (F.col("cont_a") >= CONTAINMENT_THRESHOLD)
            | (F.col("cont_b") >= CONTAINMENT_THRESHOLD)
        )
        .select("id_a", "id_b", "n_common", "cont_a", "cont_b")
    )
    return out


# -- MinHash + LSH -----------------------------------------------------------


#: MinHash signature length (hash functions per document)
MINHASH_K = 16


def minhash_signatures(df: DataFrame, shingle_rows_df: DataFrame | None = None) -> DataFrame:
    """Scan-shaped MinHash: 3-gram shingle rows → ``MINHASH_K`` md5 columns
    per row (flat expressions stay in whole-stage codegen, unlike
    higher-order array lambdas which are interpreted per element) →
    groupBy(doc) with k MIN aggregates (map-side partial min, so the
    shuffle carries one row per doc per partition).  Bit-identical to a per-doc higher-order array MinHash
    but ~10× faster on wide corpora."""
    # parsed SQL text instead of per-column py4j construction (k×~5 calls)
    # — same values, a fraction of the driver-side build time (see
    # similarity.sql_fold_dot for the measurements that motivated this).
    # ``shingle_rows_df`` lets a caller running several shingle-based
    # kernels over one corpus (dedup_method_agreement) build the distinct
    # (id, shingle) rows ONCE and share them — the posexplode + doc-keyed
    # window pass is the kernels' common dominant stage.
    k = MINHASH_K
    ex = shingle_rows(df) if shingle_rows_df is None else shingle_rows_df
    hashed = ex.selectExpr(
        "doc_id",
        *[
            f"md5(CAST(concat('{i}:', shingle) AS BINARY)) AS h{i}"
            for i in range(k)
        ],
    )
    agg = hashed.groupBy("doc_id").agg(
        *[F.expr(f"min(h{i}) AS m{i}") for i in range(k)]
    )
    sig = "array(" + ",".join(f"m{i}" for i in range(k)) + ")"
    return agg.select(F.col("doc_id"), F.expr(sig).alias("sig"))


def band_buckets(sig_df: DataFrame) -> DataFrame:
    """Band a MinHash signature table into (doc_id, band, bucket) rows: 4
    bands of 4 signature slots, bucket = md5 of the band's slice.  The
    joinable form of the LSH index — feed to a self-join directly, or
    write it bucketed on (band, bucket) via plans.bucketing so REPEATED
    dedup runs skip the band shuffle."""
    bands, rows = 4, 4
    band_entries = []
    for b in range(bands):
        band_key = F.md5(
            F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows)).cast("binary")
        )
        band_entries.append(F.struct(F.lit(b).alias("band"), band_key.alias("bucket")))
    return sig_df.select(
        F.col("doc_id"), F.explode(F.array(*band_entries)).alias("bb")
    ).select("doc_id", "bb.band", "bb.bucket")


def lsh_candidate_pairs(sig_df: DataFrame, dedup_pairs: bool = True) -> DataFrame:
    """Band the signature (:func:`band_buckets`: 4 bands × 4 rows), bucket
    by md5 of each band slice, and emit distinct candidate pairs sharing any
    (band, bucket).

    This is the scale path: the shuffle key is (band, bucket); docs only meet
    if a whole band agrees, so the pair blow-up is bounded by bucket sizes,
    not n².  Probability a pair with Jaccard j becomes a candidate:
    1 - (1 - j^4)^4.

    ``dedup_pairs=False`` skips the final ``distinct`` exchange and emits
    one row per matching (band, bucket) — for consumers whose downstream
    aggregation is idempotent under duplicate pairs (bit_or/max/min per
    pair, e.g. dedup_method_agreement's membership mask) the distinct is
    pure cost (r11, guide §2.3).

    Both sides of the self-join read the band table, so it is built once,
    in the call, as an eager ``localCheckpoint``: without it the whole
    signature lineage (shingle + k×md5 + groupBy) executes twice, and a
    ``persist()`` would run its cache stage once per side (ARCHITECTURE.md
    §3).  Its blocks live until the caller's sink; session.query_scope
    frees them."""
    exploded = band_buckets(sig_df).localCheckpoint()
    a = exploded.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b_ = exploded.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    out = (
        a.join(b_, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if dedup_pairs:
        out = out.distinct()
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    shingle_rows_df: DataFrame | None = None,
    dedup_pairs: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup candidate generation (shingle → signature →
    band → bucket-join).  ``shingle_rows_df`` forwards a prebuilt distinct
    (id, shingle) table to :func:`minhash_signatures`; ``dedup_pairs``
    forwards to :func:`lsh_candidate_pairs`."""
    return lsh_candidate_pairs(
        minhash_signatures(df, shingle_rows_df), dedup_pairs
    )


def minhash_candidates(df: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(string shingle rows, MinHash signatures, LSH candidate pairs) of a
    (doc_id, text) table, each an eager checkpoint, for the estimator
    audits that read all three: the signatures are built from the shared
    shingle table (one posexplode + doc-keyed window pass over the
    corpus), and the pairs feed the estimate plus the exact side's
    semi-join restrictions."""
    strows = shingle_rows(df).localCheckpoint()
    sigs = minhash_signatures(df, shingle_rows_df=strows).localCheckpoint()
    pairs = lsh_candidate_pairs(sigs).localCheckpoint()
    return strows, sigs, pairs


# -- SimHash -----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_docs(df: DataFrame) -> DataFrame:
    """SimHash of a (doc_id, text) table as a 32-char '0'/'1' string per
    doc: bit b is 1 iff the sum over tokens of (2·bit_b(token) − 1) is
    positive, where bit_b is taken
    from the token's md5 hex digits — pure string + integer bit ops,
    identical in Spark and DuckDB (no platform integer hashing).

    Scan-shaped plan: explode tokens → md5 ONCE per token row → 8 hex-digit
    value columns → 32 SUM aggregates (all flat codegen expressions); one
    shuffle keyed on doc id with map-side partial sums.  Docs with zero
    tokens drop out (explode of an empty array).
    """
    # parsed SQL text instead of ~250 py4j Column constructions — same
    # values (integer/string ops), ~1 s less driver time per query build
    toks = df.select(F.col("doc_id"), F.explode(tokens("text")).alias("tok"))
    hashed = toks.withColumn("h", F.md5(F.col("tok").cast("binary")))
    digits = hashed.selectExpr(
        "doc_id",
        *[
            f"CAST(conv(substring(h, {d + 1}, 1), 16, 10) AS INT) AS d{d}"
            for d in range(SIMHASH_BITS // 4)
        ],
    )
    votes = digits.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((shiftright(d{b // 4}, {b % 4}) & 1) * 2 - 1) AS v{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    bits = ", ".join(
        f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)" for b in range(SIMHASH_BITS)
    )
    return votes.select(F.col("doc_id"), F.expr(f"concat({bits})").alias("simhash"))


def simhash_pairs(df: DataFrame, dedup_pairs: bool = True) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ 3.

    Scale path: split the fingerprint into 4 contiguous band slices; by
    pigeonhole, any pair within 3 < 4 differing bits shares at least one
    identical band — so candidates come from equi-joins on (band_idx,
    band_slice), never a cross join, and the result is EXACT.

    ``dedup_pairs=False`` skips the final ``distinct`` exchange (duplicate
    rows appear when a pair agrees on >1 band) — see
    :func:`lsh_candidate_pairs`; this is the biggest pair stream of
    dedup_method_agreement (~83k simhash pairs at sf0.1 vs ~256 each for
    the other two methods), so its dedup shuffle is the one worth skipping.
    """
    max_hamming, bands = 3, 4
    # checkpoint: the fingerprint table is tiny (id + 32-char string) and
    # feeds both sides of the band self-join; carry the bit-packed long so the
    # pair-level hamming is ONE bit_count(xor) instead of 32 substring
    # comparisons over millions of candidates.  Planned without AQE, its vote
    # aggregate is not coalesced to one task (measured: ARCHITECTURE.md §3)
    sh = partitioned_local_checkpoint(
        simhash_docs(df).withColumn("sh_bits", F.conv("simhash", 2, 10).cast("long"))
    )
    width = SIMHASH_BITS // bands
    band_entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("simhash", b * width + 1, width).alias("piece"),
        )
        for b in range(bands)
    ]
    ex = sh.select(
        F.col("doc_id"), F.col("sh_bits"), F.explode(F.array(*band_entries)).alias("bb")
    ).select("doc_id", "sh_bits", "bb.band", "bb.piece")
    a = ex.select(F.col("doc_id").alias("id_a"), F.col("sh_bits").alias("bits_a"), "band", "piece")
    b_ = ex.select(F.col("doc_id").alias("id_b"), F.col("sh_bits").alias("bits_b"), "band", "piece")
    # hamming BEFORE distinct: the filter is flat codegen per joined row and
    # kills >99% of candidates, so the dedup shuffle carries a few thousand
    # rows instead of millions
    out = (
        a.join(b_, ["band", "piece"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("bits_a").bitwiseXOR(F.col("bits_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
    if dedup_pairs:
        out = out.distinct()
    return out


def minhash_lsh_pairs_cross(new_df: DataFrame, corpus_df: DataFrame) -> DataFrame:
    """INCREMENTAL dedup: near-dup candidates between a NEW batch and the
    EXISTING corpus — the nightly-ingest form of MinHash-LSH.  Unlike the
    self-join (all pairs within one table), this only pays
    |new| × collisions: band the new batch, band the corpus, and
    equi-join across.  Output: (new_id, corpus_id) distinct candidates —
    feed to exact verification, then drop/keep the new docs."""
    bb_new = band_buckets(minhash_signatures(new_df))
    bb_corpus = band_buckets(minhash_signatures(corpus_df))
    out = (
        bb_new.select(F.col("doc_id").alias("new_id"), "band", "bucket")
        .join(
            bb_corpus.select(F.col("doc_id").alias("corpus_id"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("new_id", "corpus_id")
        .distinct()
    )
    return out


#: ppjoin_pairs' Jaccard threshold as the rational (t_num, t_den); read at
#: call time
PPJOIN_THRESHOLD = (9, 10)
#: widest vocabulary ppjoin_pairs verifies with one 64-bit token mask per
#: doc; wider ones take the array_intersect path.  Read at call time
PPJOIN_MASK_MAX_VOCAB = 64


def ppjoin_pairs(df: DataFrame) -> DataFrame:
    """EXACT token-set Jaccard join via PREFIX FILTERING (the AllPairs/
    PPJoin family) — the third candidate-generation strategy next to
    posting-list (ngram_jaccard_pairs) and MinHash banding, and the only
    EXACT one that still avoids indexing every token: under a global
    rarest-first token order, a doc of n distinct tokens indexes only its
    first n − ⌈t·n⌉ + 1 tokens, and any pair with Jaccard ≥ t provably
    shares an indexed token.  Rare-token prefixes make candidate buckets
    tiny exactly where posting lists are huge.

    Determinism discipline: the threshold is the RATIONAL t_num/t_den
    (``PPJOIN_THRESHOLD``) and
    every bound uses integer arithmetic — prefix length
    n − ⌈t·n⌉ + 1 = n − (t_num·n + t_den − 1) div t_den + 1, length filter
    t_den·n_b ≥ t_num·n_a (symmetric), positional bound
    min(p_a, p_b) + min(n_a − p_a, n_b − p_b) ≥ ⌈t_num·(n_a+n_b) /
    (t_num+t_den)⌉ (the "PP" — exactness-proven in tests), final test
    t_den·inter ≥ t_num·(n_a + n_b − inter) — no float ever decides
    membership, so the result is bit-portable by construction.  The
    global order is the (frequency, token) tuple itself: per-doc ranks
    need only a doc-keyed window, never a vocabulary-wide sort.

    Shuffles: token-keyed (freq join), doc-keyed (rank window), prefix-
    token-keyed (candidate join), pair-keyed (verify) — all uniform keys.

    The per-doc size `_n` rides the SAME doc-keyed window pass as the
    rank (count over the unordered partition frame) instead of a
    separate groupBy + join — one fewer shuffle.  The candidate distinct
    carries only (id_a, id_b): sizes are re-attached at verify time from
    the per-doc set representation, so the widest shuffle of the plan
    moves two ints per row instead of four.  When the corpus vocabulary
    fits in 64 bits (a size observed on the token-frequency checkpoint
    the prefix order already needs), each doc's token SET is packed into one
    64-bit mask and the verify becomes `bit_count(m_a & m_b)` — exact
    (one bit per distinct token, n = bit_count(mask)) and much cheaper
    than hashing string arrays per pair; above 64 tokens the generic
    array_intersect verify runs unchanged.  Both paths are pinned equal
    in tests; the final exact-Jaccard test decides membership either
    way, so candidate generation and verify representation never change
    the result set.
    """
    t_num, t_den = PPJOIN_THRESHOLD
    toks = df.select(
        F.col("doc_id"), F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    # read by the rank join and the mask gate's vocabulary size and collect
    freq, seen = observed_checkpoint(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_tf"))
    )
    w = Window.partitionBy("doc_id").orderBy("_tf", "tok")
    ranked = (
        toks.join(freq, "tok")
        .withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn("_r", F.row_number().over(w))
    )
    # prefix length: n - ceil(t*n) + 1, all-integer (DIV, no float path)
    prefix = ranked.filter(
        F.col("_r")
        <= F.col("_n")
        - F.expr(f"({t_num} * _n + {t_den - 1}) DIV {t_den}")
        + 1
    ).select("doc_id", "tok", "_n", F.col("_r").alias("_p"))
    a = prefix.select(
        F.col("doc_id").alias("id_a"), F.col("tok"),
        F.col("_n").alias("n_a"), F.col("_p").alias("p_a"),
    )
    b = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("tok"),
        F.col("_n").alias("n_b"), F.col("_p").alias("p_b"),
    )
    # positional filter (the "PP" in PPJoin; exactness-preserving): a pair
    # with Jaccard >= t needs overlap alpha = ceil(t*(n_a+n_b)/(1+t)), and a
    # collision at sorted ranks (p_a, p_b) bounds achievable overlap by
    # min(p_a, p_b) + min(n_a - p_a, n_b - p_b) — tokens at or before the
    # collision contribute at most min(p_a, p_b) (the collision included),
    # tokens after it at most the min remainder.  A TRUE pair satisfies the
    # bound at EVERY shared prefix token, so pruning per collision row
    # before the distinct can never drop a qualifying pair.
    alpha = F.expr(
        f"({t_num} * (n_a + n_b) + {t_num + t_den - 1}) DIV {t_num + t_den}"
    )
    cand = (
        a.join(b, "tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.lit(t_den) * F.col("n_b") >= F.lit(t_num) * F.col("n_a"))
            & (F.lit(t_den) * F.col("n_a") >= F.lit(t_num) * F.col("n_b"))
            & (
                F.least("p_a", "p_b")
                + F.least(
                    F.col("n_a") - F.col("p_a"), F.col("n_b") - F.col("p_b")
                )
                >= alpha
            )
        )
        .select("id_a", "id_b")
        .distinct()
        # materialize the candidate set (2 ints/row, bounded by the prefix
        # filter — the quantity PPJoin exists to bound): without it Spark
        # re-derives the whole prefix pipeline inside the verify joins and
        # the plan measured 5x slower at sf0.1 (48s vs 10s); a checkpoint
        # measured slower still (tests/test_build_jobs.py PERSIST_ALLOWED)
        .persist()
    )
    # Verify at PAIR granularity, not token granularity: joining candidates
    # back to the exploded token table costs |cand| x tokens-per-doc shuffled
    # rows (measured 96M rows at sf0.1 on the small-vocab corpus, where the
    # prefix filter can't prune), while attaching each side's token SET is
    # one doc-keyed join per side — auto-broadcast when the doc table is
    # small.  Set representation: 64-bit mask + popcount when the whole
    # vocabulary fits in one word (the vocabulary size is observed on the
    # frequency checkpoint the prefix order already needs), else the
    # generic string-array + array_intersect.
    if seen["n_rows"] <= PPJOIN_MASK_MAX_VOCAB:
        # token → bit as a LITERAL map: the vocabulary is metadata-sized
        # here by the gate itself (≤64 rows), so collecting it is a
        # bounded driver read — and avoids a global window for bit
        # assignment (banned plan shape).
        vocab_sorted = [
            r["tok"] for r in freq.select("tok").orderBy("tok").collect()
        ]
        bit_map = F.create_map(
            *[
                lit
                for i, t in enumerate(vocab_sorted)
                for lit in (F.lit(t), F.lit(1 << i))
            ]
        )
        masks = (
            toks.withColumn("_b", bit_map[F.col("tok")])
            .groupBy("doc_id")
            .agg(F.expr("bit_or(_b)").alias("_m"))
        )
        inter = (
            cand.join(masks.select(F.col("doc_id").alias("id_a"),
                                   F.col("_m").alias("_ma")), "id_a")
            .join(masks.select(F.col("doc_id").alias("id_b"),
                               F.col("_m").alias("_mb")), "id_b")
            .select(
                "id_a", "id_b",
                F.bit_count("_ma").cast("long").alias("n_a"),
                F.bit_count("_mb").cast("long").alias("n_b"),
                F.bit_count(F.col("_ma").bitwiseAND(F.col("_mb")))
                .cast("long").alias("inter"),
            )
        )
    else:
        tsets = df.select(
            F.col("doc_id"), F.array_distinct(tokens("text")).alias("_tset")
        )
        inter = (
            cand.join(tsets.select(F.col("doc_id").alias("id_a"),
                                   F.col("_tset").alias("_ta")), "id_a")
            .join(tsets.select(F.col("doc_id").alias("id_b"),
                               F.col("_tset").alias("_tb")), "id_b")
            .select(
                "id_a", "id_b",
                F.size("_ta").cast("long").alias("n_a"),
                F.size("_tb").cast("long").alias("n_b"),
                F.size(F.array_intersect("_ta", "_tb")).cast("long").alias("inter"),
            )
        )
    keep = F.lit(t_den) * F.col("inter") >= F.lit(t_num) * (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    )
    out = inter.filter(keep).select(
        "id_a",
        "id_b",
        (
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )
    return out
