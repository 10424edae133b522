"""BPE learning vs a pure-python reference model (Sennrich-style)."""

from collections import Counter

from lvm_datapipe_spark.operators import bpe
from lvm_datapipe_spark.operators.bpe import (
    END,
    learn_bpe_merges,
    word_symbol_table,
)
from lvm_datapipe_spark.session import jobs_of

CORPUS = [
    "low low low low low",
    "lower lower newest newest",
    "newest newest newest newest",
    "wide wide wider widest",
]


def _model_learn(texts, n_merges):
    vocab = Counter()
    for t in texts:
        for w in t.split():
            vocab[w] += 1
    words = {w: list(w) + [END] for w in vocab}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, sym in words.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += vocab[w]
        if not pairs:
            break
        # count desc, then lexicographic — the operator's tie-break
        (lft, rgt), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if n < 2:
            break
        merges.append((lft, rgt))
        for w, sym in words.items():
            res, i = [], 0
            while i < len(sym):
                if i < len(sym) - 1 and sym[i] == lft and sym[i + 1] == rgt:
                    res.append(lft + rgt)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            words[w] = res
    return merges, words


def test_learn_matches_python_model(spark):
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    got_merges, got_words = learn_bpe_merges(df, n_merges=12)
    want_merges, want_words = _model_learn(CORPUS, 12)
    assert got_merges == want_merges
    got_tbl = {r["word"]: list(r["sym"]) for r in got_words.collect()}
    assert got_tbl == want_words


def test_learn_stops_on_hapax_pairs(spark):
    df = spark.createDataFrame([("a b c d",)], ["text"])
    merges, _ = learn_bpe_merges(df, n_merges=10)
    assert merges == []  # every pair occurs once — nothing to learn


def test_word_symbol_table_weights(spark):
    df = spark.createDataFrame([("ab ab ba",)], ["text"])
    rows = {r["word"]: (r["weight"], list(r["sym"]))
            for r in word_symbol_table(df).collect()}
    assert rows == {"ab": (2, ["a", "b", END]), "ba": (1, ["b", "a", END])}


def test_local_and_distributed_paths_identical(spark, monkeypatch):
    # the threshold only moves WHERE the loop runs, never what it learns:
    # force the distributed per-round path (threshold 0) and compare with
    # the driver-local fast path (default threshold) merge-for-merge
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    m_local, w_local = learn_bpe_merges(df, n_merges=12)
    monkeypatch.setattr(bpe, "LOCAL_FIT_THRESHOLD", 0)
    m_dist, w_dist = learn_bpe_merges(df, n_merges=12)
    assert m_local == m_dist
    tbl_local = {r["word"]: (r["weight"], list(r["sym"])) for r in w_local.collect()}
    tbl_dist = {r["word"]: (r["weight"], list(r["sym"])) for r in w_dist.collect()}
    assert tbl_local == tbl_dist


def test_local_fit_job_count_is_bounded(spark):
    # VERDICT r5 item 5: a fit whose word table fits under the threshold
    # must cost O(1) Spark jobs (scan/checkpoint + one guarded collect),
    # NOT O(n_merges) — 12 merges here would mean >= 24 jobs on the
    # distributed path
    df = spark.createDataFrame([(t,) for t in CORPUS], ["text"])
    (merges, _), jobs = jobs_of(spark, lambda: learn_bpe_merges(df, n_merges=12))
    assert len(merges) >= 8  # the loop genuinely ran many rounds
    assert 0 < jobs <= 3, jobs
