"""Unit tests for the text-analysis operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import text as X


def test_tokens_handle_whitespace(spark):
    df = spark.createDataFrame([("  a  b\tc  ",), ("",)], ["text"])
    out = [r.t for r in df.select(X.tokens("text").alias("t")).collect()]
    assert out[0] == ["a", "b", "c"]
    assert out[1] == []


def test_token_count(spark):
    df = spark.createDataFrame([("one two three",)], ["text"])
    assert df.select(X.token_count("text").alias("n")).first().n == 3


def test_word_ngrams_short_doc_is_empty(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], ["text"])
    out = [r.g for r in df.select(X.word_ngrams(X.tokens("text")).alias("g")).collect()]
    assert out[0] == []  # shorter than n -> no downward-counting sequence bug
    assert out[1] == ["a b c", "b c d"]


def test_fingerprint_invariants(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("HELLO\tWORLD",)], ["text"]
    )
    fps = [r.f for r in df.select(X.fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[1] == fps[2]
    assert len(fps[0]) == 32


def test_quality_features(spark):
    df = spark.createDataFrame([(1, "the cat sat. the dog ran!")], ["doc_id", "text"])
    row = X.quality_features(df).first()
    assert row.n_tokens == 6
    assert row.n_punct == 2  # '.' and '!'
    assert row.stopword_ratio == 2 / 6  # two 'the'
    assert 0.0 <= row.quality_score <= 1.0


def test_language_id_votes(spark):
    rows = [
        (1, "the cat and the dog of the house is here"),
        (2, "le chat et la maison les une"),
        (3, "der hund und die katze das ist"),
        (4, "xyz qrs tuv"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.predicted_lang for r in X.language_id(df).collect()}
    assert out == {1: "en", 2: "fr", 3: "de", 4: "und"}


def test_language_id_tiebreak_priority(spark):
    # 'a' is an en stopword; 'le' fr: one hit each -> en wins by priority
    df = spark.createDataFrame([(1, "a le")], ["doc_id", "text"])
    assert X.language_id(df).first().predicted_lang == "en"


def test_repetition_features_exact(spark):
    from lvm_datapipe_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigrams: ab,ba,ab,ba,ab -> top 'a b'=3/5
            (2, "w x y z"),            # all unique
            (3, "solo"),               # < 2 tokens: dropped
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in repetition_features(docs).collect()}
    assert set(rows) == {1, 2}
    r1 = rows[1]
    assert r1.words_total == 6
    assert abs(r1.word_rep_ratio - (1 - 2 / 6)) < 1e-12
    assert abs(r1.top_ngram_frac - 3 / 5) < 1e-12
    assert abs(r1.dup_ngram_frac - 1.0) < 1e-12  # every bigram repeats
    r2 = rows[2]
    assert r2.word_rep_ratio == 0.0
    assert r2.dup_ngram_frac == 0.0


def test_scrub_text(spark):
    from lvm_datapipe_spark.operators.text import scrub_text

    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@example.co.uk please",),
            ("link https://a.example.com/x?u=a@b.cd trailing",),
            ("call +1 (415) 555-0199 now",),
            ("no pii here at all",),
        ],
        ["t"],
    )
    out = [r.o for r in df.select(scrub_text("t").alias("o")).collect()]
    assert out[0] == "mail <EMAIL> please"
    # email inside the URL is swallowed by the URL placeholder (order contract)
    assert out[1] == "link <URL> trailing"
    assert out[2] == "call <PHONE> now"
    assert out[3] == "no pii here at all"


def test_normalize_text_idempotent_and_engine_shape(spark):
    """normalize(normalize(x)) == normalize(x), and the output alphabet is
    exactly [a-z0-9 ] single-spaced."""
    import re

    from lvm_datapipe_spark.operators.text import normalize_text

    rows = [
        ("A  B\t\nC!!",),
        ("  MiXeD 42 ca$es  ",),
        ("",),
        ("....",),
        ("é ü ñ",),  # non-ascii strips entirely
    ]
    df = spark.createDataFrame(rows, ["text"])
    once = df.select(normalize_text().alias("n1"))
    twice = once.select(once.n1.alias("text")).select(normalize_text().alias("n2"))
    for a, b in zip(once.collect(), twice.collect()):
        assert a.n1 == b.n2
        assert re.fullmatch(r"([a-z0-9]+( [a-z0-9]+)*)?", a.n1), repr(a.n1)
