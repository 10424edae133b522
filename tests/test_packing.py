"""Sequence packing (operators/packing.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lvm_datapipe_spark.operators import packing
from lvm_datapipe_spark.operators.packing import pack_sequences


@pytest.fixture
def ctx_len(monkeypatch):
    """Set the packed context length for one test."""
    return lambda n: monkeypatch.setattr(packing, "CTX_LEN", n)


def _sized(spark, rows, cols=("doc_id", "n_tokens")):
    """(doc_id, n_tokens) rows, all in one ``lang`` shard unless ``cols``
    names the shard."""
    df = spark.createDataFrame(rows, list(cols))
    return df if "lang" in cols else df.withColumn("lang", F.lit("en"))


def test_pack_layout_exact(spark, ctx_len):
    # stream: 100 + 100 + 300 + 600 tokens, ctx 256
    df = _sized(spark, [(1, 100), (2, 100), (3, 300), (4, 600)])
    ctx_len(256)
    out = {r.doc_id: r for r in pack_sequences(df).collect()}
    assert (out[1].start_offset, out[1].pack_id, out[1].pack_offset, out[1].n_packs) == (0, 0, 0, 1)
    assert (out[2].start_offset, out[2].pack_id, out[2].pack_offset, out[2].n_packs) == (100, 0, 100, 1)
    # doc 3: tokens 200..499 → spans packs 0 and 1
    assert (out[3].start_offset, out[3].pack_id, out[3].n_packs) == (200, 0, 2)
    # doc 4: tokens 500..1099 → packs 1..4
    assert (out[4].start_offset, out[4].pack_id, out[4].n_packs) == (500, 1, 4)


def test_pack_sharded_independent_streams(spark, ctx_len):
    df = _sized(
        spark,
        [(1, "a", 100), (2, "a", 100), (3, "b", 100)],
        cols=("doc_id", "lang", "n_tokens"),
    )
    ctx_len(128)
    out = {r.doc_id: r for r in pack_sequences(df).collect()}
    assert out[3].start_offset == 0  # shard b starts its own stream
    assert out[2].start_offset == 100


def test_zero_token_doc(spark, ctx_len):
    df = _sized(spark, [(1, 0), (2, 50)])
    ctx_len(64)
    out = {r.doc_id: r for r in pack_sequences(df).collect()}
    assert out[1].n_packs == 1 and out[1].start_offset == 0
    assert out[2].start_offset == 0  # empty doc consumes no stream space


def _window_tokens(packed, ctx_len):
    """Tokens landing in each window, from each doc's span over the windows
    ``pack_id .. pack_id + n_packs - 1`` it claims."""
    tokens = {}
    for r in packed.collect():
        start, end = r.start_offset, r.start_offset + r.n_tokens
        for w in range(r.pack_id, r.pack_id + r.n_packs):
            inside = min(end, (w + 1) * ctx_len) - max(start, w * ctx_len)
            tokens[w] = tokens.get(w, 0) + inside
    return tokens


def test_utilization_full_windows(spark, ctx_len):
    df = _sized(spark, [(1, 100), (2, 100), (3, 300), (4, 524)])  # total 1024 = 4x256
    ctx_len(256)
    packed = pack_sequences(df)
    # the stream exactly fills every window
    assert _window_tokens(packed, 256) == {0: 256, 1: 256, 2: 256, 3: 256}


def test_utilization_partial_tail(spark, ctx_len):
    df = _sized(spark, [(1, 300)])
    ctx_len(256)
    packed = pack_sequences(df)
    assert _window_tokens(packed, 256) == {0: 256, 1: 44}


def test_deterministic_under_repartition(spark):
    rows = [(i, (i * 37) % 91 + 1) for i in range(200)]
    df = _sized(spark, rows)
    a = {(r.doc_id, r.pack_id, r.pack_offset) for r in pack_sequences(df).collect()}
    b = {
        (r.doc_id, r.pack_id, r.pack_offset)
        for r in pack_sequences(df.repartition(13)).collect()
    }
    assert a == b
