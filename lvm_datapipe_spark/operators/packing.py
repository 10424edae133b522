"""Sequence packing: assign documents to fixed-size training windows.

Language-model training consumes fixed-length token windows (e.g. 4096
tokens), not documents.  The standard streaming pack — concatenate
documents in a deterministic order into one token stream, then cut the
stream every ``CTX_LEN`` tokens — is a pure prefix-sum computation, which
makes it exact, order-independent-reproducible, and window-function-shaped
(no sequential driver loop, unlike first-fit bin packing, which is
inherently serial and gains ~nothing in padding efficiency at web scale).

Per document this emits:

- ``start_offset``: the document's first token's position in the stream;
- ``pack_id``: the window containing that first token;
- ``n_packs``: how many windows the document spans (≥ 2 when it crosses a
  boundary — consumers either split the doc across windows or re-pad,
  both decisions derivable from these columns);
- ``pack_offset``: position within its first window.

Scale shape: one window cumsum per shard.  A single global ordering would
serialize on one partition at 100 TB, so packing is per language shard
(``lang``): each shard's stream is independent, the window partitions by
shard, and shards pack in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


#: packed context length: the token stream is cut every CTX_LEN tokens
CTX_LEN = 512


def pack_sequences(df: DataFrame) -> DataFrame:
    """Streaming concat-and-chunk packing: documents ordered by ``doc_id``
    within each ``lang`` are laid head-to-tail, ``n_tokens`` each, in a
    token stream cut every ``CTX_LEN`` tokens.  Deterministic given the
    ordering columns — exactly replayable as a SQL window query."""
    ctx_len = CTX_LEN
    w = Window.partitionBy("lang").orderBy("doc_id")
    cum = F.sum(F.col("n_tokens")).over(w)
    out = df.withColumn("start_offset", cum - F.col("n_tokens"))
    return (
        out.withColumn(
            "pack_id", F.floor(F.col("start_offset") / ctx_len).cast("long")
        )
        .withColumn(
            "pack_offset", (F.col("start_offset") % ctx_len).cast("long")
        )
        .withColumn(
            "n_packs",
            F.when(
                F.col("n_tokens") == 0, F.lit(1)
            ).otherwise(
                F.floor(
                    (F.col("start_offset") + F.col("n_tokens") - 1) / ctx_len
                ).cast("long")
                - F.col("pack_id")
                + 1
            ),
        )
    )
