"""Sequence packing: assemble documents into fixed-size training windows.

The operation every LLM training-data pipeline runs last: given documents
with token counts, lay them out into context windows of ``capacity``
tokens.  Two standard layouts, both deterministic and both verifiable
value-for-value against a DuckDB oracle:

- :func:`chunk_pack` — the GPT-style *concatenate-then-chunk* layout.
  Documents are concatenated in a deterministic order and the stream is
  cut every ``capacity`` tokens; a document may straddle a window
  boundary.  Pure window functions (one shuffle on the pack bucket),
  whole-stage-codegen all the way.

- :func:`greedy_pack` — *greedy next-fit* bin packing.  Documents are
  visited in deterministic order; a document that would overflow the
  current window closes it and opens a new one (documents never
  straddle; windows waste the tail).  Inherently a stateful scan — the
  bin of row *i* depends on rows 1..i-1 — so it runs as an Arrow-batched
  ``applyInPandas`` per bucket (the oracle twin is a recursive CTE).

Scale shape (both): documents are split across ``n_buckets`` independent
pack streams by ``id % n_buckets``; each stream is packed on one task.
At 100 TB pick n_buckets ≫ cores (e.g. 2^14): per-stream rows are
|corpus|/n_buckets, the only shuffle is the hash exchange on ``bucket``,
and per-stream state is O(1) (greedy) or a running sum (chunk).  Packing
is embarrassingly parallel across streams by construction — global
packing order is not a meaningful property at this scale, determinism
within a stream is, and both layouts guarantee it (order by id).

Reference scope note: the reference (webrecorder/warcit) has no packing
analog — this is part of the training-data surface the graft adds on top
of the reference's operator set (see SURVEY.md §2 LLM-data extensions).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from warcit_spark.functions.text import token_count_expr

PACK_SCHEMA = (
    "doc_id long, bucket int, tokens int, bin int, offset int"
)


def _with_bucket_tokens(docs: DataFrame, n_buckets: int) -> DataFrame:
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % n_buckets).cast("int").alias("bucket"),
        token_count_expr(F.col("text")).cast("int").alias("tokens"),
    )


def chunk_pack(
    docs: DataFrame,
    capacity: int,
    n_buckets: int = 16,
) -> DataFrame:
    """Concatenate-then-chunk layout.

    Within each bucket, documents are concatenated in ``id`` order and
    the token stream is cut every ``capacity`` tokens.  Emits per doc:
    ``start_off`` (exclusive running token sum — position in the
    bucket's stream), ``bin_first``/``bin_last`` (windows the doc's
    first/last token land in; a doc may straddle).  Empty docs occupy no
    tokens: bin_last = bin_first.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    base = _with_bucket_tokens(docs, n_buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("tokens").over(w), F.lit(0)).cast("long")
    out = base.withColumn("start_off", start)
    bin_first = (F.col("start_off") / capacity).cast("long")
    last_tok = F.col("start_off") + F.greatest(F.col("tokens") - 1, F.lit(0))
    return out.select(
        "doc_id",
        "bucket",
        "tokens",
        "start_off",
        bin_first.alias("bin_first"),
        (last_tok / capacity).cast("long").alias("bin_last"),
    )


def greedy_pack(
    docs: DataFrame,
    capacity: int,
    n_buckets: int = 16,
) -> DataFrame:
    """Greedy next-fit bin packing (documents never straddle windows).

    Within each bucket, visit docs in ``id`` order keeping a running
    ``fill``; if ``fill + tokens > capacity`` close the bin and open the
    next with this doc at offset 0.  A doc larger than ``capacity`` gets
    a bin of its own (and overflows it — the caller's tokenizer decides
    whether to truncate).  Stateful scan → Arrow-batched
    ``applyInPandas`` per bucket; the within-batch loop is O(rows) plain
    Python over two ints, dwarfed by the Arrow transfer it rides.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    base = _with_bucket_tokens(docs, n_buckets)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
        bins, offs = [], []
        b, fill = 0, 0
        for tok in pdf["tokens"]:
            t = int(tok)
            if fill > 0 and fill + t > capacity:
                b, fill = b + 1, 0
            bins.append(b)
            offs.append(fill)
            fill += t
        pdf["bin"] = pd.Series(bins, dtype="int32")
        pdf["offset"] = pd.Series(offs, dtype="int32")
        return pdf[["doc_id", "bucket", "tokens", "bin", "offset"]]

    return base.groupBy("bucket").applyInPandas(_pack, PACK_SCHEMA)
