"""Distributed BPE merge training (Sennrich et al. 2016, ACL).

The tokenizer-training step of an LLM data pipeline: learn the top-N
byte-pair merges from a corpus by iteratively (1) counting adjacent
symbol pairs weighted by word frequency, (2) picking the globally most
frequent pair, (3) fusing its occurrences.  The reference has nothing
like it (its payloads are opaque files); this is a `SURVEY.md §2` "ops a
training-data pipeline needs" component.

Scale shape — everything after the first aggregation is vocabulary-sized,
not corpus-sized:

- corpus -> (word, count) is ONE map-side-combined shuffle; every
  iteration then runs over the distinct-word table (~10^8 rows at
  web scale vs 10^12 corpus tokens).
- per iteration: one (pair)-keyed groupBy with map-side combine, a
  TakeOrdered(1) for the arg-max pair, and the winning pair rides back
  as a BROADCAST 1-row frame (zero driver scalars in the data path —
  the k-means/pagerank house pattern); the in-word fusion is a
  row-local ``F.aggregate`` left fold (greedy leftmost, the textbook
  merge order); lineage is cut per iteration (localCheckpoint, the
  iterative-DataFrame pitfall).
- the only driver actions are the per-iteration localCheckpoint
  materialization and an emptiness probe to stop early when no pair is
  left (the connected-components convergence-probe convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END_OF_WORD = "</w>"


def _word_counts(docs: DataFrame) -> DataFrame:
    words = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z]+"), lambda w: w != F.lit("")
    )
    return (
        docs.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _initial_symbols() -> F.Column:
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    return F.array_append(chars, F.lit(END_OF_WORD))


def _fuse_expr() -> F.Column:
    """Greedy leftmost fusion of the broadcast best pair (_ba, _bb) into
    ``syms`` — a left fold: when the accumulator's last symbol is _ba and
    the incoming one is _bb, replace the last with _ba||_bb, else append.
    Leftmost-greedy exactly matches reference BPE's merge order (for the
    overlapping-run case 'a a a' -> '(aa) a')."""
    fused = F.concat(F.col("_ba"), F.col("_bb"))
    return F.aggregate(
        F.col("syms"),
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("_ba"))
            & (s == F.col("_bb")),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.array_append(acc, s)),
    )


def bpe_train_merges(
    docs: DataFrame, n_merges: int = 8
) -> DataFrame:
    """Learn ``n_merges`` BPE merges; returns one row per merge:
    ``(step, sym_left, sym_right, pair_count)`` with ``step`` starting
    at 1 in merge order.  Ties in pair frequency break lexicographically
    on (left, right) — fully deterministic under any partitioning.

    Tokenization is the engine's ``[^a-z]+`` word convention with a
    ``</w>`` end-of-word sentinel symbol (the classic formulation: merges
    never cross word boundaries, and word-final units stay distinct from
    word-internal ones).
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    vocab = (
        _word_counts(docs)
        .select("word", "cnt", _initial_symbols().alias("syms"))
        .localCheckpoint(eager=True)
    )
    spark = docs.sparkSession
    merges = []
    for step in range(1, n_merges + 1):
        zipped = F.arrays_zip(
            F.slice(F.col("syms"), F.lit(1), F.size("syms") - 1).alias("a"),
            F.slice(F.col("syms"), F.lit(2), F.size("syms") - 1).alias("b"),
        )
        pair_counts = (
            vocab.select("cnt", F.explode(zipped).alias("_p"))
            .select(
                "cnt",
                F.col("_p")["a"].alias("_a"),
                F.col("_p")["b"].alias("_b"),
            )
            .groupBy("_a", "_b")
            .agg(F.sum("cnt").alias("_c"))
        )
        best = (
            pair_counts.orderBy(
                F.col("_c").desc(), F.col("_a").asc(), F.col("_b").asc()
            )
            .limit(1)
            .select(
                F.col("_a").alias("_ba"),
                F.col("_b").alias("_bb"),
                F.col("_c").alias("_bc"),
            )
            .localCheckpoint(eager=True)
        )
        if best.isEmpty():  # no adjacent pairs left anywhere
            break
        merges.append(
            best.select(
                F.lit(step).alias("step"),
                F.col("_ba").alias("sym_left"),
                F.col("_bb").alias("sym_right"),
                F.col("_bc").alias("pair_count"),
            )
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best))
            .select("word", "cnt", _fuse_expr().alias("syms"))
            .localCheckpoint(eager=True)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out
