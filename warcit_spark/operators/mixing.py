"""Corpus mixing under a token budget — the step that turns a cleaned
multi-source corpus into a training mixture (cf. the source-weighted
sampling tables published for large open corpora: temperature-scaled
source weights, then a deterministic document draw per source).

Two stages, both engine-native:

1. **Allocation**: per-source token totals (one map-side-combined
   shuffle over n_sources keys), temperature-scaled
   ``weight_s = tokens_s**alpha / sum(tokens**alpha)`` (alpha < 1
   up-weights small sources, alpha = 1 is proportional), and an integer
   token budget per source.  Weights are rounded to 6 decimals BEFORE
   the budget multiply so the floor() boundary is computed from
   bit-identical doubles in any engine (pow() differs by ulps between
   libms; the rounding quarantines that).
2. **Selection**: within each source, documents are ranked by
   ``md5(doc_id)`` — the same RNG-free, reshard-stable ordering as
   stratified_sample (sampling.py) — and kept while the running token
   sum fits the source's allocation.  One window per source partition;
   no skew (sources partition the corpus), no driver state.

At 100 TB both shuffles are tiny (n_sources keys; the window shuffles
doc rows once, partitioned by source) and the md5 rank is reproducible
across cluster sizes, reruns, and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from warcit_spark.functions.text import token_count_expr


def token_budget_mix(
    docs: DataFrame,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Documents kept by the mixture draw: per source, take docs in
    md5(id) order while the cumulative token count stays within the
    source's allocation.  Returns (doc_id, source, n_tokens,
    cum_tokens) for kept docs."""
    # slim per-doc projection (id, source, count, rank — NO text), lazily
    # checkpointed: both consumers below (the cum-sum window and the
    # per-source totals) reuse the materialized rows, so the corpus scan
    # + regex tokenization run exactly once.  ~40 B/doc of block storage
    # (memory-and-disk), not a second multi-TB text pass.
    ranked = docs.select(
        F.col("doc_id"),
        F.col("source"),
        token_count_expr(F.col("text")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_rk"),
    ).localCheckpoint(eager=False)
    w = (
        Window.partitionBy("source")
        .orderBy("_rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = ranked.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    # allocations derive from the SAME ranked projection (sum of its
    # n_tokens), not a second scan of docs — the corpus is scanned and
    # regex-tokenized exactly once end to end
    per_source = ranked.groupBy("source").agg(
        F.sum("n_tokens").alias("tokens_s")
    )
    z = per_source.agg(
        F.sum(F.pow(F.col("tokens_s").cast("double"), F.lit(alpha))).alias("_z")
    )
    weight = F.round(
        F.pow(F.col("tokens_s").cast("double"), F.lit(alpha)) / F.col("_z"), 6
    )
    alloc = per_source.crossJoin(F.broadcast(z)).select(
        "source",
        F.floor(F.lit(float(budget)) * weight).cast("bigint").alias("alloc_tokens"),
    )
    return (
        cum.join(F.broadcast(alloc), on="source")
        .where(F.col("cum_tokens") <= F.col("alloc_tokens"))
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )
