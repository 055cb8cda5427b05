"""DSIR-style data selection via importance resampling (Xie et al.
2023, "Data Selection for Language Models via Importance Resampling"):
weight every raw document by how much more likely its features are under
a trusted target distribution than under the raw-corpus distribution,
then sample proportionally to the weights.

Features here are exact unigram words (the paper uses hashed n-grams;
SQL engines can replay words, not Spark's xxhash64).  Both feature LMs
are Laplace-smoothed over the shared vocabulary, and a document's weight
is its LENGTH-NORMALIZED log-ratio

    w(d) = mean over words of  log2 p_target(w) - log2 p_raw(w)

so long documents don't dominate purely by word count.

Scale shape:

- **Feature counts**: one map-side-combined shuffle keyed by word,
  producing <= |vocab| rows with both corpus counts as conditional
  sums — a single pass over target and raw together.
- **Totals**: a 1-row aggregate of the count table, broadcast back.
- **Scoring**: explode words -> broadcast-hash-join against the model
  (model rows <= |vocab|, always the build side) -> partial-aggregated
  groupBy(doc).  No driver-side model transport at all — unlike the LM
  codebook (lm_quality.py) the vocabulary is unbounded, so the model
  stays a DataFrame end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from warcit_spark.functions.text import words_expr


def dsir_weights(docs: DataFrame, is_target: Column) -> DataFrame:
    """Per-document DSIR importance log-ratios.

    Returns every document of ``docs`` (target docs score themselves
    too — useful for sanity: they should land high) with
    (doc_id, n_words, dsir_logratio), log-ratio rounded to 6 decimals,
    documents with zero feature words excluded.
    """
    feat = F.explode(words_expr(F.col("text"))).alias("w")
    rows = docs.select(F.col("doc_id"), is_target.alias("_t"), feat)

    counts = rows.groupBy("w").agg(
        F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("ct"),
        F.sum(F.when(F.col("_t"), 0).otherwise(1)).alias("cr"),
    )
    totals = counts.agg(
        F.count(F.lit(1)).alias("_v"),
        F.sum("ct").alias("_nt"),
        F.sum("cr").alias("_nr"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "w",
        (
            F.log2((F.col("ct") + 1.0) / (F.col("_nt") + F.col("_v")))
            - F.log2((F.col("cr") + 1.0) / (F.col("_nr") + F.col("_v")))
        ).alias("_lr"),
    )

    return (
        rows.join(F.broadcast(model), on="w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_words"),
            F.round(F.avg("_lr"), 6).alias("dsir_logratio"),
        )
    )


def dsir_select(
    docs: DataFrame,
    is_target: Column,
    keep_frac: float,
) -> DataFrame:
    """Top-``keep_frac`` of the RAW documents by importance weight —
    the deterministic top-k reading of DSIR's resampling step (the
    paper adds Gumbel noise; a training pipeline that must be
    reproducible across reruns usually wants the noiseless rank).
    Global threshold via exact ``percentile`` over the raw weights
    (swap approx_percentile at 100 TB), then a scan-pushable filter."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    scored = dsir_weights(docs, is_target)
    raw = scored.join(
        docs.where(~is_target).select("doc_id"), on="doc_id", how="left_semi"
    )
    thr = raw.agg(
        F.percentile("dsir_logratio", F.lit(1.0 - keep_frac)).alias("_thr")
    )
    return (
        raw.crossJoin(F.broadcast(thr))
        .where(F.col("dsir_logratio") >= F.col("_thr"))
        .select("doc_id", "n_words", "dsir_logratio")
    )
