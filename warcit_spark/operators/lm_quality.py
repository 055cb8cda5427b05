"""CCNet-style language-model quality scoring (Wenzek et al. 2020,
"CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
Data"): score every document by LM perplexity, then split the corpus
into head / middle / tail quality buckets at the corpus-level perplexity
tertiles.  CCNet trains a KenLM model on a trusted corpus; here the
model is a character-bigram LM with Laplace smoothing trained on the
corpus itself (self-trained — deterministic, no external model file),
which preserves the pipeline shape: train pass -> broadcast model ->
row-local scoring -> quantile bucketing.

Scale shape (the part that must survive 100 TB):

- **Train pass**: one shuffle over at most V^2 bigram keys (V = charset
  size), fully map-side combined — the reduce side sees <= V^2 rows no
  matter how many petabytes stream through the map side.
- **Model transport**: the model is collected to the driver (guarded by
  ``LM_MAX_MODEL_ROWS``) and re-emitted as a literal ``CASE``-free map
  expression — the same pattern as the k-means codebook
  (similarity.py): a per-row lookup table, never a join.  Scoring is
  therefore ZERO-shuffle: a row-local ``aggregate`` over the document's
  bigram array.
- **Bucketing**: thresholds come from an exact ``percentile`` aggregate
  here (oracle parity with DuckDB ``quantile_cont``); at 100 TB swap in
  ``approx_percentile`` — a one-line change, documented rather than
  silently approximate at test scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

# A char-bigram model has at most V^2 rows; guard the driver collect the
# same way similarity.KMEANS_MAX_KDIM guards the codebook.  256^2 covers
# full Latin-1; a larger charset (CJK) raises rather than ship a map
# literal too large for every task's closure.
LM_MAX_MODEL_ROWS = 65536


def char_bigrams_expr(text: Column) -> Column:
    """Array of overlapping character bigrams of the lowercased text
    (1-based ``substr``, identical semantics to SQL ``substring``);
    empty array for texts shorter than 2 chars."""
    t = F.lower(text)
    n = F.length(t)
    return F.when(
        n >= 2,
        F.transform(F.sequence(F.lit(1), n - 1), lambda i: F.substr(t, i, F.lit(2))),
    ).otherwise(F.array().cast("array<string>"))


def char_bigram_model(docs: DataFrame) -> DataFrame:
    """Corpus-wide bigram counts: one map-side-combined shuffle over at
    most V^2 keys.  Returns (bg string, c long)."""
    return (
        docs.select(F.explode(char_bigrams_expr(F.col("text"))).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_perplexity(docs: DataFrame) -> DataFrame:
    """Per-document bits-per-bigram perplexity under the self-trained
    Laplace-smoothed char-bigram LM:

        P(c2 | c1) = (count(c1c2) + 1) / (total(c1) + V)

    with V = number of distinct characters participating in any model
    bigram.  Returns (doc_id, n_bigrams, ppl) for documents with at
    least one bigram; ``ppl = 2 ** (-mean log2 P)``, rounded to 6
    decimals (cross-engine double noise is ~1e-14).  The model is trained
    on ``docs`` itself, so every scored bigram is in it.
    """
    rows = char_bigram_model(docs).collect()
    if len(rows) > LM_MAX_MODEL_ROWS:
        raise ValueError(
            f"bigram model has {len(rows)} rows > LM_MAX_MODEL_ROWS="
            f"{LM_MAX_MODEL_ROWS}: the corpus uses more than 256 distinct "
            "characters, which this char-bigram scorer does not support"
        )
    counts = {r["bg"]: r["c"] for r in rows}
    totals: dict[str, int] = {}
    vocab = set()
    for bg, c in counts.items():
        totals[bg[:1]] = totals.get(bg[:1], 0) + c
        vocab.update((bg[:1], bg[1:2]))
    v = max(len(vocab), 1)

    # TWO-LEVEL map literal, keyed prefix char -> (next char -> logp).
    # GetMapValue on a map literal is a LINEAR key scan (no hashing), so
    # a flat V^2-entry map would make scoring O(doc_bigrams x V^2) near
    # the guard; nesting bounds every lookup to two scans of <= V entries
    # (<= 512 comparisons at full Latin-1, typically ~30).
    nested: dict[str, dict[str, float]] = {}
    for bg, c in counts.items():
        nested.setdefault(bg[:1], {})[bg[1:2]] = math.log2(
            (c + 1.0) / (totals[bg[:1]] + v)
        )
    logp_map = F.create_map(
        *[
            x
            for ch, inner in nested.items()
            for x in (
                F.lit(ch),
                F.create_map(*[F.lit(y) for kv in inner.items() for y in kv]),
            )
        ]
    )
    bgs = char_bigrams_expr(F.col("text"))
    s = F.aggregate(
        bgs,
        F.lit(0.0),
        lambda acc, b: acc
        + logp_map[F.substr(b, F.lit(1), F.lit(1))][
            F.substr(b, F.lit(2), F.lit(1))
        ],
    )
    n = F.size(bgs)
    return (
        docs.select(
            F.col("doc_id"),
            n.alias("n_bigrams"),
            F.round(F.pow(F.lit(2.0), -s / n), 6).alias("ppl"),
        )
        .where(F.col("n_bigrams") >= 1)
    )


def lm_quality_buckets(docs: DataFrame) -> DataFrame:
    """CCNet head/middle/tail split at the corpus perplexity tertiles
    (low perplexity = head = highest quality).  Thresholds are an exact
    ``percentile`` aggregate (two doubles broadcast back as a 1-row
    cross join — Catalyst folds it to a BroadcastNestedLoopJoin over one
    row); at 100 TB use ``approx_percentile`` with the same expression
    shape."""
    scored = lm_perplexity(docs)
    thresholds = scored.agg(
        F.percentile("ppl", F.lit(1.0 / 3)).alias("_t1"),
        F.percentile("ppl", F.lit(2.0 / 3)).alias("_t2"),
    )
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .select(
            "doc_id",
            "n_bigrams",
            "ppl",
            F.when(F.col("ppl") <= F.col("_t1"), "head")
            .when(F.col("ppl") <= F.col("_t2"), "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )
