"""Deduplication operators for training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle -> minhash -> band -> bucket
join), SimHash, and n-gram Jaccard — over a ``documents``-shaped table
(doc_id, text, ...).  Everything except the SimHash bit-voting is pure
``pyspark.sql.functions`` (JVM, codegen); SimHash uses a vectorized
pandas/Arrow UDF over pre-hashed (JVM-side) token arrays.

Scale notes (100 TB design point):
- exact dedup is one shuffle on a 16-byte key (md5 prefix), with map-side
  combine via min(); at 10^10 docs the key set is what AQE coalesces.
- MinHash LSH never materializes the O(n^2) pair space: candidates come
  from equi-joining on (band_idx, band_hash) buckets — a shuffle whose
  fan-out is bounded by bucket sizes; exact Jaccard verification runs only
  inside buckets.
- all shingle/signature arithmetic uses Spark's built-in murmur3/xxhash64,
  so signatures are reproducible across runs and cluster sizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from warcit_spark.functions.text import alnum_words_expr, fingerprint_expr

# banded MinHash LSH: 32 murmur3 seeds over word 3-shingles, 16 bands of 2
MINHASH_N_HASHES = 32
MINHASH_BANDS = 16
MINHASH_SHINGLE_K = 3


# ---------------------------------------------------------------- exact dedup
def exact_dedup(
    df: DataFrame
) -> DataFrame:
    """Keep the lowest-id representative per normalized-content fingerprint."""
    fp = fingerprint_expr(F.col("text"), 32)
    return (
        df.withColumn("_fp", fp)
        .groupBy("_fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_count"),
        )
        .drop("_fp")
    )


# ------------------------------------------------------------------- shingles
def word_shingles_expr(words: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) over a bound
    :func:`alnum_words_expr` column: a lambda naming a computed array
    re-evaluates it per element, so callers select the words first."""
    n = F.size(words)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    shingles = F.transform(idx, lambda i: F.array_join(F.slice(words, i, k), " "))
    return F.array_distinct(shingles)


def _id_shingles(df: DataFrame, k: int) -> DataFrame:
    """(id, shingles) of a documents frame, the words bound first."""
    return df.select(
        F.col("doc_id").alias("id"), alnum_words_expr(F.col("text")).alias("_w")
    ).select("id", word_shingles_expr(F.col("_w"), k).alias("shingles"))


def jaccard_expr(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


# -------------------------------------------------------------------- minhash
def minhash_signature_expr(shingles: Column) -> Column:
    """MinHash signature: per seed i, min over shingles of murmur3(shingle, i).

    ``F.hash(col, lit(i))`` is Spark's murmur3_x86_32 with the extra column
    acting as the seed-mix — deterministic, JVM-side, no Python.

    NB: the lambda must be built by a single-argument closure factory — a
    two-parameter lambda (``lambda s, i: ...``) would be interpreted by
    PySpark's higher-order functions as the (element, index) form and the
    seed would silently become the array index.
    """

    # NB: keep the MINHASH_N_HASHES subtrees unrolled — the tree-compact
    # transform(sequence(0,n-1), i -> array_min(transform(shingles, s ->
    # hash(s, i)))) form produces identical values but the NESTED lambda
    # drops the whole projection out of codegen into interpreted eval
    # (measured 6x slower end-to-end).
    def seeded(i: int):
        return lambda s: F.hash(s, F.lit(i))

    return F.array(
        *[
            F.array_min(F.transform(shingles, seeded(i)))
            for i in range(MINHASH_N_HASHES)
        ]
    )


def minhash_lsh_dedup(
    df: DataFrame,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate PAIRS via banded MinHash LSH, verified with exact
    shingle Jaccard.  Returns (doc_id_a, doc_id_b, jaccard) with a < b.

    rows-per-band = MINHASH_N_HASHES / MINHASH_BANDS = 2; on the usual
    S-curve a 0.8-Jaccard pair becomes a candidate with probability
    1 - (1 - 0.8**2)**16 > 0.9999.

    Precondition: ``doc_id`` is unique.  The verify side joins candidate
    ids back to every input row, so a duplicate id whose text is NULL
    attaches a NULL shingle array and its pair drops silently.
    """
    bands = MINHASH_BANDS
    rows_per_band = MINHASH_N_HASHES // bands

    docs_raw = _id_shingles(df, MINHASH_SHINGLE_K)
    # ``size(shingles) > 0`` is exactly ``text IS NOT NULL``: null text
    # propagates to a null array (filtered), and any non-null text yields
    # >= 1 shingle (zero words still produce the [''] shingle).  Filtering
    # on the raw column pushes IsNotNull into the scan instead of
    # re-evaluating the whole shingle expression inside the pushed-down
    # predicate.  The verify sides join on candidate ids — all of which
    # passed this filter on the band side — so they read docs_raw and need
    # no filter at all.
    docs = _id_shingles(df.where(F.col("text").isNotNull()), MINHASH_SHINGLE_K)
    sigs = docs.withColumn("sig", minhash_signature_expr(F.col("shingles")))

    # Band entries carry ONLY (id, band_idx, band_hash): the candidate
    # shuffle moves 3 fixed-width columns, never the shingle arrays (which
    # at web scale are KBs/doc duplicated x bands).  Shingles re-enter via
    # two id-equi-joins just before the Jaccard verify, after the candidate
    # pair set has been deduplicated.
    # posexplode(transform(sequence(...))) instead of exploding an array of
    # ``bands`` hand-built structs: pos IS the band index, values identical
    # (element_at is 1-based), tree ~bands-fold smaller (planning cost — see
    # minhash_signature_expr)
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.hash(
            *[
                F.element_at(F.col("sig"), b * rows_per_band + (j + 1))
                for j in range(rows_per_band)
            ]
        ),
    )
    band_entries = sigs.select(
        "id", F.posexplode(band_hashes).alias("band_idx", "band_hash")
    )

    # Candidate pairs via per-bucket posting lists: ONE shuffle of the band
    # entries (groupBy band key) instead of a two-sided self-join that
    # shuffles the same table twice, and one fewer scan/signature pass of
    # the corpus (guide §2.3/§2.4).  The in-row i<j expansion is the same
    # per-bucket quadratic the join had; bucket sizes bound it identically.
    ids = F.sort_array(F.collect_set("id"))
    grouped = (
        band_entries.groupBy("band_idx", "band_hash")
        .agg(ids.alias("ids"))
        .where(F.size("ids") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            # 2-arg HOF lambda is (element, index); slice is 1-based, so
            # i+2 = "elements strictly after index i"
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("doc_id_a"), b.alias("doc_id_b")),
            ),
        )
    )
    candidates = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_id_a", "p.doc_id_b")
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )

    sh_a = docs_raw.select(
        F.col("id").alias("doc_id_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = docs_raw.select(
        F.col("id").alias("doc_id_b"), F.col("shingles").alias("sh_b")
    )
    verified = (
        candidates.join(sh_a, on="doc_id_a")
        .join(sh_b, on="doc_id_b")
        .withColumn("jaccard", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
        .where(F.col("jaccard") >= jaccard_threshold)
    )
    return verified.select("doc_id_a", "doc_id_b", "jaccard")


# -------------------------------------------------------------------- simhash
def _simhash_batch(hash_arrays: pd.Series, nbits: int = 64) -> pd.Series:
    """Bit-vote over per-token 64-bit hashes (numpy per Arrow batch)."""
    import numpy as np

    out = []
    for arr in hash_arrays:
        if arr is None or len(arr) == 0:
            out.append(0)
            continue
        # hashes arrive as SIGNED 64-bit (Spark xxhash64); int64->uint64 via
        # view keeps the bit pattern (a direct uint64 cast of negatives is
        # deprecated and will raise in future numpy)
        h = np.asarray(arr, dtype=np.int64).view(np.uint64)
        bits = (h[:, None] >> np.arange(nbits, dtype=np.uint64)) & np.uint64(1)
        votes = bits.sum(axis=0) * 2 > len(h)
        val = 0
        for b in np.nonzero(votes)[0]:
            val |= 1 << int(b)
        # to signed 64-bit
        out.append(val - (1 << 64) if val >= (1 << 63) else val)
    return pd.Series(out)


def simhash(df: DataFrame) -> DataFrame:
    """(id, simhash) — token hashing on the JVM (xxhash64 inside a
    higher-order transform), bit-voting vectorized in numpy per batch."""
    token_hashes = F.transform(
        alnum_words_expr(F.col("text")), lambda w: F.xxhash64(w)
    )
    hashed = df.select(
        F.col("doc_id").alias("id"), token_hashes.alias("_th")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {"id": pdf["id"], "simhash": _simhash_batch(pdf["_th"])}
            )

    return hashed.mapInPandas(fn, "id long, simhash long")


# ------------------------------------------------------------- ngram jaccard
def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    df_max: int | None = None,
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via inverted-index join.

    Pairs are generated from shared shingles (an inverted index), so only
    documents sharing at least one shingle are compared — the standard
    sparse all-pairs similarity shape, not a cross join.

    ``df_max`` caps the document frequency of index shingles: the self-join
    is quadratic *per shingle group*, so one stop-phrase shingle appearing
    in 10^6 docs would alone yield 10^12 candidate pairs.  The default is
    ``None`` — EXACT recall, Jaccard computed directly from shared-shingle
    counts (no array re-join; also the faster plan on small corpora) — so
    no caller silently loses pairs; large-corpus callers opt in with e.g.
    ``df_max=1000``.  With a cap set, shingles with df > df_max are
    excluded from CANDIDATE GENERATION only; surviving candidates are
    verified with exact Jaccard over the full shingle arrays, so reported
    values are always exact.  The recall contract: a qualifying pair is
    missed only if EVERY shingle it shares is more common than df_max — at
    threshold >= 0.5 that requires over half of each document's shingles
    to be such stop-phrases.  Mass-duplicated documents (where even
    discriminative shingles exceed any df cap) must be collapsed by
    :func:`exact_dedup` first — the standard near-dedup pipeline order.
    When the cap actually excludes shingles, that is observable: the
    returned DataFrame carries a ``_dfcap_observation``
    (:class:`~pyspark.sql.Observation`) whose ``excluded_shingles`` metric
    is computed during the caller's action — recall loss is never silent.

    Precondition: ``doc_id`` is unique.  The verify sides join candidate
    ids back to every input row, so a duplicate id whose text is NULL
    attaches a NULL shingle array and its pair drops silently.
    """
    docs_raw = _id_shingles(df, k)
    # explode drops empty arrays on its own; the verify sides of the
    # df_max path join on candidate ids, so neither needs the emptiness
    # filter (whose pushed-down predicate re-evaluates the shingle
    # expression once more per scanned row)
    docs = docs_raw
    inv = docs.select("id", F.explode("shingles").alias("sh"))

    if df_max is not None:
        # the df prefilter runs BEFORE any per-shingle posting list is
        # materialized, so a 10^6-df stop shingle never builds a 10^6
        # array; the semi-join on sh is co-partitioned with the posting
        # aggregation that follows (both shuffle on sh).
        dfreq = inv.groupBy("sh").agg(F.count("*").alias("_df"))
        excluded = dfreq.where(F.col("_df") > df_max)
        cap_obs = Observation("ngram_df_cap")
        observed = dfreq.observe(
            cap_obs,
            F.sum(F.when(F.col("_df") > df_max, 1).otherwise(0)).alias(
                "excluded_shingles"
            ),
        )
        keep = observed.where(F.col("_df") <= df_max).select("sh")
        capped = inv.join(keep, on="sh", how="left_semi")
        # per-shingle posting list (bounded by df_max) -> in-row (i < j)
        # pair expansion.  Single-reference plan: the observed dfreq node
        # is executed exactly once (a self-join over an observed subtree
        # makes Spark drop the merged metrics row), and candidate
        # generation costs one groupBy shuffle instead of a two-sided
        # self-join shuffle.
        ids = F.sort_array(F.collect_set("id"))
        grouped = capped.groupBy("sh").agg(ids.alias("ids")).where(
            F.size("ids") >= 2
        )
        pair_structs = F.flatten(
            F.transform(
                F.col("ids"),
                # 2-arg HOF lambda is (element, index); slice is 1-based,
                # so i+2 = "elements strictly after index i"
                lambda a, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                    lambda b: F.struct(a.alias("doc_id_a"), b.alias("doc_id_b")),
                ),
            )
        )
        candidates = (
            grouped.select(F.explode(pair_structs).alias("p"))
            .select("p.doc_id_a", "p.doc_id_b")
            .dropDuplicates(["doc_id_a", "doc_id_b"])
        )
        sh_a = docs.select(
            F.col("id").alias("doc_id_a"), F.col("shingles").alias("sh_a")
        )
        sh_b = docs.select(
            F.col("id").alias("doc_id_b"), F.col("shingles").alias("sh_b")
        )
        out = (
            candidates.join(sh_a, on="doc_id_a")
            .join(sh_b, on="doc_id_b")
            .withColumn("jaccard", jaccard_expr(F.col("sh_a"), F.col("sh_b")))
            .where(F.col("jaccard") >= threshold)
        )
        result = out.select("doc_id_a", "doc_id_b", "jaccard")
        result._dfcap_observation = cap_obs
        result._dfcap_excluded_frame = excluded
        return result

    # Exact path: per-shingle posting lists carrying (id, |shingles|), so
    # the shared-shingle count AND both set sizes arrive at the pair key
    # together — one groupBy(sh) + one groupBy(pair), zero joins, one scan
    # (the old shape self-joined the index and re-joined sizes twice; the
    # extra int per posting entry is noise next to the shingle string,
    # guide §2.3 "shuffle keys and metadata instead of payloads").
    inv_n = docs.select(
        "id", F.size("shingles").alias("n"), F.explode("shingles").alias("sh")
    )
    members = F.sort_array(F.collect_set(F.struct("id", "n")))
    grouped = (
        inv_n.groupBy("sh").agg(members.alias("ms")).where(F.size("ms") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            # 2-arg HOF lambda is (element, index); slice is 1-based, so
            # i+2 = "elements strictly after index i"
            lambda a, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size(F.col("ms"))),
                lambda b: F.struct(
                    a["id"].alias("doc_id_a"),
                    b["id"].alias("doc_id_b"),
                    a["n"].alias("na"),
                    b["n"].alias("nb"),
                ),
            ),
        )
    )
    out = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.doc_id_a", "p.doc_id_b", "p.na", "p.nb")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("doc_id_a", "doc_id_b", "jaccard")


def ngram_dfcap_excluded(pairs: DataFrame) -> int | None:
    """Shingles the ``df_max`` cap excluded from candidate generation in a
    :func:`ngram_jaccard_pairs` result (None when no cap was set) — the
    cap's recall loss is never silent.

    Fast path: the observation that rode the caller's action (zero extra
    jobs).  The observed sum is ADDITIVE under plan re-execution
    (repartitionByRange's range-sampling pass, AQE stage retries re-run the
    observed subtree and the metric re-accumulates), so only its
    zero/nonzero reading is trustworthy: a zero is exact (a re-executed
    sum of non-negatives can't read zero unless the true count is zero)
    and short-circuits with no extra job; any nonzero reading triggers the
    exact one-aggregation recount over the shingle document frequencies.
    Spark 4.1's AQE can also drop the CollectMetrics row entirely under
    some re-planned join shapes — that case recounts too.
    """
    obs = getattr(pairs, "_dfcap_observation", None)
    if obs is None:
        return None
    from warcit_spark.observe import observation_metrics, observation_ready

    if observation_ready(obs):
        try:
            observed = observation_metrics(obs, "excluded_shingles")[
                "excluded_shingles"
            ] or 0
            if observed == 0:
                return 0
        except RuntimeError:
            pass  # empty metrics row — AQE ate it; recompute below
    return pairs._dfcap_excluded_frame.count()


# ------------------------------------------------------------ decontamination
def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
) -> DataFrame:
    """(id, contaminated) — benchmark decontamination for training corpora:
    a training document is contaminated iff it shares ANY n-word shingle
    with any benchmark/eval document (the GPT-3 appendix-C / PaLM n-gram
    overlap rule, applied train-side).  No reference analog (the reference
    never inspects text, /root/reference/warcit/warcit.py); this is part
    of the engine's training-data surface.

    Scale shape: both sides explode to distinct shingles
    (:func:`word_shingles_expr`, row-local, scan-pushable).  Eval sets are
    tiny next to a 10^9-doc training corpus, so the benchmark shingle set
    broadcasts into a LEFT SEMI join — the train side never shuffles, one
    scan + hash probe per partition.  Empty-word shingles are dropped on
    both sides so blank documents can never contaminate.
    """
    t_sh = train.select(
        "doc_id", alnum_words_expr(F.col("text")).alias("_w")
    ).select(
        "doc_id", F.explode(word_shingles_expr(F.col("_w"), n)).alias("_sh")
    ).where(F.col("_sh") != "")
    b_sh = (
        benchmark.select(alnum_words_expr(F.col("text")).alias("_w"))
        .select(F.explode(word_shingles_expr(F.col("_w"), n)).alias("_sh"))
        .where(F.col("_sh") != "")
        .distinct()
    )
    hits = (
        t_sh.join(F.broadcast(b_sh), on="_sh", how="left_semi")
        .select("doc_id")
        .distinct()
    )
    return train.select("doc_id").join(
        hits.withColumn("_hit", F.lit(True)), on="doc_id", how="left"
    ).select(
        "doc_id", F.coalesce(F.col("_hit"), F.lit(False)).alias("contaminated")
    )


# ------------------------------------------------------------- line dedup
def line_dedup(
    docs: DataFrame,
    min_df: int = 2,
) -> DataFrame:
    """(id, text_clean, lines_kept, lines_removed) — corpus-wide duplicated-
    line removal, the C4 / RefinedWeb boilerplate rule: a line is dropped
    from EVERY document when its normalized form (``trim``) occurs in at
    least ``min_df`` distinct documents; blank lines are always dropped.
    Surviving lines are re-joined by newlines in original order.  No
    reference analog (the reference never inspects text,
    /root/reference/warcit/warcit.py) — engine training-data surface.

    Scale shape: three shuffles, all O(|lines|) with map-side combine —
    (1) the duplicated-line dim is ``dropDuplicates(line, id)`` (partial
    agg absorbs within-doc repeats of a hot line before the exchange) then
    ``count >= min_df``; (2) one join of lines against that dim (hot
    boilerplate lines are exactly the dim's keys, so AQE skew-split
    applies); (3) one groupBy(id) rebuilding each document —
    ``collect_list`` here is per-DOCUMENT (bounded by document size, the
    same bound a parse already needs), never per-line-key, so no hot-key
    neighborhood ever materializes in one task.
    """
    lines = (
        docs.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.col("text"), "\n", -1)).alias(
                "_pos", "_line"
            ),
        )
        .withColumn("_norm", F.trim(F.col("_line")))
        .where(F.col("_norm") != "")
    )
    dup = (
        lines.select("_norm", "doc_id")
        .dropDuplicates(["_norm", "doc_id"])
        .groupBy("_norm")
        .count()
        .where(F.col("count") >= min_df)
        .select("_norm", F.lit(True).alias("_dup"))
    )
    marked = lines.join(dup, on="_norm", how="left")
    per_doc = marked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("_pos", "_line", "_dup"))
                    ),
                    lambda s: s["_dup"].isNull(),
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_clean"),
        F.sum(F.when(F.col("_dup"), 1).otherwise(0)).alias("_removed"),
        F.count(F.lit(1)).alias("_n"),
    )
    return docs.select("doc_id").join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce(F.col("_clean"), F.lit("")).alias("text_clean"),
        (F.coalesce(F.col("_n"), F.lit(0)) - F.coalesce(F.col("_removed"), F.lit(0)))
        .cast("int")
        .alias("lines_kept"),
        F.coalesce(F.col("_removed"), F.lit(0)).cast("int").alias("lines_removed"),
    )


def exact_substring_spans(
    docs: DataFrame,
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": drop any
    substring that occurs verbatim more than once in the corpus).

    The suffix-array construction of the paper is replaced by a
    Spark-native anchor shape with the same span semantics at k-token
    granularity: every k-word shingle occurring >= ``min_count`` times
    corpus-wide (including within one document) anchors a duplicated
    span; per document, overlapping or adjacent anchors merge into
    maximal spans (gaps-and-islands over a running max of span ends).

    Returns one row per merged span: (doc_id, span_start, span_end,
    span_words, n_anchors) with 1-based inclusive word positions.

    Scale shape: one shuffle keyed by the shingle string for the
    corpus-wide count (map-side combined; at 100 TB key by
    ``xxhash64(shingle)`` instead to cut shuffle width — a 64-bit
    collision only risks a spurious extra span, never a miss), one
    shuffle of hit positions back to documents, and per-document windows
    (doc id in the partition key — skew-free).  No suffix array, no
    driver state.
    """
    # words bound first: the lambda below slices them once per shingle
    words = docs.select("doc_id", alnum_words_expr(F.col("text")).alias("_w"))
    ws = F.col("_w")
    n = F.size(ws)
    sh = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.struct(
                i.alias("pos"), F.concat_ws(" ", F.slice(ws, i, k)).alias("s")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,s:string>>"))
    rows = words.select("doc_id", F.explode(sh).alias("_a")).select(
        "doc_id", F.col("_a.pos").alias("pos"), F.col("_a.s").alias("s")
    )
    dup = (
        rows.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("s")
    )
    hits = rows.join(dup, on="s", how="left_semi")

    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(w_prev)
    new_island = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
    ).otherwise(0)
    islands = hits.withColumn("_isl", F.sum(new_island).over(w_run))
    return (
        islands.groupBy("doc_id", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_anchors"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_words"),
            "n_anchors",
        )
    )
