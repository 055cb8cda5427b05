"""Text-analysis column functions for training-data pipelines.

Language-ID (stopword n-gram heuristic), quality scoring, token counting,
and document fingerprinting — all pure ``pyspark.sql.functions``
expressions (JVM, codegen), each with an exact ANSI-SQL twin so the DuckDB
oracle can verify them value-for-value.  These run over the ``documents``
table (doc_id, text, lang, source, n_chars) and, at scale, over the
``text`` column of the pages corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small fixed stopword list — deterministic, shared with the SQL oracle.
EN_STOPWORDS = [
    "the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "this", "be", "are", "or",
]

PUNCT_CLASS = r"[.,!?;:'\"()\[\]{}<>-]"


def words_expr(text: Column) -> Column:
    """Lowercased alphabetic word array (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z]+"), lambda w: w != F.lit("")
    )


def alnum_words_expr(text: Column) -> Column:
    """Lowercased alphanumeric word array (empty strings filtered)."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda w: w != F.lit("")
    )


def token_count_expr(text: Column) -> Column:
    """Whitespace token count; '' -> 0."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def stopword_ratio_expr(text: Column) -> Column:
    words = words_expr(text)
    n = F.size(words)
    hits = F.size(F.filter(words, lambda w: w.isin(*EN_STOPWORDS)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(F.lit(0.0))


def punct_ratio_expr(text: Column) -> Column:
    n = F.length(text)
    stripped = F.length(F.regexp_replace(text, PUNCT_CLASS, ""))
    return F.when(n > 0, (n - stripped).cast("double") / n).otherwise(F.lit(0.0))


def lang_id_expr(text: Column) -> Column:
    """Heuristic language ID: English-stopword density >= 0.08 -> 'en'."""
    return F.when(stopword_ratio_expr(text) >= 0.08, F.lit("en")).otherwise(
        F.lit("unknown")
    )


def quality_score_expr(text: Column) -> Column:
    """[0,1] quality score: length sweet-spot x stopword presence x low punct.

    A simple, fully-SQL-expressible analog of Gopher/C4-style quality rules:
    score = min(1, n_tokens/100) * min(1, 4*stopword_ratio) * (1 - punct_ratio).
    """
    ntok = token_count_expr(text).cast("double")
    len_term = F.least(F.lit(1.0), ntok / F.lit(100.0))
    stop_term = F.least(F.lit(1.0), F.lit(4.0) * stopword_ratio_expr(text))
    punct_term = F.lit(1.0) - punct_ratio_expr(text)
    return F.round(len_term * stop_term * punct_term, 6)


def fingerprint_expr(text: Column, nchars: int = 16) -> Column:
    """Whitespace-normalized md5 prefix — a content fingerprint usable as an
    exact-dedup key across engines (md5 exists in both Spark and DuckDB)."""
    normalized = F.lower(F.regexp_replace(F.trim(text), r"\s+", " "))
    return F.substring(F.md5(F.encode(normalized, "UTF-8")), 1, nchars)


def xxhash64_py(data: bytes) -> int:
    """Pure-Python XXH64, bit-for-bit equal to Spark's ``F.xxhash64`` on a
    string column (Spark hashes the UTF-8 bytes with seed 42 —
    catalyst XxHash64 / XXH64.hashUnsafeBytes).  Exists so external oracles
    (DuckDB SQL) can reproduce xxhash64-seeded signatures as literals,
    exactly like ``srp_plane_signs`` does for murmur3
    (operators/similarity.py).  Returns the SIGNED 64-bit value Spark
    returns.  Pinned against ``F.xxhash64`` in tests.
    """
    P1 = 0x9E3779B185EBCA87
    P2 = 0xC2B2AE3D27D4EB4F
    P3 = 0x165667B19E3779F9
    P4 = 0x85EBCA77C2B2AE63
    P5 = 0x27D4EB2F165667C5
    M = (1 << 64) - 1
    seed = 42

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & M

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 32 <= n:
            k1 = int.from_bytes(data[i : i + 8], "little")
            k2 = int.from_bytes(data[i + 8 : i + 16], "little")
            k3 = int.from_bytes(data[i + 16 : i + 24], "little")
            k4 = int.from_bytes(data[i + 24 : i + 32], "little")
            v1 = (rotl((v1 + k1 * P2) & M, 31) * P1) & M
            v2 = (rotl((v2 + k2 * P2) & M, 31) * P1) & M
            v3 = (rotl((v3 + k3 * P2) & M, 31) * P1) & M
            v4 = (rotl((v4 + k4 * P2) & M, 31) * P1) & M
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * P2) & M, 31) * P1) & M
            h = (h * P1 + P4) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        h ^= (rotl((k * P2) & M, 31) * P1) & M
        h = (rotl(h, 27) * P1 + P4) & M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h ^= (k * P1) & M
        h = (rotl(h, 23) * P2 + P3) & M
        i += 4
    while i < n:
        h ^= (data[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 33
    h = (h * P2) & M
    h ^= h >> 29
    h = (h * P3) & M
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


# PII patterns shared verbatim with the SQL oracle: simple character-class
# regexes only (no lookaround), identical semantics in Java regex (Spark)
# and RE2 (DuckDB).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+?[0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{4}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_scrub_expr(text: Column) -> Column:
    """Training-data PII scrub: emails -> <EMAIL>, phone-shaped numbers ->
    <PHONE>, IPv4 literals -> <IP>.  Order matters (emails first, so
    host-like tails are gone before the IP pass); all three are JVM
    ``regexp_replace`` — codegen, no Python."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    out = F.regexp_replace(out, PII_IPV4_RE, "<IP>")
    return out


def pii_count_expr(text: Column) -> Column:
    """How many PII spans the scrub would redact (for audit lineage)."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), 0))
        + F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), 0))
        + F.size(F.regexp_extract_all(text, F.lit(PII_IPV4_RE), 0))
    )


def repetition_ratio_expr(text: Column) -> Column:
    """Gopher-style within-document repetition signal: fraction of word
    occurrences that are repeats of an earlier word, i.e.
    ``1 - distinct_words / words`` (0 for empty/all-unique docs).  Pure
    array expressions — split, distinct, sizes."""
    ws = alnum_words_expr(text)
    n = F.size(ws)
    d = F.size(F.array_distinct(ws))
    return F.when(n > 0, F.round(1.0 - d.cast("double") / n, 6)).otherwise(
        F.lit(0.0)
    )


def tfidf_topk_terms(
    docs,
    k: int = 3,
):
    """Top-k most characteristic terms per document by tf·(N/df).

    The classic inverted-index + window shape: explode words, count tf
    per (doc, term) and df per term (two aggregations that share the
    term-key shuffle), score, rank per doc.  The idf factor is the
    LINEAR ratio N/df rather than log(N/df): the ordering per document
    is identical for any monotone idf, and ``tf*N/df`` is one exact
    integer product and one IEEE division — bit-reproducible across
    engines (log() differs in the last ulp between libm and the JVM,
    which would make a value oracle flaky).  Ties break by term ASC.

    Scale shape: one shuffle of (doc, term) pairs for tf, one map-side-
    combined agg on term for df (broadcast back — the distinct-term dim
    is vocabulary-sized, not corpus-sized), and a per-doc window over at
    most |terms-in-doc| rows.  No all-pairs anything.
    """
    from pyspark.sql import Window  # local: keep module import-light

    terms = docs.select(
        F.col("doc_id"), F.explode(words_expr(F.col("text"))).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_counts = (
        terms.select("doc_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    n_docs = docs.select("doc_id").distinct().count()
    scored = tf.join(F.broadcast(df_counts), on="term").withColumn(
        "score",
        (F.col("tf") * F.lit(float(n_docs))) / F.col("df"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", F.round("score", 6).alias("score"))
    )


# -------------------------------------------------------------------------
# Gopher-style quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1) — the standard
# web-text document-quality gate every training-data pipeline runs.  All
# pure JVM array/string expressions with exact DuckDB SQL twins.
# -------------------------------------------------------------------------

# The paper's "must contain >= 2 of" stopword set.
GOPHER_REQUIRED_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def ws_tokens_expr(text: Column) -> Column:
    """Whitespace tokens with empties filtered ('' -> [])."""
    return F.filter(
        F.split(F.trim(text), r"\s+"), lambda w: w != F.lit("")
    )


def mean_word_length_expr(text: Column) -> Column:
    """Mean whitespace-token length (0.0 for empty docs), rounded to 6 —
    one exact integer sum and one IEEE division, bit-stable across
    engines."""
    ws = ws_tokens_expr(text)
    n = F.size(ws)
    total = F.aggregate(ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w))
    return F.when(n > 0, F.round(total.cast("double") / n, 6)).otherwise(F.lit(0.0))


def alpha_word_frac_expr(text: Column) -> Column:
    """Fraction of whitespace tokens containing >=1 ASCII letter."""
    ws = ws_tokens_expr(text)
    n = F.size(ws)
    hits = F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
    return F.when(n > 0, F.round(hits.cast("double") / n, 6)).otherwise(F.lit(0.0))


def required_stopword_hits_expr(text: Column) -> Column:
    """How many DISTINCT words of GOPHER_REQUIRED_STOPWORDS the doc
    contains (the paper keeps docs with >= 2).  Iterates the fixed
    8-element rule list, not the document — O(8) membership probes."""
    ws = ws_tokens_expr(text)
    rules = F.array(*[F.lit(s) for s in GOPHER_REQUIRED_STOPWORDS])
    return F.size(F.filter(rules, lambda s: F.array_contains(ws, s)))


def _nonempty_lines(text: Column) -> Column:
    return F.filter(
        F.split(text, "\n"), lambda l: F.trim(l) != F.lit("")
    )


def bullet_line_frac_expr(text: Column) -> Column:
    """Fraction of non-empty lines starting with a bullet ('- ' or '* ')."""
    lines = _nonempty_lines(text)
    n = F.size(lines)
    hits = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).startswith("- ") | F.trim(l).startswith("* "),
        )
    )
    return F.when(n > 0, F.round(hits.cast("double") / n, 6)).otherwise(F.lit(0.0))


def ellipsis_line_frac_expr(text: Column) -> Column:
    """Fraction of non-empty lines ending with '...'."""
    lines = _nonempty_lines(text)
    n = F.size(lines)
    hits = F.size(F.filter(lines, lambda l: F.trim(l).endswith("...")))
    return F.when(n > 0, F.round(hits.cast("double") / n, 6)).otherwise(F.lit(0.0))


def gopher_keep_expr(
    text: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_bullet_frac: float = 0.9,
    max_ellipsis_frac: float = 0.3,
    min_alpha_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> Column:
    """The conjunction of the Gopher quality rules as one boolean column.

    Defaults are the paper's; queries over the synthetic fixture narrow
    them so the gate actually discriminates at test scale."""
    n = F.size(ws_tokens_expr(text))
    mwl = mean_word_length_expr(text)
    return (
        (n >= min_words)
        & (n <= max_words)
        & (mwl >= min_mean_word_len)
        & (mwl <= max_mean_word_len)
        & (bullet_line_frac_expr(text) <= max_bullet_frac)
        & (ellipsis_line_frac_expr(text) <= max_ellipsis_frac)
        & (alpha_word_frac_expr(text) >= min_alpha_frac)
        & (required_stopword_hits_expr(text) >= min_stopword_hits)
    )


# -------------------------------------------------------------------------
# Repeated-n-gram repetition signals (Gopher §A1.1 "repetitious text":
# fraction of the doc accounted for by the most common n-gram, and the
# fraction of n-gram instances that are duplicates).  Row-local array
# expressions — no shuffle at all; each doc's grams never leave its row.
#
# The fraction helpers take the gram array as an already-bound column:
# a higher-order lambda that names a computed array re-evaluates it per
# element (no common-subexpression elimination reaches inside the lambda),
# so callers select words_expr(...) first, build the gram arrays from that
# column with word_ngrams_expr, and count over the gram columns.
#
# Scale note: the row-local distinct×filter count is O(g·d) per doc
# (g grams, d distinct grams) — right for web pages (10^2-10^3 words).
# For book-length docs flip to the explode shape: explode grams, groupBy
# (doc_id, gram) — one shuffle keyed by (doc, gram), skew-free because
# the doc id is in the key (same shape tfidf_topk_terms uses).
# -------------------------------------------------------------------------


def word_ngrams_expr(ws: Column, n: int = 2) -> Column:
    """Space-joined word n-grams over a bound :func:`words_expr` column;
    [] when the doc has fewer than n words (guards F.sequence's
    descending-range pitfall)."""
    sz = F.size(ws)
    grams = F.transform(
        F.sequence(F.lit(1), sz - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice(ws, i, n)),
    )
    return F.when(sz >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def top_ngram_frac_expr(grams: Column) -> Column:
    """Occurrences of the most frequent n-gram / total n-grams, over a
    bound :func:`word_ngrams_expr` column."""
    total = F.size(grams)
    top = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.size(F.filter(grams, lambda x: x == g)),
        )
    )
    return F.when(total > 0, F.round(top.cast("double") / total, 6)).otherwise(
        F.lit(0.0)
    )


def dup_ngram_frac_expr(grams: Column) -> Column:
    """Fraction of n-gram INSTANCES whose gram occurs more than once
    (= 1 - singletons/total), over a bound :func:`word_ngrams_expr`
    column."""
    total = F.size(grams)
    singles = F.size(
        F.filter(
            F.array_distinct(grams),
            lambda g: F.size(F.filter(grams, lambda x: x == g)) == 1,
        )
    )
    return F.when(
        total > 0,
        F.round((total - singles).cast("double") / total, 6),
    ).otherwise(F.lit(0.0))


# A BPE-style pretokenizer census (GPT-2's pattern simplified to classes
# whose semantics are identical in Java regex and RE2): letter runs,
# single digits, single non-alnum-non-space marks.  Token COUNT under
# this segmentation tracks real BPE token counts closely enough for
# budget/packing estimates, and is exactly reproducible in any engine.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def bpe_token_count_expr(text: Column) -> Column:
    """Count of BPE_ISH_PATTERN matches over the lowercased text — the
    pretokenizer-level token budget (whitespace never tokenizes)."""
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), F.lit(0)))


# --------------------------------------------------------------- blocklist
def blocklist_hits_expr(text: Column, words: list[str]) -> Column:
    r"""Number of distinct blocklist words present in ``text`` — the
    C4-style "bad words" gate (Raffel et al. 2020 drop any page containing
    a listed word; public CC-derived pipelines all carry a variant).

    Word-boundary, case-insensitive.  One compiled ``(?i)\b<word>\b``
    test per word, summed — for the typical few-hundred-word list this
    stays a flat chain of JVM regex exprs inside whole-stage codegen
    (each list word is its own alternation-free pattern, so Java-regex
    and RE2 agree trivially and an oracle replays it term by term).
    Words must be plain ``[a-z]+`` tokens; anything else raises — the
    blocklist is a config artifact, not untrusted data.

    Scale shape: row-local, no shuffle; the derived boolean
    (``hits == 0``) pushes into the scan like every other quality gate.
    """
    if not words:
        raise ValueError("blocklist is empty")
    for w in words:
        if not w.isascii() or not w.isalpha() or w != w.lower():
            raise ValueError(f"blocklist words must be plain [a-z]+ tokens: {w!r}")
    total = F.lit(0)
    for w in words:
        total = total + text.rlike(r"(?i)\b" + w + r"\b").cast("int")
    return total
