"""Dedup family + similarity search tests on crafted corpora."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from warcit_spark.functions.text import alnum_words_expr
from warcit_spark.operators.dedup import (
    exact_dedup,
    jaccard_expr,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    simhash,
    word_shingles_expr,
)
from warcit_spark.operators.similarity import cosine_topk, lsh_bucket_ann

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one-word change -> high jaccard
FAR = "completely different content about spark distributed query engines and parquet columnar storage formats"

DOCS = [
    (0, BASE),
    (1, BASE),               # exact dup of 0
    (2, NEAR),               # near dup of 0
    (3, FAR),
    (4, "   " + BASE + "  "),  # whitespace-normalized dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = {r.doc_id: r.dup_count for r in exact_dedup(docs).collect()}
    # 0,1,4 collapse (whitespace-normalized); 2 and 3 stand alone
    assert out == {0: 3, 2: 1, 3: 1}


def test_shingles_and_jaccard(spark, docs):
    pair = (
        docs.where(F.col("doc_id").isin(0, 2))
        .select(alnum_words_expr(F.col("text")).alias("w"))
        .agg(F.collect_list(word_shingles_expr(F.col("w"), 3)).alias("s"))
    )
    a_b = pair.select(
        jaccard_expr(F.col("s")[0], F.col("s")[1]).alias("j")
    ).first().j
    assert 0.7 < a_b < 1.0


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_lsh_dedup(docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 1) in pairs          # exact dup
    assert (0, 2) in pairs          # near dup
    assert not any(3 in p for p in pairs)  # FAR never pairs


def test_simhash_properties(spark, docs):
    out = {r.id: r.simhash for r in simhash(docs).collect()}
    assert out[0] == out[1]  # identical text -> identical simhash
    ham02 = bin((out[0] ^ out[2]) & ((1 << 64) - 1)).count("1")
    ham03 = bin((out[0] ^ out[3]) & ((1 << 64) - 1)).count("1")
    assert ham02 < ham03  # near-dup closer than unrelated


def test_ngram_jaccard_pairs(spark, docs):
    got = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got[(0, 1)] == 1.0
    assert 0.7 < got[(0, 2)] < 1.0
    assert not any(3 in p for p in got)


def test_ngram_jaccard_df_cap_stop_phrase_heavy(spark):
    """df_max excludes stop-phrase shingles from CANDIDATE GENERATION while
    values stay exact: a corpus where one phrase appears in every document
    must not quadratically pair everything, yet a genuine near-dup pair
    (which also shares rarer shingles) is still found with its exact
    Jaccard."""
    stop = "click here to accept cookies on this site"
    rows = [(i, f"{stop} unique page number {i} body content item {i}")
            for i in range(20)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta iota"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exact = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5, df_max=None).collect()
    }
    capped = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5, df_max=3).collect()
    }
    # the near-dup pair shares df=1 shingles -> survives the cap, value exact
    assert (100, 101) in capped
    assert capped[(100, 101)] == exact[(100, 101)]
    # capped results are a subset of exact, with identical values
    for pair, j in capped.items():
        assert exact[pair] == j
    # the stop-phrase docs share ONLY df=20 shingles (> cap) and differ in
    # all their unique shingles -> none of them can pair under the cap
    assert not any(a < 100 and b < 100 for (a, b) in capped)
    # default is now EXACT (df_max=None): no silent recall loss
    default = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert default == exact


def test_ngram_jaccard_df_cap_exclusion_is_observable(spark):
    """When df_max actually excludes shingles, the observation riding the
    caller's action reports how many — recall loss is never silent."""
    stop = "click here to accept cookies on this site"
    rows = [(i, f"{stop} unique page number {i} body content item {i}")
            for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    from warcit_spark.operators.dedup import ngram_dfcap_excluded

    out = ngram_jaccard_pairs(docs, threshold=0.5, df_max=3)
    out.collect()
    assert ngram_dfcap_excluded(out) > 0  # df=20 stop-phrase shingles dropped

    # a cap that excludes nothing reports zero
    out2 = ngram_jaccard_pairs(docs, threshold=0.99, df_max=10_000)
    out2.collect()
    assert ngram_dfcap_excluded(out2) == 0
    # no cap -> nothing to observe
    out3 = ngram_jaccard_pairs(docs, threshold=0.5)
    assert ngram_dfcap_excluded(out3) is None


# ----------------------------------------------------------------- similarity
def test_cosine_topk_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    q = list(rows[0].embedding)

    got = [(r.vec_id, r.cosine) for r in cosine_topk(emb, q, k=5).collect()]

    M = np.array([r.embedding for r in rows], dtype=np.float64)
    qv = np.array(q)
    sims = (M @ qv) / (np.linalg.norm(M, axis=1) * np.linalg.norm(qv))
    order = sorted(
        zip([r.vec_id for r in rows], sims), key=lambda t: (-round(t[1], 6), t[0])
    )[:5]
    for (gid, gcos), (wid, wcos) in zip(got, order):
        assert gid == wid
        assert math.isclose(gcos, round(wcos, 6), abs_tol=2e-6)


def test_lsh_ann_contains_query_itself(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    first = emb.orderBy("vec_id").first()
    got = lsh_bucket_ann(emb, list(first.embedding), k=5).collect()
    assert got, "query's own bucket must not be empty"
    assert got[0].vec_id == first.vec_id  # the vector itself is its own NN
    assert got[0].cosine == pytest.approx(1.0, abs=1e-6)


def test_srp_plane_signs_match_spark_hash(spark):
    """srp_plane_signs's Python murmur3 must agree bit-for-bit with F.hash
    (this equivalence is what lets the DuckDB oracle reproduce buckets)."""
    from warcit_spark.operators.similarity import srp_plane_signs

    n_planes, dim = 4, 64
    seeds = [p * 1_000_003 + d for p in range(n_planes) for d in range(dim)]
    df = spark.createDataFrame([(s,) for s in seeds], "s int").select(
        "s", F.hash("s").alias("h")
    )
    spark_signs = {r.s: (1.0 if r.h % 2 == 0 else -1.0) for r in df.collect()}
    py = srp_plane_signs(n_planes, dim)
    for p in range(n_planes):
        for d in range(dim):
            assert py[p][d] == spark_signs[p * 1_000_003 + d]


def test_xxhash64_py_matches_spark(spark):
    """xxhash64_py's pure-Python XXH64 must agree bit-for-bit with
    F.xxhash64 on UTF-8 strings (this equivalence is what lets the DuckDB
    oracle reproduce simhash signatures as literals).  Covers every
    tail-length branch (<4, <8, 8..31) and the >=32-byte stripe loop."""
    from warcit_spark.functions.text import xxhash64_py

    words = [
        "a", "ab", "abc", "abcd", "abcde", "customer", "windowful",
        "0123456789abcdef", "0123456789abcdefg", "x" * 31, "y" * 32,
        "z" * 33, "the quick brown fox jumps over the lazy dog", "",
        "héllo wörld",  # multi-byte UTF-8
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", F.xxhash64("w").alias("h")
    )
    spark_hashes = {r.w: r.h for r in df.collect()}
    for w in words:
        assert xxhash64_py(w.encode("utf-8")) == spark_hashes[w], w


def test_kmeans_kdim_guard(spark):
    """The driver-side coarse-quantizer loop is bounded: k*dim beyond
    KMEANS_MAX_KDIM raises before any per-iteration collect runs."""
    from warcit_spark.operators.similarity import (
        KMEANS_MAX_KDIM,
        kmeans_centroids,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="k\\*dim"):
        kmeans_centroids(df, k=(KMEANS_MAX_KDIM // 4) + 1)


def test_kmeans_centroids_matches_numpy_lloyds(spark):
    """Distributed deterministic Lloyd's == a numpy reference on the same
    init (k lowest-id vectors) for every iteration count."""
    import numpy as np

    from warcit_spark.operators.similarity import kmeans_centroids

    rng = [[float(((i * 7 + d * 3) % 11) - 5) for d in range(4)] for i in range(30)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<double>"
    )
    k, iters = 3, 4
    got = kmeans_centroids(df, k=k, iters=iters)

    X = np.array(rng)
    C = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            if (assign == c).any():
                C[c] = X[assign == c].mean(axis=0)
    assert np.allclose(np.array(got), C, atol=1e-9)


def test_ivf_topk_exact_when_probing_all(spark, sf_dir):
    """nprobe == n_centroids degrades to exact brute force: result set ==
    cosine_topk; with nprobe=2 the result is a subset of the probed
    buckets and recall@10 vs exact is positive."""
    from warcit_spark.operators.similarity import (
        cosine_topk,
        ivf_random_centroids,
        ivf_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.where(F.col("vec_id") == 0).first().embedding)
    cents = ivf_random_centroids(k=8, dim=len(q))
    exact = [(r.vec_id, r.cosine) for r in cosine_topk(emb, q, k=10).collect()]
    allprobe = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(emb, q, cents, k=10, nprobe=8).collect()
    ]
    assert allprobe == exact
    few = {r.vec_id for r in ivf_topk(emb, q, cents, k=10, nprobe=2).collect()}
    assert len(few & {v for v, _ in exact}) > 0  # positive recall
    assert 0 in few  # the query vector's own bucket is always probed


def test_pii_scrub_and_count(spark):
    from warcit_spark.functions.text import pii_count_expr, pii_scrub_expr

    rows = [
        (0, "mail bob.smith+x@corp.example.org now"),
        (1, "call 555-123-4567 or 020 7946 0958"),
        (2, "server at 10.0.0.1 port 80"),
        (3, "clean text with no pii at all"),
        (4, "a@b.io and 1.2.3.4 and 999-1234-5678"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r.id: (r.n, r.s)
        for r in df.select(
            "id",
            pii_count_expr(F.col("t")).alias("n"),
            pii_scrub_expr(F.col("t")).alias("s"),
        ).collect()
    }
    assert out[0] == (1, "mail <EMAIL> now")
    assert out[1][0] == 2  # both separator styles match
    assert out[1][1] == "call <PHONE> or <PHONE>"
    assert out[2] == (1, "server at <IP> port 80")
    assert out[3] == (0, "clean text with no pii at all")
    assert out[4][0] == 3
    assert "<EMAIL>" in out[4][1] and "<IP>" in out[4][1] and "<PHONE>" in out[4][1]


def test_repetition_ratio(spark):
    from warcit_spark.functions.text import repetition_ratio_expr

    rows = [
        (0, "a b c d"),            # all unique -> 0
        (1, "a a a a"),            # 1 distinct of 4 -> 0.75
        (2, ""),                   # empty -> 0
        (3, "x y x y x y"),        # 2 of 6 -> ~0.666667
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r.id: r.rr
        for r in df.select(
            "id", repetition_ratio_expr(F.col("t")).alias("rr")
        ).collect()
    }
    assert got[0] == 0.0
    assert got[1] == 0.75
    assert got[2] == 0.0
    assert abs(got[3] - 0.666667) < 1e-6


def test_lsh_ann_multiprobe_recall_monotone(spark, sf_dir):
    """Multi-probe widens the candidate set: recall@k vs exact top-k is
    non-decreasing in hamming_probe, and probe=n_planes is exact."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = list(emb.orderBy("vec_id").first().embedding)
    exact = {r.vec_id for r in cosine_topk(emb, q, k=10).collect()}
    prev = -1.0
    for h in (0, 1, 2, 4):
        got = {r.vec_id for r in lsh_bucket_ann(emb, q, k=10, hamming_probe=h).collect()}
        recall = len(got & exact) / len(exact)
        assert recall >= prev - 1e-9
        prev = recall
    # probing every bucket (h = n_planes) degenerates to the exact scan
    assert prev == 1.0


def test_kmeans_centroids_py_twin_bit_for_bit(spark, sf_dir):
    """Spark kmeans_centroids == the pure-Python twin EXACTLY (not just
    allclose): decimal-exact sums make the distributed result independent
    of shuffle order, which is what lets the x7 DuckDB oracle replay the
    quantizer in SQL."""
    from tests.oracle import kmeans_centroids_py
    from warcit_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
        F.col("vec_id") < 128
    )
    got = kmeans_centroids(emb, k=4, iters=3)
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    want = kmeans_centroids_py(rows, k=4, iters=3)
    assert got == want  # float-identical, every component


# ------------------------------------------------------------------ semdedup
def test_semantic_dedup_greedy_lowest_id(spark):
    """Hand-built 2-D corpus: two clusters, one near-dup pair in each;
    keep = lowest id of each near-dup pair, all others kept."""
    from warcit_spark.operators.semdedup import semantic_dedup

    rows = [
        (0, [1.0, 0.0]),       # cluster around +x
        (1, [0.999, 0.012]),   # near-dup of 0 -> dropped
        (2, [0.6, 0.1]),       # same cluster, far -> kept
        (3, [0.0, 1.0]),       # cluster around +y
        (4, [0.011, 0.999]),   # near-dup of 3 -> dropped
        (5, [0.1, 0.7]),       # same cluster, far -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {
        r.vec_id: (r.cluster, r.keep)
        for r in semantic_dedup(emb, cents, threshold=0.999).collect()
    }
    assert got == {
        0: (0, True), 1: (0, False), 2: (0, True),
        3: (1, True), 4: (1, False), 5: (1, True),
    }


def test_semantic_dedup_cross_cluster_dups_not_seen(spark):
    """Identical vectors in DIFFERENT clusters are both kept — the
    SemDeDup candidate set is within-cluster by design (recall traded for
    the bounded quadratic term)."""
    from warcit_spark.operators.semdedup import semantic_dedup

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id int, embedding array<double>",
    )
    cents = [[1.0, 0.0], [0.0, 1.0]]
    got = {r.vec_id: r.keep for r in semantic_dedup(emb, cents, 0.5).collect()}
    assert got == {0: True, 1: True}


# ------------------------------------------------------------ decontaminate
def test_decontaminate_flags_shared_shingle(spark):
    from warcit_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id int, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "a quick brown fox appeared"),   # shares 'quick brown fox'
            (2, "entirely different words here"),
            (3, ""),                              # blank: never contaminated
            (4, "the quick brown fox jumps"),     # verbatim copy
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: r.contaminated
        for r in decontaminate(train, bench, n=3).collect()
    }
    assert got == {1: True, 2: False, 3: False, 4: True}


def test_decontaminate_blank_benchmark_never_matches(spark):
    from warcit_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(9, "")], "doc_id int, text string")
    train = spark.createDataFrame(
        [(1, ""), (2, "some words")], "doc_id int, text string"
    )
    got = {
        r.doc_id: r.contaminated
        for r in decontaminate(train, bench, n=3).collect()
    }
    assert got == {1: False, 2: False}


# -------------------------------------------------------------- line dedup
def test_line_dedup_removes_cross_doc_lines_preserves_order(spark):
    from warcit_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "intro\nCOMMON FOOTER\nunique middle 1\n\n  COMMON FOOTER  "),
            (2, "COMMON FOOTER\nunique middle 2"),
            (3, "only unique text here"),
            (4, "COMMON FOOTER"),          # fully wiped
            (5, ""),                        # blank doc
        ],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.text_clean, r.lines_kept, r.lines_removed)
        for r in line_dedup(docs, min_df=2).collect()
    }
    # trim-normalized "COMMON FOOTER" occurs in docs 1,2,4 -> dropped
    # everywhere (both occurrences in doc 1); blank lines always dropped.
    assert got[1] == ("intro\nunique middle 1", 2, 2)
    assert got[2] == ("unique middle 2", 1, 1)
    assert got[3] == ("only unique text here", 1, 0)
    assert got[4] == ("", 0, 1)
    assert got[5] == ("", 0, 0)


def test_line_dedup_min_df_counts_distinct_docs(spark):
    from warcit_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "same line\nsame line\nother"), (2, "different")],
        "doc_id int, text string",
    )
    # "same line" repeats WITHIN doc 1 only -> df=1 < 2 -> kept both times
    got = {
        r.doc_id: (r.text_clean, r.lines_kept, r.lines_removed)
        for r in line_dedup(docs, min_df=2).collect()
    }
    assert got[1] == ("same line\nsame line\nother", 3, 0)
    assert got[2] == ("different", 1, 0)
