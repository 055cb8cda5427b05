"""Tests for sequence packing (operators/packing.py) and the Gopher
quality / repeated-n-gram expressions (functions/text.py).

Packing invariants are checked against a pure-Python next-fit twin on
hand-built corpora; quality exprs against hand-computed values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from warcit_spark.functions.text import (
    alpha_word_frac_expr,
    bullet_line_frac_expr,
    dup_ngram_frac_expr,
    ellipsis_line_frac_expr,
    gopher_keep_expr,
    mean_word_length_expr,
    required_stopword_hits_expr,
    top_ngram_frac_expr,
    word_ngrams_expr,
    words_expr,
    ws_tokens_expr,
)
from warcit_spark.operators.packing import chunk_pack, greedy_pack


# ----------------------------------------------------------------- packing


def _docs(spark, tokens_by_id):
    rows = [(i, " ".join(["w"] * t)) for i, t in tokens_by_id.items()]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _nextfit_twin(tokens_by_id, capacity, n_buckets):
    """Pure-Python greedy next-fit, the spec greedy_pack must match."""
    out = {}
    for b in range(n_buckets):
        ids = sorted(i for i in tokens_by_id if i % n_buckets == b)
        cur, fill = 0, 0
        for i in ids:
            t = tokens_by_id[i]
            if fill > 0 and fill + t > capacity:
                cur, fill = cur + 1, 0
            out[i] = (b, cur, fill)
            fill += t
    return out


def test_greedy_pack_matches_python_twin(spark):
    tokens = {i: (i * 37) % 90 + 5 for i in range(60)}
    docs = _docs(spark, tokens)
    got = {
        r["doc_id"]: (r["bucket"], r["bin"], r["offset"])
        for r in greedy_pack(docs, capacity=100, n_buckets=4).collect()
    }
    assert got == _nextfit_twin(tokens, 100, 4)


def test_greedy_pack_never_overfills_and_never_straddles(spark):
    tokens = {i: (i * 13) % 70 + 1 for i in range(80)}
    docs = _docs(spark, tokens)
    packed = greedy_pack(docs, capacity=64, n_buckets=3)
    rows = sorted(packed.collect(), key=lambda r: (r["bucket"], r["bin"], r["offset"]))
    from itertools import groupby

    for _, grp in groupby(rows, key=lambda r: (r["bucket"], r["bin"])):
        grp = list(grp)
        # a window is only overfull if a single doc exceeds capacity
        assert sum(r["tokens"] for r in grp) <= 64 or len(grp) == 1
        # offsets are the within-bin running sum: offset + tokens <= next offset
        assert grp[0]["offset"] == 0
        for a, b in zip(grp, grp[1:]):
            assert a["offset"] + a["tokens"] == b["offset"]


def test_greedy_pack_oversized_doc_gets_own_bin(spark):
    docs = _docs(spark, {0: 10, 4: 500, 8: 10})  # all bucket 0 (n_buckets=4)
    got = {
        r["doc_id"]: (r["bin"], r["offset"])
        for r in greedy_pack(docs, capacity=100, n_buckets=4).collect()
    }
    assert got == {0: (0, 0), 4: (1, 0), 8: (2, 0)}


def test_chunk_pack_running_sums_and_straddle(spark):
    docs = _docs(spark, {0: 100, 4: 100, 8: 100})  # one bucket, capacity 256
    got = {
        r["doc_id"]: (r["start_off"], r["bin_first"], r["bin_last"])
        for r in chunk_pack(docs, capacity=256, n_buckets=4).collect()
    }
    # doc 8 starts at 200 and ends at 299 -> straddles windows 0 and 1
    assert got == {0: (0, 0, 0), 4: (100, 0, 0), 8: (200, 0, 1)}


def test_chunk_pack_empty_doc_and_bad_capacity(spark):
    docs = spark.createDataFrame([(0, ""), (4, "a b")], "doc_id long, text string")
    got = {
        r["doc_id"]: (r["tokens"], r["bin_first"], r["bin_last"])
        for r in chunk_pack(docs, capacity=10, n_buckets=4).collect()
    }
    assert got == {0: (0, 0, 0), 4: (2, 0, 0)}
    with pytest.raises(ValueError):
        greedy_pack(docs, capacity=0)


def test_greedy_pack_plan_is_single_bucket_exchange(spark):
    """The only shuffle is the hash exchange on bucket feeding the
    Arrow-grouped map — no extra sort/exchange stacked on top."""
    docs = _docs(spark, {i: 5 for i in range(20)})
    plan = greedy_pack(docs, capacity=10, n_buckets=4)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(bucket") == 1


# ------------------------------------------------- gopher quality exprs


def _one(spark, text, expr):
    return spark.createDataFrame([(text,)], "text string").select(
        expr.alias("v")
    ).first()["v"]


def test_mean_word_length_and_alpha_frac(spark):
    assert _one(spark, "ab cdef", mean_word_length_expr(F.col("text"))) == 3.0
    assert _one(spark, "", mean_word_length_expr(F.col("text"))) == 0.0
    assert _one(spark, "ab 12 - cd", alpha_word_frac_expr(F.col("text"))) == 0.5
    assert _one(spark, "  a   b  ", F.size(ws_tokens_expr(F.col("text")))) == 2


def test_required_stopword_hits_distinct(spark):
    # 'the' twice still counts once; 'and' + 'of' add one each
    v = _one(spark, "the the and of cat", required_stopword_hits_expr(F.col("text")))
    assert v == 3
    assert _one(spark, "cat dog", required_stopword_hits_expr(F.col("text"))) == 0


def test_bullet_and_ellipsis_line_fracs(spark):
    text = "- one\nplain\n* two\nend...\n\n  \n"
    assert _one(spark, text, bullet_line_frac_expr(F.col("text"))) == 0.5
    assert _one(spark, text, ellipsis_line_frac_expr(F.col("text"))) == 0.25
    assert _one(spark, "", bullet_line_frac_expr(F.col("text"))) == 0.0


def test_gopher_keep_conjunction(spark):
    good = " ".join(["the word of tests runs fine"] * 10)  # 60 words, stopwords
    assert _one(spark, good, gopher_keep_expr(F.col("text"), min_words=50)) is True
    # too short
    assert _one(spark, "the of word", gopher_keep_expr(F.col("text"), min_words=50)) is False
    # no required stopwords
    nostop = " ".join(["word cats dogs run fast here"] * 10)
    assert _one(spark, nostop, gopher_keep_expr(F.col("text"), min_words=50)) is False


# ------------------------------------------------- repeated n-gram exprs


def test_word_ngrams_and_fracs(spark):
    def grams(n):
        return word_ngrams_expr(words_expr(F.col("text")), n)

    t = "a b a b c"
    assert _one(spark, t, grams(2)) == ["a b", "b a", "a b", "b c"]
    assert _one(spark, t, top_ngram_frac_expr(grams(2))) == 0.5
    assert _one(spark, t, dup_ngram_frac_expr(grams(2))) == 0.5
    # fewer words than n -> empty grams, 0.0 fractions (no descending
    # sequence() blowup)
    assert _one(spark, "solo", grams(2)) == []
    assert _one(spark, "", top_ngram_frac_expr(grams(3))) == 0.0


def test_bpe_token_count(spark):
    from warcit_spark.functions.text import bpe_token_count_expr

    # 'hello' 'world' -> 2; ',' '!' -> 2; '4' '2' -> 2 (digits split)
    assert _one(spark, "Hello, world! 42", bpe_token_count_expr(F.col("text"))) == 6
    assert _one(spark, "", bpe_token_count_expr(F.col("text"))) == 0
    assert _one(spark, "   ", bpe_token_count_expr(F.col("text"))) == 0


def test_exact_substring_spans_golden(spark):
    from warcit_spark.operators.dedup import exact_substring_spans

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),          # shares 'a b c d' with doc 1
            (1, "x x a b c d y z"),
            (2, "p q r s t u v w"),          # unique -> no spans
            (3, "a b c d a b c d"),          # anchors at pos 1 and 5: adjacent -> ONE span
            (4, "a b c"),                    # shorter than k -> no shingles
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_words"], r["n_anchors"])
        for r in exact_substring_spans(docs, k=4, min_count=2).collect()
    }
    assert got == {
        (0, 1, 4, 4, 1),
        (1, 3, 6, 4, 1),
        (3, 1, 8, 8, 2),
    }


def test_blocklist_hits(spark):
    from warcit_spark.functions.text import blocklist_hits_expr

    df = spark.createDataFrame(
        [
            ("the SLOW stream runs", 2),     # case-insensitive, two words
            ("slowly streaming vectors", 0),  # word boundaries: no substring hits
            ("vector", 1),
            ("clean text", 0),
        ],
        "text string, want int",
    )
    got = df.select(
        blocklist_hits_expr(F.col("text"), ["slow", "stream", "vector"]).alias("n"),
        "want",
    ).collect()
    assert all(r.n == r.want for r in got)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        blocklist_hits_expr(F.col("text"), [])
    with _pytest.raises(ValueError):
        blocklist_hits_expr(F.col("text"), ["bad-word"])


def test_recrawl_schedule_rates_and_bounds(spark):
    from warcit_spark.operators.recrawl import recrawl_schedule

    rows = [
        # url, ts, digest: a flips every fetch, b never, c single fetch
        ("a", "2024-01-01 00:00:00", "x1"),
        ("a", "2024-01-02 00:00:00", "x2"),
        ("a", "2024-01-03 00:00:00", "x3"),
        ("b", "2024-01-01 00:00:00", "y"),
        ("b", "2024-01-02 00:00:00", "y"),
        ("c", "2024-01-05 00:00:00", "z"),
    ]
    df = spark.createDataFrame(rows, "url string, ts string, digest string").select(
        "url", F.col("ts").cast("timestamp").alias("ts"), "digest"
    )
    out = {r.url: r for r in recrawl_schedule(df).collect()}
    assert (out["a"].n_fetches, out["a"].n_changes, out["a"].change_rate) == (3, 2, 1.0)
    assert out["a"].recrawl_interval_sec == 3600.0   # hottest -> min interval
    assert (out["b"].n_changes, out["b"].change_rate) == (0, 0.0)
    assert out["b"].recrawl_interval_sec == 86400.0  # static -> max interval
    assert out["c"].change_rate == 0.0               # single fetch: no evidence
    # next_due = epoch(last fetch) + interval
    import datetime as _dt

    last_a = _dt.datetime(2024, 1, 3, tzinfo=_dt.timezone.utc).timestamp()
    assert out["a"].next_due_epoch == last_a + 3600.0


def test_bpe_train_merges_matches_python_twin(spark):
    from tests.oracle import bpe_train_merges_py
    from warcit_spark.operators.bpe import bpe_train_merges

    texts = [
        "low lower lowest low low",
        "new newer newest new wider wide",
        "the newer the lower, the wider!",  # punctuation splits words
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = [
        (r.step, r.sym_left, r.sym_right, r.pair_count)
        for r in bpe_train_merges(df, n_merges=6).orderBy("step").collect()
    ]
    assert got == bpe_train_merges_py(texts, 6)
    # merged symbols compose: later merges may consume earlier ones
    assert any(len(l) > 1 or len(r) > 1 for _, l, r, _ in got[1:])


def test_bpe_early_stop_when_no_pairs_left(spark):
    from warcit_spark.operators.bpe import bpe_train_merges

    # single 1-char word: only pair is (a, </w>); after merging it there
    # is nothing left — asking for 5 merges must yield exactly 1
    df = spark.createDataFrame([("a a a",)], "text string")
    got = bpe_train_merges(df, n_merges=5).collect()
    assert [(r.step, r.sym_left, r.sym_right, r.pair_count) for r in got] == [
        (1, "a", "</w>", 3)
    ]


def test_host_quality_shrunk_math(spark):
    from warcit_spark.operators.host_stats import host_quality_shrunk

    rows = [
        ("big", 0.8), ("big", 0.9), ("big", 1.0), ("big", 0.9),
        ("tiny", 0.0),
    ]
    df = spark.createDataFrame(rows, "host string, quality double")
    out = {r.host: r for r in host_quality_shrunk(df, prior_weight=2.0).collect()}
    gm = 3.6 / 5  # global mean = 0.72
    assert out["big"].n_docs == 4
    assert out["big"].mean_quality == 0.9
    assert out["big"].shrunk_quality == round((3.6 + 2 * gm) / 6, 6)
    # tiny host (one awful doc) is pulled strongly toward the prior
    assert out["tiny"].mean_quality == 0.0
    assert out["tiny"].shrunk_quality == round((0.0 + 2 * gm) / 3, 6)
    assert out["tiny"].shrunk_quality > 0.4


