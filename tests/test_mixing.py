"""Token-budget corpus mixing (operators/mixing.py)."""

import hashlib
import math

from warcit_spark.operators.mixing import token_budget_mix

TOKENS = {"A": 100, "B": 20}  # per-source totals of _docs


def _docs(spark):
    rows = []
    # source A: 10 docs x 10 tokens; source B: 2 docs x 10 tokens
    for i in range(10):
        rows.append((i, "A", " ".join(["w"] * 10)))
    for i in range(10, 12):
        rows.append((i, "B", " ".join(["w"] * 10)))
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def _allocations(budget, alpha):
    """The per-source token allocation token_budget_mix applies: weights
    temperature-scaled by ``alpha`` and rounded to 6 decimals before the
    budget multiply."""
    z = sum(t**alpha for t in TOKENS.values())
    return {s: math.floor(budget * round(t**alpha / z, 6)) for s, t in TOKENS.items()}


def _kept_tokens(spark, budget, alpha):
    kept = {}
    for r in token_budget_mix(_docs(spark), budget=budget, alpha=alpha).collect():
        kept[r["source"]] = kept.get(r["source"], 0) + r["n_tokens"]
    return kept


def test_allocations_sqrt_temperature(spark):
    alloc = _allocations(90, 0.5)
    assert alloc == {"A": 62, "B": 27}
    # uniform 10-token docs: each source keeps whole docs up to its allocation
    kept = _kept_tokens(spark, 90, 0.5)
    assert kept == {"A": 60, "B": 20}
    # sqrt temperature gives B more than its 1/6 proportional share (15)
    assert kept["B"] > 90 * TOKENS["B"] / sum(TOKENS.values())


def test_mix_respects_budget_and_md5_order(spark):
    kept = token_budget_mix(_docs(spark), budget=90, alpha=0.5).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r["source"], []).append(r)
    # every source stays within its allocation
    alloc = _allocations(90, 0.5)
    for s, rows in by_src.items():
        assert max(r["cum_tokens"] for r in rows) <= alloc[s]
    # kept docs per source are the md5-smallest prefix, not doc_id order
    a_ids = sorted(
        (r["doc_id"] for r in by_src["A"]),
        key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
    )
    expect_n = alloc["A"] // 10  # uniform 10-token docs
    all_a_sorted = sorted(
        range(10), key=lambda i: hashlib.md5(str(i).encode()).hexdigest()
    )
    assert sorted(r["doc_id"] for r in by_src["A"]) == sorted(
        all_a_sorted[: int(expect_n)]
    )
    assert len(a_ids) == expect_n


def test_alpha_one_is_proportional(spark):
    # alpha = 1: each allocation is the source's proportional share of the
    # budget (here its whole token count), up to the 6-decimal weight rounding
    alloc = _allocations(120, 1.0)
    assert all(abs(alloc[s] - t) <= 1 for s, t in TOKENS.items())
    kept = _kept_tokens(spark, 120, 1.0)
    assert kept == {s: 10 * (a // 10) for s, a in alloc.items()}
    # the large source keeps more than under sqrt temperature
    assert kept["A"] > _kept_tokens(spark, 120, 0.5)["A"]
