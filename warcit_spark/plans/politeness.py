"""Per-host politeness scheduling as a dataflow operator (SURVEY.md §2.9).

The reference is implicitly polite (single-threaded sequential walk,
/root/reference/warcit/base.py:36-41); a distributed frontier must make the
schedule explicit.  Semantics:

- per-host budget for the round: ``max(1, floor(host_budget / max(1,
  crawl_delay)))`` — a host's robots crawl_delay scales its budget down
  (crawl_delay is host-level, so the budget is uniform within a host —
  the condition under which two-stage ranking is exactly the single-window
  spec).
- total order within a host: ``priority DESC, url ASC`` (deterministic —
  canonical URLs are unique; this is the engine's *defined* total order
  replacing the reference's filesystem-enumeration order, SURVEY.md §7.3).
- rows ranked beyond the budget are *deferred*: they stay in the frontier
  for the next round, priority untouched.

Scale: a naive ``row_number() OVER (PARTITION BY host)`` funnels a hot
host (60% of a 10^10 frontier) through one task.  Ranking runs in two
stages over two frames:

1. :func:`politeness_prerank` — ``_pre_ok`` flag from a window over the
   *salted* host key (``host#pmod(murmur3(url), n_salt)``): the hot host
   fans out over ``n_salt`` tasks, and at most ``n_salt x budget`` rows
   per host survive.  Every true top-budget row survives (it is top-budget
   within its own slot), so stage 2 loses nothing.
2. :func:`politeness_rank` — exact ``row_number()`` over the plain host
   key on the *bounded* survivor set only.  The hot host's full backlog is
   never sorted in one task.

Deferred rows = stage-1 losers UNION stage-2 overflow — set algebra on the
two frames, no anti-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warcit_spark.functions.urls import salted_host_expr


def host_round_budget_expr(host_budget: int, crawl_delay: Column) -> Column:
    return F.greatest(
        F.lit(1),
        F.floor(F.lit(float(host_budget)) / F.greatest(F.lit(1.0), crawl_delay)),
    ).cast("int")


def politeness_prerank(
    frontier: DataFrame,
    host_budget: int,
    n_salt: int = 16,
    allowed_col: str = "allowed",
) -> DataFrame:
    """Stage 1: add ``_pre_ok`` (survives the salted pre-ranking).

    Robots-denied rows (``allowed`` false) are never ``_pre_ok`` and never
    consume a slot (ordered last within each salt slot).  ``allowed_col``
    is kept only because existing callers pass ``allowed_col="allowed"``,
    so any other value is rejected.
    """
    if allowed_col != "allowed":
        raise ValueError(f"allowed_col={allowed_col!r} is not supported")
    budget = host_round_budget_expr(host_budget, F.col("crawl_delay"))
    allowed = F.col("allowed")
    w_salt = Window.partitionBy(
        salted_host_expr(F.col("host"), F.col("url"), n_salt)
    ).orderBy(allowed.desc(), F.col("priority").desc(), F.col("url").asc())
    pre_ok = (F.row_number().over(w_salt) <= budget) & allowed
    return frontier.withColumn("_pre_ok", pre_ok)


def politeness_rank(
    survivors: DataFrame,
    host_budget: int,
) -> DataFrame:
    """Stage 2: exact per-host rank + ``selected`` flag on the bounded
    survivor set (callers pass ``pre.where('_pre_ok')``)."""
    budget = host_round_budget_expr(host_budget, F.col("crawl_delay"))
    w_host = Window.partitionBy("host").orderBy(
        F.col("priority").desc(), F.col("url").asc()
    )
    ranked = survivors.withColumn("_rk", F.row_number().over(w_host))
    selected = F.col("_rk") <= budget
    return ranked.select(
        *survivors.columns,
        selected.alias("selected"),
        F.when(selected, F.col("_rk")).alias("rank_in_host"),
    )
