"""Adaptive re-crawl scheduling from fetch history (SURVEY.md §2.9 family).

The reference walks a static file tree once; a living frontier at
10^10-URL scale spends most of its budget RE-fetching, and the classic
policy (Cho & Garcia-Molina, TOIT 2003) allocates that budget by each
URL's observed change rate: pages whose payload digest flips between
consecutive fetches earn short re-crawl intervals, static pages decay to
the maximum interval.

Scale shape: ONE shuffle keyed by url (the lag window + groupBy share the
same partitioning, so Catalyst plans a single exchange), map-side combine
on the aggregate, pure JVM exprs end-to-end.  Output grain: one row per
url — exactly the priority/next-due columns ``plans/crawl.py`` consumes
as seed priorities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def recrawl_schedule(
    history: DataFrame,
    base_interval_sec: float = 86400.0,
    min_interval_sec: float = 3600.0,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Estimate per-URL change rates and derive a re-crawl schedule.

    ``history`` carries one row per past fetch: (url, ts, digest[, ...]).
    A *change* is a digest differing from the previous fetch's digest of
    the same url (lag over ts, tie-broken by ``order_cols`` so the scan
    order is total and engine-independent).

        change_rate = n_changes / (n_fetches - 1)        (0 if <2 fetches)
        interval    = clamp(base * (1 - rate) + min * rate, min, base)
                    = base - (base - min) * rate          (linear blend)
        next_due    = epoch(last_fetch) + interval        (epoch seconds)

    The linear blend keeps every step an add/multiply an oracle replays
    exactly; the textbook exponential-decay estimator orders URLs
    identically for a fixed fetch cadence.  Rounded to 6 decimals.
    """
    w = Window.partitionBy("url").orderBy(
        F.col("ts"), *[F.col(c) for c in order_cols]
    )
    prev = F.lag(F.col("digest")).over(w)
    changed = (
        prev.isNotNull() & (F.col("digest") != prev)
    ).cast("bigint")

    per_url = (
        history.select(
            "url",
            F.col("ts").alias("_ts"),
            changed.alias("_chg"),
        )
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum("_chg").alias("n_changes"),
            F.max("_ts").alias("_last_ts"),
        )
    )
    rate = F.when(
        F.col("n_fetches") > 1,
        F.col("n_changes").cast("double") / (F.col("n_fetches") - 1),
    ).otherwise(F.lit(0.0))
    interval = (
        F.lit(float(base_interval_sec))
        - (float(base_interval_sec) - float(min_interval_sec)) * F.col("change_rate")
    )
    return (
        per_url.withColumn("change_rate", F.round(rate, 6))
        .withColumn("recrawl_interval_sec", F.round(interval, 6))
        .select(
            "url",
            "n_fetches",
            "n_changes",
            "change_rate",
            "recrawl_interval_sec",
            F.round(
                F.unix_timestamp("_last_ts").cast("double")
                + F.col("recrawl_interval_sec"),
                6,
            ).alias("next_due_epoch"),
        )
    )
