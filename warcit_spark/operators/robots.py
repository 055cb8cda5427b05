"""robots.txt rule application as a broadcast join (SURVEY.md §2.9).

The reference has no robots handling (its inputs are enumerated files); the
frontier engine needs it.  Model: a small ``robots(host, path_prefix,
allow, crawl_delay)`` table; for each URL the **longest matching
path_prefix** rule on its host wins; no matching rule means allowed with
crawl_delay 1.0.

Physical shape — zero shuffle on the frontier side: rules are pre-grouped
per host (tiny aggregation on the broadcast side), broadcast-joined on
``host``, and the longest-prefix argmax runs *inside the row* with
higher-order array functions (``filter`` + ``aggregate``).  The frontier is
scanned once, no window, no re-grouping; the 10^10-row side never moves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_RULE_TYPE = "struct<path_prefix:string,allow:boolean,crawl_delay:double>"
# seconds; a host with no robots rule, or no Crawl-delay line, gets this
DEFAULT_CRAWL_DELAY = 1.0


def _longest_prefix_rule(rules: Column, path: Column) -> Column:
    matched = F.filter(rules, lambda r: path.startswith(r["path_prefix"]))
    return F.aggregate(
        matched,
        F.lit(None).cast(_RULE_TYPE),
        lambda acc, r: F.when(
            acc.isNull()
            | (F.length(r["path_prefix"]) > F.length(acc["path_prefix"])),
            r,
        ).otherwise(acc),
    )


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Annotate frontier rows with ``allowed`` and ``crawl_delay``.

    ``frontier`` must carry ``url`` and ``host``.  Grain preserved: one row
    in, one row out.
    """
    rules_by_host = robots.groupBy("host").agg(
        F.collect_list(
            F.struct(
                F.col("path_prefix"), F.col("allow"), F.col("crawl_delay")
            )
        ).alias("_rules"),
        # crawl_delay is a HOST-level property (max over the host's rules —
        # conservative politeness).  Keeping the per-round budget constant
        # within a host is what makes the two-stage salted politeness
        # ranking exactly equal to the single-window spec (top-k per host
        # distributes over salt slots only under a uniform cutoff).
        F.max("crawl_delay").alias("_host_delay"),
    )
    path = F.coalesce(F.try_parse_url(F.col("url"), F.lit("PATH")), F.lit("/"))
    best = _longest_prefix_rule(F.col("_rules"), path)
    return (
        frontier.join(F.broadcast(rules_by_host), on="host", how="left")
        .withColumn("_best", best)
        .select(
            *frontier.columns,
            F.coalesce(F.col("_best")["allow"], F.lit(True)).alias("allowed"),
            F.coalesce(F.col("_host_delay"), F.lit(DEFAULT_CRAWL_DELAY)).alias(
                "crawl_delay"
            ),
        )
    )
