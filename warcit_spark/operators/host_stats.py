"""Host/domain-level reputation aggregates (SURVEY.md §2 "ops a
training-data pipeline needs").

Public CC-derived pipelines gate entire DOMAINS, not just documents
(host blocklists, domain quality tiers): the per-host statistic has to
be robust for hosts with 3 documents as well as hosts with 3 million.
The standard tool is empirical-Bayes shrinkage toward the corpus mean —

    shrunk(host) = (sum_q + m * global_mean) / (n + m)

(a Beta/Gaussian prior worth ``m`` pseudo-documents): tiny hosts read as
the prior, big hosts as their own mean, no branching thresholds.

Scale shape: ONE map-side-combined groupBy over the corpus (the host
key), a second aggregation over the per-host frame (host-cardinality
sized), and the 1-row global rides back as a BROADCAST frame — zero
driver scalars (house pattern).  Per-document scores are cast to
DECIMAL(18,6) before summing so the sums are order-independent
(bit-reproducible under any partitioning — the kmeans/w4 discipline)
and an oracle engine replays them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def host_quality_shrunk(
    docs: DataFrame,
    prior_weight: float = 25.0,
) -> DataFrame:
    """Per-host doc count, raw mean score, and shrunk mean score.

    ``quality`` must be pre-rounded to <= 6 decimals (every engine
    score expr is — quality_score_expr etc.); it is summed as
    DECIMAL(18,6), so the aggregate is exact and deterministic.
    Returns (host, n_docs, mean_quality, shrunk_quality), the latter two
    rounded to 6 decimals.
    """
    q = F.col("quality").cast("decimal(18,6)")
    per = docs.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(q).alias("_sum_q"),
    )
    glob = per.agg(
        F.sum("_sum_q").alias("_gs"), F.sum("n_docs").alias("_gn")
    )
    m = float(prior_weight)
    gm = F.col("_gs").cast("double") / F.col("_gn")
    return (
        per.crossJoin(F.broadcast(glob))
        .select(
            "host",
            "n_docs",
            F.round(F.col("_sum_q").cast("double") / F.col("n_docs"), 6).alias(
                "mean_quality"
            ),
            F.round(
                (F.col("_sum_q").cast("double") + m * gm)
                / (F.col("n_docs") + F.lit(m)),
                6,
            ).alias("shrunk_quality"),
        )
    )
