"""SemDeDup-style semantic deduplication over an embedding column.

Public-literature basis: SemDeDup (Abbas et al., 2023, arXiv:2303.09540) —
k-means cluster the embedding space, then search for near-duplicates only
WITHIN a cluster, so the quadratic pair term is bounded per-cluster and
never corpus-wide.  The reference (webrecorder/warcit) has no
embedding-space operators; this belongs to the engine's training-data
surface (SURVEY.md §2, LLM-pipeline ops) next to exact/MinHash/SimHash
dedup and the IVF ANN family.

Scale shape at 100 TB:
- assignment is the same in-row argmin expression the IVF family uses
  (one dot product per centroid, no shuffle);
- the within-cluster self-join shuffles both sides on the cluster id once;
  k grows with the corpus so clusters stay ~constant size, and AQE
  skew-join splits any hot cluster;
- the drop rule is row-local after the pair scan (greedy lowest-id-wins),
  so no iterative closure is needed — a deliberate contrast with
  :func:`warcit_spark.operators.graph.dup_clusters`, which this composes
  with when full transitive clusters are wanted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcit_spark.operators.similarity import _nearest_centroid_expr, cosine_expr


def semantic_dedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.35,
) -> DataFrame:
    """(id, cluster, keep) — ``keep`` is false iff a same-cluster vector
    with a SMALLER id has ``round(cosine, 6) >= threshold``.

    Greedy lowest-id-wins is the deterministic analog of SemDeDup's
    keep-one-per-near-duplicate-group (the paper keeps the point farthest
    from the centroid; any deterministic representative rule preserves the
    dedup semantics, and id-min is reproducible in plain SQL for the
    oracle gate).  The cosine is rounded to 6 dp before the compare on
    both engines so the threshold test is bit-stable (same convention as
    ann2/x6).
    """
    vec = F.col("embedding").cast("array<double>")
    assigned = embeddings.select(
        F.col("vec_id"),
        vec.alias("_v"),
        _nearest_centroid_expr(vec, centroids).alias("cluster"),
    )
    a = assigned.select(
        F.col("vec_id").alias("_id_a"), F.col("_v").alias("_va"), "cluster"
    )
    b = assigned.select(
        F.col("vec_id").alias("_id_b"), F.col("_v").alias("_vb"), "cluster"
    )
    dup = (
        a.join(b, on="cluster")
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(F.round(cosine_expr(F.col("_va"), F.col("_vb")), 6) >= threshold)
        .select(F.col("_id_b").alias("vec_id"))
        .distinct()
    )
    return assigned.join(
        dup.withColumn("_dropped", F.lit(True)), on="vec_id", how="left"
    ).select("vec_id", "cluster", F.col("_dropped").isNull().alias("keep"))
