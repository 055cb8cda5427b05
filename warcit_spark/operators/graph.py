"""Connected components — dup-cluster resolution for the dedup family.

Near-dup detection (MinHash/SimHash/ngram-Jaccard, operators/dedup.py)
emits PAIRS; a training-data pipeline then needs each document's CLUSTER
(keep one representative per component, drop the rest).  At 10^10 docs
that is a large-scale connected-components problem.

The implementation is the alternating large-star/small-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
— public literature):

- large-star (per center u over the SYMMETRIZED neighborhood): every
  neighbor v > u re-points to m(u) = min(Γ(u) ∪ {u}).
- small-star (per center u over edges oriented larger→smaller): u and
  every smaller neighbor point to min(Γ⁻(u) ∪ {u}).

Both passes are expressed as a groupBy-min + equi-join back — NOT a
``collect_set`` of neighborhoods, so a hot component center (which
accumulates millions of neighbors as the component collapses) never
materializes its neighbor list in one task; skew lands on AQE's
skew-join handling instead.  Convergence is O(log² n) alternations on
any graph; each iteration costs two such passes plus one scalar
convergence probe.  No driver-side graph state.

Determinism: labels are component MINIMUM node ids — a pure function of
the graph, independent of partitioning or iteration order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# large/small-star alternations before connected_components gives up
CC_MAX_ITER = 20


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star pass: (v, m(u)) for every center u and neighbor
    v > u, with m(u) = min(Γ(u) ∪ {u})."""
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).where(F.col("src") != F.col("dst"))
    mins = sym.groupBy("src").agg(F.min("dst").alias("_minn"))
    m = F.least(F.col("src"), F.col("_minn"))
    return (
        sym.join(mins, on="src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star pass: orient larger→smaller; each center u and all
    its smaller neighbors point at min(Γ⁻(u) ∪ {u})."""
    e = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = e.groupBy("u").agg(F.min("v").alias("_minv"))
    pointed = e.join(mins, on="u").select(
        F.col("v").alias("src"), F.col("_minv").alias("dst")
    )
    centers = mins.select(F.col("u").alias("src"), F.col("_minv").alias("dst"))
    return (
        pointed.unionByName(centers)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id of its connected component (minimum under the id
    type's natural ordering — longs, strings, and any orderable Spark
    type all work).

    ``edges`` is undirected input — (a, b) and (b, a) are equivalent,
    self-loops ignored.  Isolated nodes don't appear in an edge list;
    callers wanting singleton rows left-join this output back onto their
    node table and ``coalesce(component, node)``.

    The loop ends when a further large-star pass is a no-op (the edge set
    is a star graph: every node points at its component minimum).  Raises
    after ``CC_MAX_ITER`` alternations — convergence is O(log² n) alternations, so a
    non-converged graph signals pathological input.
    """
    # ids keep their native type — any orderable type works (the labels
    # are component minima under that type's ordering); casting to long
    # here would ANSI-crash or NULL-out string doc ids from the dedup
    # operators this feeds
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )

    # localCheckpoint per iteration TRUNCATES lineage — the star passes
    # reference their input several times (symmetrize union + min-join),
    # so an un-truncated plan doubles every iteration and the driver OOMs
    # analyzing it long before the data is big (the classic iterative-
    # DataFrame pitfall; persist alone does not cut the logical plan)
    e = e.localCheckpoint(eager=True)
    for _ in range(CC_MAX_ITER):
        stepped = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # converged iff the alternation is a no-op (set equality with the
        # previous edge set).  NB a large-star-only probe is NOT enough:
        # {(v,a),(v,b)} with a,b < v is a large-star fixed point that is
        # not a star graph — the small-star pass is what collapses it.
        # ONE action per iteration: both sides are distinct sets, so a
        # signed-union aggregate (+1 for stepped, -1 for e, grouped by
        # edge) has a nonzero sum exactly on the symmetric difference —
        # one groupBy shuffle instead of two exceptAll jobs; at O(log² n)
        # alternations over 10^10-edge graphs the probe-job overhead is
        # what dominates the driver critical path.
        changed = (
            stepped.select("src", "dst", F.lit(1).alias("_d"))
            .unionByName(e.select("src", "dst", F.lit(-1).alias("_d")))
            .groupBy("src", "dst")
            .agg(F.sum("_d").alias("_s"))
            .where(F.col("_s") != 0)
            .limit(1)
            .count()
        )
        e = stepped
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ITER} iterations"
        )

    # star graph: every edge is node -> component minimum; the minimum
    # itself joins as its own component member
    comps = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return comps.unionByName(roots).distinct()


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """Near-dup pairs -> (doc_id, cluster) with cluster = min doc id of
    the dup group — the keep-one-representative assignment
    (``doc_id == cluster`` rows are the keepers)."""
    cc = connected_components(
        pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    )
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster")
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list — the
    host/page authority score a crawl frontier prioritizes by (the
    north-star's priority column; plans/crawl.py consumes any
    (node, score) table as seed priorities).

    Standard formulation: uniform teleport, dangling mass (rank held by
    nodes with no out-edges) redistributed uniformly each step,

        r'(v) = (1-d)/n + d * (sum_{u->v} r(u)/deg(u) + dm/n)

    so total rank stays 1 every iteration.

    Scale shape: per iteration ONE shuffle keyed by dst (the contrib
    groupBy, map-side combined) plus broadcast 1-row joins for n and the
    dangling mass — NO driver-side scalars, no collect; the vertex count
    and dangling mass ride as broadcast single-row frames.  Lineage is
    truncated per iteration (localCheckpoint) exactly as in
    connected_components above — the same iterative-DataFrame pitfall.
    Fixed ``iters`` (power iteration converges geometrically at rate
    ``damping``; rank ORDER stabilizes long before values — 3-10
    iterations is the practical crawl-prioritization regime).

    Returns (node, rank) with rank rounded to 9 decimals.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    v = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n1 = v.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    # out-degrees once per call: both joins of every iteration read them
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).cast("double").alias("_deg"))
        .localCheckpoint(eager=True)
    )

    rank = v.crossJoin(F.broadcast(n1)).select(
        "node", (F.lit(1.0) / F.col("_n")).alias("rank")
    )
    for _ in range(iters):
        dm1 = (
            rank.join(deg, rank["node"] == deg["src"], "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
        )
        contrib = (
            e.join(rank, e["src"] == rank["node"])
            .join(deg, on="src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("_deg")).alias("_s"))
            .withColumnRenamed("dst", "node")
        )
        rank = (
            v.join(contrib, on="node", how="left")
            .crossJoin(F.broadcast(n1))
            .crossJoin(F.broadcast(dm1))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("_n")
                    + damping
                    * (F.coalesce(F.col("_s"), F.lit(0.0)) + F.col("_dm") / F.col("_n"))
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return rank.select("node", F.round("rank", 9).alias("rank"))


def degree_stats(
    edges: DataFrame
) -> DataFrame:
    """First-order link-graph features per node — out-degree, in-degree,
    and link reciprocity — the cheap signals a crawl prioritizer and a
    link-spam classifier consume before anything iterative (reciprocal
    link farms show recip_ratio ~1; genuine hubs are high out / low
    recip).

    Scale shape: the edge list is distinct-ed once, then TWO map-side-
    combined groupBys (src-keyed, dst-keyed) and ONE self-semi-join on
    the reversed key for reciprocity — every shuffle is keyed on a node
    id, no window, no collect.  Output grain: one row per node.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).alias("in_deg")
    )
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    recip = (
        e.join(rev, on=["src", "dst"], how="left_semi")
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("recip_deg"))
    )
    return (
        out_deg.join(in_deg, on="node", how="full")
        .join(recip, on="node", how="full")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("recip_deg", F.lit(0)).alias("recip_deg"),
            F.when(
                F.coalesce("out_deg", F.lit(0)) > 0,
                F.round(
                    F.coalesce("recip_deg", F.lit(0)).cast("double")
                    / F.col("out_deg"),
                    9,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("recip_ratio"),
        )
    )


def hits(
    edges: DataFrame,
    iters: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed edge
    list — the classic complement to PageRank for crawl seeding: high-hub
    pages are the link indexes worth re-crawling for discovery, high-
    authority pages are the content worth fetching first.

    Per iteration: auth(v) = sum of hub over in-edges, L1-normalized;
    then hub(u) = sum of auth over out-edges, L1-normalized.  L1 (not
    the textbook L2) keeps every arithmetic step a sum/divide an oracle
    SQL engine replays bit-for-bit modulo the final round; ordering and
    ratios are unaffected (normalization choice only rescales).

    Scale shape mirrors ``pagerank`` above: per half-step ONE shuffle
    keyed by dst (resp. src) with map-side combine, plus a broadcast
    1-row frame for the normalizing sum — no driver scalars, no collect;
    lineage truncated per iteration (localCheckpoint).  Fixed ``iters``:
    HITS converges to the principal eigenvector geometrically; 2-5
    iterations is the practical seeding regime.

    Returns (node, hub, auth) rounded to 9 decimals.
    """
    e = (
        edges.select("src", "dst")
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    v = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hub = v.select("node", F.lit(1.0).alias("hub"))
    auth = v.select("node", F.lit(0.0).alias("auth"))
    for _ in range(iters):
        a_raw = (
            e.join(hub, e["src"] == hub["node"])
            .groupBy("dst")
            .agg(F.sum("hub").alias("_a"))
            .withColumnRenamed("dst", "node")
        )
        a_sum = a_raw.agg(F.sum("_a").alias("_z"))
        auth = (
            v.join(a_raw, on="node", how="left")
            .crossJoin(F.broadcast(a_sum))
            .select(
                "node",
                (F.coalesce(F.col("_a"), F.lit(0.0)) / F.col("_z")).alias("auth"),
            )
            .localCheckpoint(eager=True)
        )
        h_raw = (
            e.join(auth, e["dst"] == auth["node"])
            .groupBy("src")
            .agg(F.sum("auth").alias("_h"))
            .withColumnRenamed("src", "node")
        )
        h_sum = h_raw.agg(F.sum("_h").alias("_z"))
        hub = (
            v.join(h_raw, on="node", how="left")
            .crossJoin(F.broadcast(h_sum))
            .select(
                "node",
                (F.coalesce(F.col("_h"), F.lit(0.0)) / F.col("_z")).alias("hub"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        hub.join(auth, on="node")
        .select(
            "node",
            F.round("hub", 9).alias("hub"),
            F.round("auth", 9).alias("auth"),
        )
    )
