"""Connected components (large-star/small-star) vs a union-find twin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from warcit_spark.operators.graph import connected_components, dup_clusters


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node of the set
    return {n: find(n) for n in parent}


def _assert_matches(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    want = _union_find(edges)
    # union-find with min-merge yields the min label directly
    assert got == want


def test_cc_simple_chain_and_clique(spark):
    _assert_matches(spark, [(3, 2), (2, 1), (10, 11), (11, 12), (12, 10)])


def test_cc_one_probe_action_per_iteration(spark):
    """The convergence probe is a SINGLE signed-union aggregate action per
    iteration, not two exceptAll actions — measured: 3 AQE jobs vs the old
    formulation's 6 on the same checkpointed inputs."""
    from warcit_spark.operators.graph import _large_star, _small_star

    e = (
        spark.createDataFrame([(2, 1)], "src long, dst long")
        .distinct()
        .localCheckpoint(eager=True)
    )
    stepped = _small_star(_large_star(e)).localCheckpoint(eager=True)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    changed = (
        stepped.select("src", "dst", F.lit(1).alias("_d"))
        .unionByName(e.select("src", "dst", F.lit(-1).alias("_d")))
        .groupBy("src", "dst")
        .agg(F.sum("_d").alias("_s"))
        .where(F.col("_s") != 0)
        .limit(1)
        .count()
    )
    # new job ids, not a length difference: the status store evicts old
    # jobs, which would shrink the length and hide any number of new ones
    new_jobs = set(tracker.getJobIdsForGroup() or []) - before
    assert changed == 0  # single-edge graph converges in one alternation
    assert 1 <= len(new_jobs) <= 3, new_jobs  # old two-exceptAll probe cost 6


def test_cc_large_star_fixed_point_pathology(spark):
    """{(v,a),(v,b)} with a,b < v is a large-star fixed point that is NOT
    a star graph — the convergence probe must not stop there."""
    _assert_matches(spark, [(9, 1), (9, 2)])


def test_cc_duplicate_reversed_and_self_edges(spark):
    _assert_matches(
        spark, [(1, 2), (2, 1), (2, 2), (2, 3), (3, 1), (7, 8), (8, 7)]
    )


def test_cc_long_path_converges_logarithmically(spark):
    # a 64-node path is the classic worst case for label propagation;
    # star-alternation collapses it in O(log^2 n) alternations
    edges = [(i, i + 1) for i in range(64)]
    _assert_matches(spark, edges)


def test_cc_random_graphs_match_union_find(spark):
    import random

    rng = random.Random(42)
    for trial in range(3):
        n = 60
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(70)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _assert_matches(spark, edges)


def test_dup_clusters_representative_assignment(spark):
    pairs = spark.createDataFrame(
        [(0, 1), (1, 4), (2, 3)], "doc_id_a long, doc_id_b long"
    )
    out = {r.doc_id: r.cluster for r in dup_clusters(pairs).collect()}
    assert out == {0: 0, 1: 0, 4: 0, 2: 2, 3: 2}
    # keepers: one per cluster
    keepers = {d for d, c in out.items() if d == c}
    assert keepers == {0, 2}


def test_cc_string_ids(spark):
    """Ids keep their native type: string doc ids (urls) work, labels are
    the lexicographic minimum — no long cast (which would ANSI-crash or
    NULL-out every edge)."""
    pairs = spark.createDataFrame(
        [("http://a/2", "http://a/1"), ("http://a/1", "http://b/9")],
        "doc_id_a string, doc_id_b string",
    )
    out = {r.doc_id: r.cluster for r in dup_clusters(pairs).collect()}
    assert out == {
        "http://a/1": "http://a/1",
        "http://a/2": "http://a/1",
        "http://b/9": "http://a/1",
    }


def test_pagerank_matches_python_twin(spark):
    from warcit_spark.operators.graph import pagerank

    # cycle 0-1-2, mutual 0<->3, feeder 5->0, and 6 dangling (in-edge only)
    edges = [(0, 1), (1, 2), (2, 0), (3, 0), (0, 3), (5, 0), (0, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=4, damping=0.85).collect()}

    # python twin
    nodes = sorted({x for e in edges for x in e})
    n = float(len(nodes))
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    r = {v: 1.0 / n for v in nodes}
    for _ in range(4):
        dm = sum(rv for v, rv in r.items() if v not in deg)
        s = {v: 0.0 for v in nodes}
        for a, b in edges:
            s[b] += r[a] / deg[a]
        r = {v: 0.15000000000000002 / n + 0.85 * (s[v] + dm / n) for v in nodes}
    for v in nodes:
        assert got[v] == pytest.approx(round(r[v], 9), abs=2e-9), v
    # mass conservation
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-6)
    # the hub (node 0: three in-edges) outranks the dangling leaf
    assert got[0] > got[6]


def test_degree_stats_counts_and_reciprocity(spark):
    from warcit_spark.operators.graph import degree_stats

    # 1<->2 reciprocal; 1->3; 3->4; dup edge + self-loop must be ignored
    edges = [(1, 2), (2, 1), (1, 3), (3, 4), (1, 3), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: (r.out_deg, r.in_deg, r.recip_deg, r.recip_ratio)
           for r in degree_stats(df).collect()}
    assert got == {
        1: (2, 1, 1, 0.5),
        2: (1, 1, 1, 1.0),
        3: (1, 1, 0, 0.0),
        4: (0, 1, 0, 0.0),
    }


def test_hits_matches_python_twin(spark):
    from warcit_spark.operators.graph import hits

    # hub 0 points at 1,2,3; 1,2 also point at 3 (3 = authority)
    edges = [(0, 1), (0, 2), (0, 3), (1, 3), (2, 3), (3, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["hub"], r["auth"]) for r in hits(df, iters=2).collect()}

    nodes = sorted({x for e in edges for x in e})
    hub = {v: 1.0 for v in nodes}
    auth = {}
    for _ in range(2):
        a = {v: 0.0 for v in nodes}
        for s, d in edges:
            a[d] += hub[s]
        z = sum(a.values())
        auth = {v: a[v] / z for v in nodes}
        h = {v: 0.0 for v in nodes}
        for s, d in edges:
            h[s] += auth[d]
        z = sum(h.values())
        hub = {v: h[v] / z for v in nodes}
    for v in nodes:
        assert got[v][0] == pytest.approx(round(hub[v], 9), abs=2e-9), v
        assert got[v][1] == pytest.approx(round(auth[v], 9), abs=2e-9), v
    # node 3 is the authority, node 0 the hub
    assert max(nodes, key=lambda v: got[v][1]) == 3
    assert max(nodes, key=lambda v: got[v][0]) == 0
