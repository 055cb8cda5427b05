"""Similarity search over embedding columns (array<float>).

- :func:`cosine_topk` — brute-force exact top-k: the correctness baseline,
  pure ``zip_with``/``aggregate`` expressions (JVM, no Python), one
  ``ORDER BY ... LIMIT k`` (Spark executes it as TakeOrderedAndProject —
  per-partition top-k then a k-row merge on the driver, no full sort).
- :func:`lsh_bucket_ann` — the scale path: sign-random-projection LSH;
  deterministic hyperplanes derived from murmur3 so buckets are
  reproducible; probes only its own bucket (+ optional multi-probe).
- :func:`ivf_topk` — IVF: assign every vector to its nearest coarse
  centroid, probe only the ``nprobe`` centroids nearest the query.
  Quantizer is pluggable: :func:`kmeans_centroids` (distributed
  deterministic Lloyd's) or :func:`ivf_random_centroids` (murmur3-derived
  random Voronoi — data-independent, so DuckDB oracles can reproduce the
  buckets from literals).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_expr(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _query_lit(query_vec: list[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in query_vec])


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k against a literal query vector."""
    q = _query_lit(query_vec)
    sim = cosine_expr(F.col("embedding").cast("array<double>"), q)
    return (
        embeddings.select(F.col("vec_id"), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# sign-random-projection hyperplanes per LSH bucket id (2^4 buckets)
SRP_N_PLANES = 4


def _srp_bits_expr(vec: Column, n_planes: int, dim: int) -> Column:
    """Sign-random-projection bucket id from deterministic hyperplanes.

    Plane p component d = murmur3(p, d) mapped to {-1, +1} — fully
    deterministic across runs/clusters, no stored model.  All JVM-side.
    """
    bits = []
    for p in range(n_planes):
        comp = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(p * 1_000_003 + d) for d in range(dim)]),
                lambda x, seed: x
                * F.when(F.pmod(F.hash(seed), F.lit(2)) == 0, F.lit(1.0)).otherwise(
                    F.lit(-1.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(comp >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = F.lit(0)
    for b in bits:
        out = out + b
    return out


def srp_plane_signs(n_planes: int, dim: int) -> list[list[float]]:
    """The deterministic SRP hyperplane sign matrix, computed driver-side.

    Reimplements Spark's ``F.hash`` (Murmur3_x86_32, seed 42) on the int
    plane seeds so external oracles (DuckDB SQL) can reproduce the exact
    same buckets as :func:`_srp_bits_expr` — verified bit-for-bit against
    ``F.hash`` in tests.
    """

    def mm3(x: int) -> int:
        c1, c2 = 0xCC9E2D51, 0x1B873593
        k = (x & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = k * c2 & 0xFFFFFFFF
        h = (42 ^ k) & 0xFFFFFFFF  # Spark's hash seed
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
        h ^= 4
        h ^= h >> 16
        h = h * 0x85EBCA6B & 0xFFFFFFFF
        h ^= h >> 13
        h = h * 0xC2B2AE35 & 0xFFFFFFFF
        h ^= h >> 16
        return h

    return [
        [1.0 if mm3(p * 1_000_003 + d) % 2 == 0 else -1.0 for d in range(dim)]
        for p in range(n_planes)
    ]


def lsh_bucket_ann(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    hamming_probe: int = 0,
) -> DataFrame:
    """Approximate top-k: score only vectors in the query's SRP bucket(s).

    ``hamming_probe`` enables multi-probe LSH: candidates from every bucket
    within that Hamming distance of the query's bucket are scored, trading
    scan fraction for recall (probe h of n = ``SRP_N_PLANES`` planes ~
    sum_{i<=h} C(n,i)/2^n of the corpus for unrelated vectors).

    At 100 TB the bucket id becomes the partition key (bucketed write), so
    a query touches 1 + probed partitions instead of the corpus; here it is
    a filter that Catalyst pushes down onto the scan of the bucketed table.
    """
    dim = len(query_vec)
    vec = F.col("embedding").cast("array<double>")
    bucketed = embeddings.withColumn("_bucket", _srp_bits_expr(vec, SRP_N_PLANES, dim))

    # query bucket computed driver-side from the same sign matrix — no job
    signs = srp_plane_signs(SRP_N_PLANES, dim)
    qbucket = 0
    for p, plane in enumerate(signs):
        comp = sum(v * s for v, s in zip(query_vec, plane))
        if comp >= 0:
            qbucket |= 1 << p

    if hamming_probe <= 0:
        probe = F.col("_bucket") == qbucket
    else:
        probe = (
            F.bit_count(F.col("_bucket").bitwiseXOR(F.lit(qbucket)))
            <= hamming_probe
        )

    q = _query_lit(query_vec)
    sim = cosine_expr(vec, q)
    return (
        bucketed.where(probe)
        .select(F.col("vec_id"), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


# ------------------------------------------------------------------- IVF ANN
def ivf_random_centroids(k: int, dim: int) -> list[list[float]]:
    """Deterministic data-independent coarse-quantizer centroids (random
    Voronoi): unit-ish vectors whose components are murmur3-derived signs
    scaled by a murmur3-derived magnitude — reproducible driver-side with
    no data pass, so external oracles (DuckDB SQL) can embed the identical
    centroid table as literals (the same trick as :func:`srp_plane_signs`).
    A data-dependent k-means quantizer (:func:`kmeans_centroids`) drops in
    by replacing this table; the assignment/probe/score plan is unchanged.
    """
    signs = srp_plane_signs(k, dim)
    # stagger magnitudes so centroids are not symmetric around the origin
    return [
        [s * (1.0 + 0.25 * ((c * 31 + d) % 7)) / dim for d, s in enumerate(plane)]
        for c, plane in enumerate(signs)
    ]


#: Upper bound on k*dim for the driver-side Lloyd's loop — a coarse
#: quantizer stays far below this (k<=256, dim<=1024 -> 262144); the cap
#: keeps the per-iteration collect at ~4 MB of decimals and the codegen'd
#: argmin expression tractable.
KMEANS_MAX_KDIM = 262_144


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 5,
) -> list[list[float]]:
    """Distributed deterministic Lloyd's k-means for the IVF coarse
    quantizer: init = the k lowest-id vectors (deterministic, no RNG);
    each iteration is one broadcast-assignment pass + one groupBy-mean —
    O(n·k·dim) compute, O(k·dim) shuffle (map-side partial means), zero
    Python in the loop.  Returns driver-side centroids (k x dim floats —
    tiny by construction), the shape ``ivf_topk`` consumes.

    BIT-REPRODUCIBLE: per-dimension sums are DECIMAL(30,12) (elements
    quantized at cast, integer-exact addition — order-independent, so
    shuffle fetch order cannot drift the result the way double sums
    would), and the mean is one float division of the exact sum.  The
    pure-Python twin ``tests/oracle.kmeans_centroids_py`` reproduces the centroids
    bit-for-bit (pinned by test), which is what lets a DuckDB oracle
    replay the quantizer.

    Bounded by design: raises ``ValueError`` when ``k * dim >
    KMEANS_MAX_KDIM`` — the driver loop is O(iters) round trips each
    collecting k x dim decimal sums, and the codegen'd argmin folds k
    comparisons per row, both sized for a COARSE quantizer.  For
    fine-grained k (product quantization, large codebooks) keep the
    centroids IN a DataFrame: broadcast-join the centroid table, assign
    with a vectorized pandas_udf argmin, and take means with a plain
    groupBy — same determinism recipe (DECIMAL sums), no driver loop.
    """
    dim_row = embeddings.select(F.size(F.col("embedding")).alias("d")).first()
    if dim_row is None:
        raise ValueError("kmeans_centroids: empty embeddings input")
    if k * int(dim_row["d"]) > KMEANS_MAX_KDIM:
        # Each iteration collects k x dim DECIMAL partial sums and folds a
        # k-way argmin expression per row; both are built for a COARSE
        # quantizer (k <= 256 over typical embedding dims).  Beyond this
        # bound the argmin expression bloats codegen and the driver loop's
        # O(iters) round trips each move k*dim decimals — use a
        # DataFrame-resident assignment (centroids as a broadcast table,
        # assignment via a pandas_udf argmin, means via groupBy) instead.
        raise ValueError(
            f"kmeans_centroids: k*dim = {k * int(dim_row['d'])} exceeds "
            f"{KMEANS_MAX_KDIM} — this driver-side coarse-quantizer loop is "
            "bounded by design; see the docstring for the large-k shape"
        )
    cents = [
        [float(x) for x in r[0]]
        for r in embeddings.orderBy("vec_id").select("embedding").limit(k).collect()
    ]
    vec = F.col("embedding").cast("array<double>")
    for _ in range(iters):
        assign = _nearest_centroid_expr(vec, cents)
        dim = len(cents[0])
        sums = (
            embeddings.select(assign.alias("_c"), vec.alias("_v"))
            .groupBy("_c")
            .agg(
                F.count("*").alias("_n"),
                *[
                    F.sum(F.col("_v")[d].cast("decimal(30,12)")).alias(f"_s{d}")
                    for d in range(dim)
                ],
            )
            .collect()
        )
        new = list(cents)
        for r in sums:
            n = r["_n"] or 1
            new[r["_c"]] = [float(r[f"_s{d}"]) / n for d in range(dim)]
        cents = new
    return cents


def _nearest_centroid_expr(vec: Column, centroids: list[list[float]]) -> Column:
    """argmin over centroids of squared L2 distance, as one expression:
    dist²(v,c) = |v|² - 2·v·c + |c|²; |v|² is common to every centroid so
    the argmin needs only (-2·v·c + |c|²) — one dot product per centroid,
    folded left with a running (best_idx, best_score) struct."""
    best = None
    for i, c in enumerate(centroids):
        c2 = sum(x * x for x in c)
        score = F.lit(float(c2)) - 2.0 * dot_expr(vec, F.array(*[F.lit(float(x)) for x in c]))
        cand = F.struct(F.lit(i).alias("idx"), score.alias("s"))
        best = cand if best is None else F.when(cand["s"] < best["s"], cand).otherwise(best)
    return best["idx"]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF approximate top-k: score only vectors assigned to the ``nprobe``
    centroids nearest the query.

    The inverted-file shape at 100 TB: the centroid id is the partition
    key of the bucketed embeddings table, assignment happens once at
    ingest, and a query scans ``nprobe`` partitions instead of the corpus
    (``nprobe == len(centroids)`` degrades gracefully to exact brute
    force).  Here assignment is an in-row argmin expression and the probe
    filter is pushed onto the scan.
    """
    vec = F.col("embedding").cast("array<double>")
    assigned = embeddings.withColumn(
        "_ivf", _nearest_centroid_expr(vec, centroids)
    )
    probe = _probe_cells(query_vec, centroids, nprobe)
    q = _query_lit(query_vec)
    sim = cosine_expr(vec, q)
    return (
        assigned.where(F.col("_ivf").isin(*probe))
        .select(F.col("vec_id"), F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def _probe_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """The ``nprobe`` centroid ids nearest the query, driver-side (k x dim
    floats, no job); ties break on the lower cell id."""
    q2 = [
        sum(x * x for x in c) - 2.0 * sum(v * x for v, x in zip(query_vec, c))
        for c in centroids
    ]
    return sorted(range(len(centroids)), key=lambda i: (q2[i], i))[:nprobe]
