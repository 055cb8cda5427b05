"""Deterministic, reproducible corpus sampling — no RNG state.

A 100-TB training-data pipeline needs samples that are (a) reproducible
across runs and engines, (b) stratified (per-host / per-domain rates to
rebalance a crawl), and (c) computable as a pure row-local predicate so
the filter pushes to the scan and no shuffle or RNG-seed coordination
exists.  The standard trick: hash each row's key to a uniform point in
[0, 1) and keep rows below the stratum's threshold.

The hash here is md5 (JVM-side ``F.md5``), compared LEXICOGRAPHICALLY
against a precomputed hex threshold: md5's 32 lowercase hex digits are a
uniform 128-bit number, and for fixed-length lowercase-hex strings,
string order == numeric order.  Thresholds are exact integers
``floor(rate * 2^128)`` rendered as 32-digit hex — both Spark and any
SQL engine with md5() reproduce the sample bit-for-bit (the x-series
oracle technique; no murmur3/xxhash twin needed because md5 is the same
everywhere).

Membership is stable under resharding, appends, and engine changes —
the properties Bernoulli sampling with a seeded RNG cannot give at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rate_threshold_hex(rate: float) -> str:
    """Exact 32-hex-digit threshold for a sampling rate in [0, 1]:
    ``floor(rate * 2^128)`` (computed over the exact binary double, so
    the same literal reproduces in any engine)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0,1], got {rate}")
    n = int(rate * (1 << 128))
    if n >= (1 << 128):
        return "g" * 32  # sorts after every hex digest: rate 1.0 keeps all
    return format(n, "032x")


def sample_predicate(key: Column, rate: float) -> Column:
    """Row-local deterministic membership test at a fixed rate.

    NULL keys NEVER sample (explicitly, at every rate including 1.0):
    a NULL has no identity to hash, so letting it ride would make the
    sample content-dependent on upstream null handling.  Callers wanting
    NULL rows must clean or key them first."""
    return key.isNotNull() & (
        F.md5(key.cast("string")) < F.lit(rate_threshold_hex(rate))
    )


def deterministic_sample(
    df: DataFrame, key_col: str, rate: float
) -> DataFrame:
    """Uniform deterministic sample: keep rows whose md5(key) falls below
    the rate threshold.  A pure filter — pushes to the scan, no shuffle."""
    return df.where(sample_predicate(F.col(key_col), rate))


def stratified_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-host crawl
    rebalancing): each stratum gets its own threshold via a broadcast dim
    join; membership stays a row-local predicate.

    ``rates`` maps stratum value -> rate; strata not listed never sample
    (rate 0).  NULL keys never sample (see
    :func:`sample_predicate`).  At scale the dim is tiny (one row per domain) and
    the md5 compare runs inside whole-stage codegen.
    """
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(k, rate_threshold_hex(v)) for k, v in sorted(rates.items())],
        f"{stratum_col} string, _thresh string",
    )
    joined = df.join(F.broadcast(dim), on=stratum_col, how="left")
    keep = F.col(key_col).isNotNull() & (
        F.md5(F.col(key_col).cast("string"))
        < F.coalesce(F.col("_thresh"), F.lit(rate_threshold_hex(0.0)))
    )
    return joined.where(keep).drop("_thresh")
