"""Bucketed corpus tables — the at-rest layout the analytics side scans.

Round 5's scaling work made this concrete (BENCH/ANALYSIS.md addendum 3,
BASELINE.md "Primary-pair resolution"): the design-point corpus shape is
a key-bucketed, key-sorted parquet table (the single-box analog of an
Iceberg ``bucket(N, key)`` table).  Joins against it read co-partitioned
(``Bucketed: true``, zero corpus-side Exchange, no sort before a
sort-merge join), and per-round corpus reads are parquet decode (CPU,
scales with cores) instead of heap-cache copy traffic.  The crawl's seen
table already uses this layout (plans/state.py); this module exposes the
same machinery for ANY corpus — pages, documents, embeddings — plus the
delta-compaction step that turns append-only fetch deltas into one
deduplicated bucketed table.

The compressed-stats hazard found in the same measurement applies to any
caller: parquet file-source stats report COMPRESSED bytes, so a
heavily-compressible corpus can slip under autoBroadcastJoinThreshold
and flip a join to a corpus-side broadcast build.  Joins whose big side
is a bucketed corpus table should pin the strategy (``.hint("merge")``,
as plans/crawl.py does for the fetch join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    buckets: int = 64,
    mode: str = "overwrite",
    partition_col: str | None = None,
    compression: str | None = None,
) -> DataFrame:
    """Write ``df`` as a parquet table bucketed and sorted by ``url`` at
    ``path`` registered as ``name``; returns the registered table.

    The ``repartition(buckets, "url")`` before the write aligns tasks to
    buckets (same murmur3 both places): one file per bucket instead of
    tasks × buckets small files.  ``partition_col`` adds a directory
    partition above the buckets (the crawl's seen table partitions by
    round, plans/state.py); ``compression`` overrides the session codec.
    """
    spark = df.sparkSession
    writer = df.repartition(buckets, "url").write.format("parquet")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    if compression is not None:
        writer = writer.option("compression", compression)
    (
        writer.bucketBy(buckets, "url")
        .sortBy("url")
        .option("path", path)
        .mode(mode)
        .saveAsTable(name)
    )
    return spark.table(name)


def latest_by_key(
    df: DataFrame, key_col: str, version_col: str
) -> DataFrame:
    """One row per key: the row with the maximum ``version_col``.

    Implemented as ``max`` over a struct with the version as its FIRST
    field — struct ordering compares version first, then the remaining
    fields — so version ties break deterministically by the other
    columns' values (``max_by`` would compare only the version and pick
    whichever row a partial aggregate met first, giving rerun-dependent
    output when one key appears twice with the same version).  A single
    map-side-combined aggregation — no window, no global sort."""
    rest = [c for c in df.columns if c not in (key_col, version_col)]
    packed = F.struct(F.col(version_col), *[F.col(c) for c in rest])
    agg = df.groupBy(key_col).agg(F.max(packed).alias("_r"))
    cols = [F.col(key_col)] + [
        F.col(f"_r.{c}").alias(c) for c in [version_col] + rest
    ]
    return agg.select(*cols)


def compact_deltas_to_bucketed(
    deltas: DataFrame,
    name: str,
    path: str,
    buckets: int = 64,
) -> DataFrame:
    """Compact append-only per-round deltas into one deduplicated
    bucketed table: latest row per url (max ``round``) wins, then one
    bucketed write.

    Exactly two shuffles end to end (the max_by groupBy and the
    bucket-aligning repartition, both keyed on ``url`` — AQE
    typically reuses the first exchange for the second), after which
    every future join against the corpus pays zero corpus-side exchange
    forever.  This is the maintenance step a 100-TB deployment runs per
    crawl epoch (Iceberg's rewrite_data_files analog).
    """
    return write_bucketed_table(
        latest_by_key(deltas, "url", "round"),
        name,
        path,
        buckets=buckets,
    )
