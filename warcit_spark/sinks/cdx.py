"""CDXJ index sink — the lookup index the web-archive stack reads.

pywb / OpenWayback resolve a replay URL by binary-searching CDX(J) files
keyed by ``<SURT> <14-digit timestamp>`` (the webrecorder ecosystem's
index convention; warcit-produced WARCs are served through exactly this
layer).  This sink turns a record table into that index: one CDXJ line
per record,

    com,example)/path 20170304123456 {"url": ..., "digest": ..., ...}

written as text shards that are **globally sorted**: rows are
range-partitioned on (surt, ts) and sorted within each partition, so
shard k's last key <= shard k+1's first key and the part-file sequence
reads as one sorted index — the property a binary-search reader (or a
ZipNum cluster builder) needs, produced with ONE exchange.

Scale shape: `repartitionByRange` samples the key distribution, so hot
hosts (one SURT prefix dominating) split across shards by the ts
component instead of melting one writer; the sort is per-shard
(Tungsten external sort), never a driver collect.  At 10^10 records
this is the same plan Spark uses for any global sort-merge write.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warcit_spark.functions.timestamps import ts14_expr
from warcit_spark.functions.urls import surt_expr


def cdxj_line_expr(
    url: Column, ts: Column, digest: Column, mime: Column, filename: Column
) -> Column:
    """One CDXJ line: ``<surt> <ts14> <json>`` (json field order fixed by
    the struct, so lines are byte-deterministic)."""
    meta = F.to_json(
        F.struct(
            url.alias("url"),
            digest.alias("digest"),
            mime.alias("mime"),
            filename.alias("filename"),
        )
    )
    return F.concat_ws(" ", surt_expr(url), ts14_expr(ts), meta)


def write_cdxj(
    records: DataFrame,
    out_dir: str,
    n_shards: int = 1,
) -> None:
    """Write a globally-sorted CDXJ index for ``records``.

    Rows whose URL has no SURT form (non-fetchable) are excluded — a CDX
    entry exists only for replayable captures.
    """
    keyed = records.select(
        surt_expr(F.col("url")).alias("_surt"),
        ts14_expr(F.col("ts")).alias("_ts"),
        cdxj_line_expr(
            F.col("url"),
            F.col("ts"),
            F.col("payload_digest"),
            F.col("content_type"),
            F.col("warc_file"),
        ).alias("value"),
    ).where(F.col("_surt").isNotNull())
    (
        keyed.repartitionByRange(n_shards, "_surt", "_ts")
        .sortWithinPartitions("_surt", "_ts")
        .select("value")
        .write.mode("overwrite")
        .text(out_dir)
    )
