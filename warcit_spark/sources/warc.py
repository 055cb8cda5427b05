"""Distributed WARC/1.0 source — read archives back into DataFrames.

The reference only WRITES WARCs (warcit/warcwriter.py); real consumers of
its output — and every Common-Crawl-derived pipeline — START by reading
them.  This source completes the engine's round trip: WARCs produced by
``sinks/warc.py`` (or any WARC/1.0 writer using per-record gzip members,
the CC layout) scan back as one row per record, ready for the text/dedup/
quality operators.

Scale shape: the FILE is the unit of parallelism (the CC convention —
archives ship as ~1 GiB .warc.gz segments, thousands per crawl): a
binaryFile scan distributes files across tasks, and each file is parsed
by one vectorized ``mapInPandas`` batch function (stdlib gzip + the
sink's shared ``parse_warc_blob`` — per-record gzip members concatenate
transparently).  Header fields are projected into typed COLUMNS so
downstream filters (record_type = 'response', content_type prefix, date
ranges) prune before anyone touches payload bytes; Spark's column
pruning drops ``payload`` entirely for metadata-only queries.
"""

from __future__ import annotations

import gzip
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_RECORDS_SCHEMA = (
    "warc_file string, record_idx int, record_type string, "
    "target_uri string, warc_date string, record_id string, "
    "content_type string, payload_digest string, refers_to string, "
    "refers_to_target_uri string, refers_to_target_date string, "
    "content_length bigint, payload binary"
)


def _records_of_file(path: str, blob: bytes) -> list[dict]:
    from warcit_spark.sinks.warc import parse_warc_blob

    if path.endswith(".gz"):
        blob = gzip.decompress(blob)  # concatenated members decompress as one
    out = []
    for idx, rec in enumerate(parse_warc_blob(blob)):
        h = rec["headers"]
        out.append(
            {
                "warc_file": os.path.basename(path),
                "record_idx": idx,
                "record_type": h.get("WARC-Type"),
                "target_uri": h.get("WARC-Target-URI"),
                "warc_date": h.get("WARC-Date"),
                "record_id": h.get("WARC-Record-ID"),
                "content_type": h.get("Content-Type"),
                "payload_digest": h.get("WARC-Payload-Digest"),
                "refers_to": h.get("WARC-Refers-To"),
                "refers_to_target_uri": h.get("WARC-Refers-To-Target-URI"),
                "refers_to_target_date": h.get("WARC-Refers-To-Target-Date"),
                "content_length": int(h["Content-Length"]),
                "payload": rec["payload"],
            }
        )
    return out


def scan_warc(spark: SparkSession, path: str) -> DataFrame:
    """Scan a directory (recursively; its ``*.warc*`` files) or a single
    WARC file into one row per record.  ``payload`` holds raw record
    bytes; header fields ride as typed columns so filters prune
    record-level before payload use.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.warc*")
        .load(path)
        .select("path", "content")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [c.split(" ")[0] for c in WARC_RECORDS_SCHEMA.split(", ")]
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(_records_of_file(p, bytes(content)))
            yield pd.DataFrame(rows, columns=cols)

    return raw.mapInPandas(fn, WARC_RECORDS_SCHEMA)
