"""S1-S6: file scans -> the FileInfo row shape (SURVEY.md §2.1).

The reference walks directories/zips one file at a time
(/root/reference/warcit/base.py:34-61); the Spark mapping is the built-in
``binaryFile`` source, which already yields exactly the FileInfo columns:
(path, modificationTime, length, content) — metadata row + lazy binary
payload.  URL synthesis is the F2 projection on top.

ZIP member scan (S3) has no native Spark source: the zip is read as one
binary row and unpacked per Arrow batch in ``mapInPandas`` (fixture-scale
only, mirroring its fixture-only role in the reference).
"""

from __future__ import annotations

import io
import zipfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcit_spark.functions.urls import synth_url_expr


def _binary_reader(spark: SparkSession):
    """A ``binaryFile`` reader over the raw local filesystem.

    Hadoop's default ``file:`` filesystem is the checksum one, which builds
    a ``.<name>.crc`` sibling path per file; for a name holding ``:`` (e.g.
    ``a:b.html``) that path is not a valid URI and the scan fails.  The raw
    filesystem reads the file itself.  Reader options reach only this
    scan's Hadoop conf; the uncached instance keeps the session's shared
    ``file:`` filesystem untouched.
    """
    return (
        spark.read.format("binaryFile")
        .option("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .option("fs.file.impl.disable.cache", "true")
    )


def scan_files(spark: SparkSession, path: str, url_prefix: str) -> DataFrame:
    """S1/S2: recursive binaryFile scan -> (url, warc_ts, content, size).

    Filters/projections layered on top push down to the scan
    (PushedFilters on path; content is lazily read per matched file).
    """
    df = _binary_reader(spark).option("recursiveFileLookup", "true").load(path)
    # binaryFile reports URI-style paths (file:/...); strip everything up to
    # and including the scanned root, whatever scheme prefix it carries
    import re as _re

    root = _re.escape(path.rstrip("/"))
    relpath = F.regexp_replace(F.col("path"), f"^.*{root}/", "")
    return df.select(
        synth_url_expr(url_prefix, relpath).alias("url"),
        F.col("path").alias("filename"),
        F.col("modificationTime").alias("warc_ts"),
        F.col("length").alias("size"),
        F.col("content"),
    )


def scan_zip(
    spark: SparkSession, zip_path: str, url_prefix: str, inner_prefix: str = ""
) -> DataFrame:
    """S3-S5: zip member scan; directory entries skipped, optional in-zip
    prefix stripped from URLs and pruned from the scan
    (/root/reference/warcit/base.py:53-61, 115-136)."""
    raw = _binary_reader(spark).load(zip_path)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content in pdf["content"]:
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as zp:
                    for zinfo in zp.infolist():
                        if zinfo.filename.endswith("/"):
                            continue
                        if inner_prefix and not zinfo.filename.startswith(inner_prefix):
                            continue  # S5 member pruning
                        name = zinfo.filename
                        if inner_prefix and name.startswith(inner_prefix):
                            name = name[len(inner_prefix):]
                        rows.append(
                            {
                                "relpath": name,
                                "filename": zinfo.filename,
                                "mtime": pd.Timestamp(*zinfo.date_time),
                                "size": zinfo.file_size,
                                "content": zp.read(zinfo.filename),
                            }
                        )
            yield pd.DataFrame(
                rows,
                columns=["relpath", "filename", "mtime", "size", "content"],
            )

    members = raw.select("content").mapInPandas(
        fn,
        "relpath string, filename string, mtime timestamp, size long, content binary",
    )
    # ZipFileInfo does NOT percent-encode (base.py:124: plain strip('./'))
    url = F.concat(
        F.lit(url_prefix), F.regexp_replace(F.col("relpath"), r"^[./]+|[./]+$", "")
    )
    return members.select(
        url.alias("url"),
        "filename",
        F.col("mtime").alias("warc_ts"),
        "size",
        "content",
    )


def resolve_input(input_: str) -> tuple[str, str, str]:
    """S4: classify one input string the way the reference's
    ``parse_filename`` does (base.py:63-79): walk upward from the full
    path until an existing file is hit; a ``.zip`` file with trailing
    segments yields (``zip``, zip_path, inner_prefix).

    Returns (kind, path, inner_prefix) with kind in
    {'dir', 'file', 'zip', 'invalid'}; inner_prefix carries a trailing
    '/' when non-empty so it prunes whole zip subtrees.
    """
    import os

    if os.path.isdir(input_):
        return "dir", input_, ""
    zip_path: list[str] = []
    filename = input_
    while filename:
        if os.path.isfile(filename):
            if filename.endswith(".zip") and zipfile.is_zipfile(filename):
                prefix = "/".join(zip_path)
                if prefix:
                    prefix += "/"
                return "zip", filename, prefix
            if not zip_path:
                return "file", filename, ""
            return "invalid", input_, ""
        if os.path.isdir(filename):
            return "invalid", input_, ""
        zip_path.insert(0, os.path.basename(filename))
        parent = os.path.dirname(filename)
        if parent == filename:
            break
        filename = parent
    return "invalid", input_, ""


def scan_input(spark: SparkSession, input_: str, url_prefix: str) -> DataFrame:
    """Scan one input string, resolving ``site.zip/inner/prefix`` forms
    (S1-S5 dispatch, the iter_inputs analog, base.py:34-61)."""
    kind, path, prefix = resolve_input(input_)
    if kind == "dir" or kind == "file":
        return scan_files(spark, path, url_prefix)
    if kind == "zip":
        return scan_zip(spark, path, url_prefix, inner_prefix=prefix)
    raise FileNotFoundError(f'"{input_}" not a valid file, directory, or zip path')


def union_scans(dfs: list[DataFrame]) -> DataFrame:
    """S11: multi-input union (warcit/warcit.py:44-46)."""
    import functools

    return functools.reduce(DataFrame.unionByName, dfs)
