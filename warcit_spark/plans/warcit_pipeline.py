"""The reference's primary workflow, end to end: files -> WARC records ->
WARC file (warcit/warcit.py:395-448 restated as one DataFrame DAG).

    scan (S1/S2, binaryFile)                 sources/binary_files.py
      -> include/exclude (F1, pushed down)   operators/filters.py
      -> mapfile suffix join (J1, broadcast) operators/joins.py
      -> MIME chain (F3/F4) + charset (F5)   functions/mime.py, operators/charset.py
      -> field resolution (F7, coalesce)     here
      -> index revisit (D1, same projection) operators/records.py
      -> order: listing-bound ranges         here (order_records)
      -> WARC sink (K1/K2)                   sinks/warc.py

Each input file is read once per run: its resource record and, for an
index file, its revisit come out of one projection (an explode, not a
union of two scans), and the multi-part range bounds come from the file
listing, not from a sample pass over the records.

A user of the reference runs ``warcit http://example.com/ ./site/``; the
Spark user calls :func:`warcit_run` with the same inputs and gets the same
record set (counts and per-record header semantics asserted by
tests/test_warcit_pipeline.py against the reference's test expectations,
/root/reference/test/test_warcit.py:43-134).

Record order: the reference's order is filesystem-enumeration order; the
engine *defines* the deterministic total order (url ASC, resource before
its revisit) — SURVEY.md §7.3 #1.
"""

from __future__ import annotations

from urllib.parse import unquote, urlsplit

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warcit_spark.functions.mime import (
    charset_suffix_expr,
    guess_mime_expr,
    mime_override_expr,
    mimetypes_frame,
    sniff_mime_expr,
    tika_charset_detect_expr,
    tika_has_hint_expr,
    tika_mime_expr,
    with_extension_mime,
)
from warcit_spark.functions.timestamps import iso8601z_expr, normalize_ts14_expr
from warcit_spark.operators.charset import detect_charsets_batch
from warcit_spark.operators.filters import apply_include_exclude
from warcit_spark.operators.joins import mapfile_suffix_join
from warcit_spark.operators.records import (
    DEFAULT_INDEX_FILES,
    json_metadata_batch,
    transclusion_metadata_records,
    with_index_revisits,
)
from warcit_spark.sinks.warc import record_id_for, write_warc_files
from warcit_spark.sources.binary_files import scan_input, union_scans


def _resource_ids_batch(url, warc_date):
    """The WARC-Record-ID the sink writes for a resource record — what a
    conversion record's WARC-Refers-To names."""
    import pandas as pd

    return pd.Series(
        [record_id_for("resource", u, d) for u, d in zip(url, warc_date)]
    )


def _read_fileinfo_batch(paths):
    """(path) -> (content bytes, mtime as ISO-8601Z) per Arrow batch.

    Conversion outputs live on a filesystem visible to executors (the same
    assumption the reference's FileInfo(filename=conv['output']) makes,
    converter.py:215); missing files yield NULLs rather than failing the
    stage — the skip-with-warning analog.
    """
    import datetime as _dt
    import os as _os

    import pandas as pd

    contents, mtimes = [], []
    for p in paths:
        try:
            with open(p, "rb") as fh:
                b = fh.read()
            iso = _dt.datetime.fromtimestamp(
                _os.path.getmtime(p), _dt.timezone.utc
            ).strftime("%Y-%m-%dT%H:%M:%SZ")
        except (OSError, TypeError):
            b, iso = None, None
        contents.append(b)
        mtimes.append(iso)
    return pd.DataFrame({"content": contents, "mtime_iso": mtimes})


_REC_COLS = [
    "url", "record_type", "warc_date", "content_type", "payload",
    "payload_digest", "source_uri", "size", "refers_to_target_uri",
    "refers_to_target_date", "refers_to", "json_metadata",
    "_sort_uri", "_class", "_seq",
]


def files_to_warc_records(
    spark: SparkSession,
    input_dir: str,
    url_prefix: str,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
    mapfile: DataFrame | None = None,
    mime_overrides: dict[str, str] | None = None,
    no_xhtml: bool = False,
    charset: str | None = "auto",
    fixed_dt: str | None = None,
    index_files: tuple[str, ...] = DEFAULT_INDEX_FILES,
    conversions: DataFrame | None = None,
    transclusions: DataFrame | None = None,
    mime_method: str = "filename",
    tika_results: DataFrame | None = None,
) -> DataFrame:
    """One DataFrame of WARC records: (url, record_type, warc_date,
    content_type, payload, payload_digest, source_uri, size, refer-back
    headers, json_metadata) plus hidden (_sort_uri, _class, _seq) ordering
    keys.  Record ids are the sink's to assign (write_warc_files).

    ``conversions``/``transclusions`` (sidecar DataFrames, sources/
    sidecars.py) compose the reference's --conversions/--transclusions
    workflow: per written resource, its ``conversion`` records in file
    order then its ``urn:embeds:`` resource record — the record sequence
    the reference's own test asserts (test/test_warcit.py:257-299).

    ``mime_method``: 'filename' (extension table), 'magic' (content sniff
    of the first 2048 bytes, warcit.py:638-640), or 'tika' — the full
    --use-magic slot set.  'tika' (warcit.py:642-652) consumes
    ``tika_results``: a caller-supplied DataFrame (url, tika_results
    TIKA_RESULTS_SCHEMA) produced by an external tika-server run (the
    sandbox ships no tika JVM; the method plumbing and suppression rules
    are the engine contract).  ``charset='tika'`` reads Content-Encoding
    from the same column with the reference's default-8-bit suppression
    (warcit.py:686-703).
    """
    if (mime_method == "tika" or charset == "tika") and tika_results is None:
        raise ValueError(
            "mime_method='tika' / charset='tika' needs a tika_results "
            "DataFrame (url, tika_results) — see TIKA_RESULTS_SCHEMA"
        )
    # single dir/file/zip-path or a list of them (S11 multi-input union,
    # warcit/warcit.py:44-46); zip inner-prefix forms resolve per input
    if isinstance(input_dir, (list, tuple)):
        files = union_scans([scan_input(spark, i, url_prefix) for i in input_dir])
    else:
        files = scan_input(spark, input_dir, url_prefix)

    # F1 — before any mime/mapfile work (predicate pushdown, warcit.py:466-475)
    files = apply_include_exclude(files, "filename", include, exclude)

    # J1 — mapfile lookup; unmatched rows keep NULLs.  A mapfile row
    # matching two files raises here, before anything is written.
    if mapfile is not None:
        files = mapfile_suffix_join(files, mapfile)
    else:
        files = (
            files.withColumn("map_url", F.lit(None).cast("string"))
            .withColumn("map_timestamp", F.lit(None).cast("string"))
            .withColumn("map_ct", F.lit(None).cast("string"))
        )

    null_s = F.lit(None).cast("string")
    mime_dim = mimetypes_frame(spark)

    def with_mime(
        df: DataFrame, url_col: str, content: Column, mapfile_ct: Column
    ) -> DataFrame:
        """F3 — adds ``mime``: mapfile ≻ overrides ≻ method guess ≻
        default.  The method slot is 'filename' (extension table),
        'magic' (content sniff) or 'tika' — the guess *replaces* the
        extension lookup, like _guess_type.  Resources and conversion
        outputs both resolve here, each keyed by its own url."""
        url = F.col(url_col)
        df = with_extension_mime(df, url, mime_dim)
        if tika_results is not None:
            # external tika metadata joins in by url (broadcast — tika output
            # is a sidecar, small relative to the corpus); unmatched rows keep
            # a NULL struct, which every tika expr maps to "no answer"
            df = df.join(
                F.broadcast(
                    tika_results.select(F.col("url").alias(url_col), "tika_results")
                ),
                on=url_col,
                how="left",
            )
        if mime_method == "magic":
            guessed = sniff_mime_expr(content)
        elif mime_method == "tika":
            guessed = tika_mime_expr(F.col("tika_results"))
        else:
            guessed = F.col("_mime")
        override = (
            mime_override_expr(url, mime_overrides) if mime_overrides else null_s
        )
        mime = guess_mime_expr(mapfile_ct, override, guessed, no_xhtml=no_xhtml)
        return df.withColumn("mime", mime).drop("_mime")

    files = with_mime(files, "url", F.col("content"), F.col("map_ct"))

    # F5 — charset: detect only for text/* when enabled; suppression rules
    if charset == "auto":
        udf = F.pandas_udf(detect_charsets_batch, "string")
        detected = F.when(F.col("mime").startswith("text/"), udf(F.col("content")))
    elif charset == "tika":
        detected = tika_charset_detect_expr(F.col("tika_results"))
    else:
        detected = F.lit(None).cast("string")
    suffix = charset_suffix_expr(
        F.col("mime"),
        F.col("map_ct"),
        detected,
        charset,
        has_hint=(
            tika_has_hint_expr(F.col("tika_results"))
            if charset == "tika"
            else None
        ),
    )
    files = files.withColumn("content_type", F.concat(F.col("mime"), suffix))

    # F7 — field resolution: mapfile URL/timestamp win; else fixed_dt; else mtime
    url = F.coalesce(F.col("map_url"), F.col("url"))
    fixed = (
        normalize_ts14_expr(F.lit(fixed_dt))  # pad-down like _set_fixed_dt
        if fixed_dt is not None
        else null_s
    )
    warc_date = F.coalesce(
        normalize_ts14_expr(F.col("map_timestamp")), fixed,
        iso8601z_expr(F.col("warc_ts")),
    )
    resources = files.select(
        url.alias("url"),
        F.lit("resource").alias("record_type"),
        warc_date.alias("warc_date"),
        "content_type",
        F.col("content").alias("payload"),
        F.sha1(F.col("content")).alias("payload_digest"),
        F.concat(F.lit("file://"), F.col("filename")).alias("source_uri"),
        F.col("size"),
        null_s.alias("refers_to_target_uri"),
        null_s.alias("refers_to_target_date"),
        null_s.alias("refers_to"),
        null_s.alias("json_metadata"),
    ).withColumn("_sort_uri", F.col("source_uri")) \
     .withColumn("_class", F.lit(0)).withColumn("_seq", F.lit(0))

    # D1 — index revisit (make_index_revisit, warcit/warcit.py:546-556):
    # from the same row as its resource, so the content is read once for
    # both; the revisit carries no payload and sorts after its resource
    out = with_index_revisits(
        resources,
        index_files,
        payload=F.lit(None).cast("binary"),
        _class=F.lit(1),
    )

    # D2 — conversion records, composed (make_conversions, warcit.py:568-578):
    # per successful conversion of a *written* resource, a full record over
    # the conversion's output file, refer-back headers to the original,
    # emitted in conversion-file (seq) order right after its resource.
    if conversions is not None:
        src = resources.select(
            F.col("url").alias("source_url"),
            F.col("warc_date").alias("_src_date"),
            F.col("_sort_uri").alias("_src_sort"),
        )
        conv = conversions.where(F.col("success")).select(
            "source_url",
            F.col("url").alias("_conv_url"),
            F.col("output").alias("_output"),
            F.col("metadata").alias("_md"),
            F.coalesce(F.col("rec_type"), F.lit("conversion")).alias("_rec_type"),
            F.col("seq").cast("int").alias("_cseq"),
        )
        fileinfo_udf = F.pandas_udf(
            _read_fileinfo_batch, "content binary, mtime_iso string"
        )
        cj = (
            src.join(F.broadcast(conv), on="source_url", how="inner")
            .withColumn("_fi", fileinfo_udf(F.col("_output")))
            # unreadable output file -> the record is skipped, like the
            # reference skipping a FileInfo it cannot stat/open
            .where(F.col("_fi.content").isNotNull())
        )
        # the reference runs _guess_type over the converted FileInfo, so
        # an output gets its own guess from its own url (and tika row)
        cj = with_mime(cj, "_conv_url", F.col("_fi.content"), null_s)
        conv_date = F.coalesce(fixed, F.col("_fi.mtime_iso"))
        rid_udf = F.pandas_udf(_resource_ids_batch, "string")
        conv_records = cj.select(
            F.col("_conv_url").alias("url"),
            F.col("_rec_type").alias("record_type"),
            conv_date.alias("warc_date"),
            F.col("mime").alias("content_type"),
            F.col("_fi.content").alias("payload"),
            F.sha1(F.col("_fi.content")).alias("payload_digest"),
            F.concat(F.lit("file://"), F.col("_output")).alias("source_uri"),
            F.coalesce(F.length(F.col("_fi.content")), F.lit(0)).cast("long").alias("size"),
            F.col("source_url").alias("refers_to_target_uri"),
            F.col("_src_date").alias("refers_to_target_date"),
            rid_udf(F.col("source_url"), F.col("_src_date")).alias("refers_to"),
            F.pandas_udf(json_metadata_batch, "string")(F.col("_md")).alias("json_metadata"),
            F.col("_src_sort").alias("_sort_uri"),
            F.lit(2).alias("_class"),
            F.col("_cseq").alias("_seq"),
        )
        out = out.unionByName(conv_records.select(*_REC_COLS))

    # D3 — urn:embeds records, composed (make_transclusion_metadata,
    # warcit.py:580-618): only for media urls actually written, payload is
    # the byte-exact formats JSON, no refer-back headers (the reference
    # sets only Date/Creation-Date on embeds records).
    if transclusions is not None:
        media = resources.select(
            F.col("url").alias("media_url"),
            F.col("content_type").alias("_orig_ct"),
            F.col("_sort_uri").alias("_media_sort"),
        )
        trj = transclusions.join(F.broadcast(media), on="media_url", how="inner")
        emb = transclusion_metadata_records(
            trj, conversions, orig_mime_col="_orig_ct"
        )
        emb_payload = F.encode(F.col("payload_json"), "UTF-8")
        emb_records = emb.select(
            "url",
            "record_type",
            "warc_date",
            "content_type",
            emb_payload.alias("payload"),
            F.sha1(emb_payload).alias("payload_digest"),
            null_s.alias("source_uri"),
            F.length(emb_payload).cast("long").alias("size"),
            null_s.alias("refers_to_target_uri"),
            null_s.alias("refers_to_target_date"),
            null_s.alias("refers_to"),
            null_s.alias("json_metadata"),
            F.col("_media_sort").alias("_sort_uri"),
            F.lit(3).alias("_class"),
            F.col("seq").alias("_seq"),
        )
        out = out.unionByName(emb_records.select(*_REC_COLS))

    # no record-id column: the sink assigns every WARC-Record-ID with
    # sinks/warc.record_id_for, the function conversions' refers_to names
    return out


def warcit_run(
    spark: SparkSession,
    input_dir: str,
    url_prefix: str,
    out_dir: str,
    gzip_records: bool = True,
    one_file: bool = False,
    num_parts: int | None = None,
    warcinfo: bool = True,
    cmdline: str | None = None,
    records: DataFrame | None = None,
    warcinfo_filename: str | None = None,
    **kwargs,
) -> DataFrame:
    """The full CLI-equivalent run: records -> ordered .warc.gz part files.

    Deterministic total order (the engine's defined replacement for the
    reference's enumeration order): source file path ASC, then per file
    resource < revisit < conversions (file order) < embeds — the record
    sequence the reference's conversion-workflow test asserts
    (test/test_warcit.py:257-299).

    Default output is range-partitioned multi-part (part file N holds a
    contiguous slice of the total order, so ``cat part-*`` is the ordered
    whole) — the shape that scales; ``one_file=True`` is the single-file
    fidelity mode matching the reference CLI.  The range bounds come from
    the input file listing (:func:`_listing_bounds`), not from a sample
    of the records, so the content is read in one stage: the write.

    Returns the write manifest as a local relation: the write runs here,
    and a caller's ``.collect()`` on the manifest runs no Spark job.
    """
    if records is None:
        records = files_to_warc_records(spark, input_dir, url_prefix, **kwargs)
    ordered = order_records(spark, records, one_file=one_file, num_parts=num_parts)
    # warcinfo cmdline: the CLI-equivalent invocation (warcit.py:454)
    if cmdline is None:
        cmdline = f"warcit-spark {url_prefix} {input_dir}"
    manifest = write_warc_files(
        ordered, out_dir, gzip_records=gzip_records, cmdline=cmdline,
        warcinfo=warcinfo, warcinfo_filename=warcinfo_filename,
    )
    return spark.createDataFrame(manifest.toPandas(), manifest.schema)


def order_records(
    spark: SparkSession,
    records: DataFrame,
    one_file: bool = False,
    num_parts: int | None = None,
) -> DataFrame:
    """``records`` in the engine's total order, laid out for the sink: one
    partition (``one_file``) or ``num_parts`` contiguous ranges of the
    order (default: the default parallelism), hidden keys dropped."""
    if one_file:
        ordered = records.coalesce(1)
    else:
        n = num_parts or spark.sparkContext.defaultParallelism
        pid = _range_partition_id(F.col("_sort_uri"), _listing_bounds(records, n))
        ordered = records.repartitionById(n, pid)
    return ordered.sortWithinPartitions(
        F.col("_sort_uri").asc(), F.col("_class").asc(), F.col("_seq").asc()
    ).drop("_sort_uri", "_class", "_seq")


def _listing_key(uri: str) -> str:
    """A listed input file's ``_sort_uri``.

    ``inputFiles()`` gives encoded URIs (``file:///a%20b``); binaryFile's
    ``path`` column, which ``_sort_uri`` prefixes with ``file://``, is the
    Hadoop path string (``file:/a b``).  Compared raw, every key sorts
    after every bound and the run silently writes one part.
    """
    u = urlsplit(uri)
    authority = f"//{u.netloc}" if u.netloc else ""
    return f"file://{u.scheme}:{authority}{unquote(u.path)}"


def _listing_bounds(records: DataFrame, n: int) -> list[str]:
    """``n-1`` (or fewer) ascending ``_sort_uri`` range bounds that split
    the input files into ``n`` equal runs.

    ``inputFiles()`` reads the listing the scan already made and runs no
    job.  The bounds only steer balance: a zip input lists the zip, not
    its members, and a sidecar file is listed too, yet the order of the
    output holds for any bounds.
    """
    keys = sorted({_listing_key(f) for f in records.inputFiles()})
    m = len(keys)
    return sorted({keys[(i * m) // n - 1] for i in range(1, n) if (i * m) // n})


def _range_partition_id(key: Column, bounds: list[str]) -> Column:
    """Partition id of ``key`` under ascending ``bounds``: partition ``i``
    holds the keys in ``(bounds[i-1], bounds[i]]``.  The id never
    decreases as the key grows, and a NULL key, which sorts first, goes
    to partition 0, so concatenating the parts keeps the total order."""
    pid = F.when(key.isNull(), F.lit(0))
    for i, bound in enumerate(bounds):
        pid = pid.when(key <= F.lit(bound), F.lit(i))
    return pid.otherwise(F.lit(len(bounds)))
