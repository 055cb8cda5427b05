"""Derived-record generators D1-D3 and the A2 reverse-index aggregation
(SURVEY.md §2.4-2.5).

- D1 index revisit (warcit/warcit.py:212-215, 546-556):
  :func:`with_index_revisits`, the one builder both the crawl
  (plans/crawl.derive_fetch_records) and files->WARC
  (plans/warcit_pipeline.files_to_warc_records) emit records through.
- D2 conversion fan-out (warcit/warcit.py:568-578) is composed inline in
  plans/warcit_pipeline.files_to_warc_records; this module supplies its
  byte-exact ``WARC-JSON-Metadata`` serializer (:func:`json_metadata_batch`).
- D3 + A2 transclusion metadata (warcit/warcit.py:580-618,
  converter.py:240-277): per transclusion of a media url, a ``resource``
  record at ``urn:embeds:<contain_url>`` whose payload is the formats
  reverse-index JSON — **byte-identical** to the reference's
  ``json.dumps(..., indent=2, sort_keys=True)`` (asserted by the
  reference's own test, test/test_warcit.py:326-327).

Plan shape: the grouping/joining is pure DataFrame (broadcast equi-joins +
``collect_list`` aggregation); only the final JSON serialization is a
vectorized pandas UDF, because byte-exact ``indent=2, sort_keys=True``
output with null-key omission is a serialization format, not a relational
computation (SURVEY.md §2.4 A2).
"""

from __future__ import annotations

import json
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from warcit_spark.functions.timestamps import normalize_ts14_expr

TRANSCLUSION_CONTENT_TYPE = "application/vnd.youtube-dl_formats+json"

DEFAULT_INDEX_FILES = ("index.html", "index.htm")


def with_index_revisits(
    resources: DataFrame,
    index_files: tuple[str, ...],
    eligible: Column | None = None,
    **revisit_overrides: Column,
) -> DataFrame:
    """D1: every ``resources`` row, then, for a row whose lowercased url
    ends with ``/<index file>`` (names lowercased like the reference's
    ``--index-files``, warcit/warcit.py:212-215) and ``eligible`` holds,
    its ``revisit`` for the directory url (make_index_revisit,
    warcit/warcit.py:546-556).

    The revisit carries the resource's columns with size 0 and refer-back
    headers to the index record, then ``revisit_overrides`` (column name ->
    value).  Both records come out of one ``explode`` over the row, so the
    input is read once for the pair.
    """
    if not index_files:
        return resources
    url = F.lower(F.col("url"))
    is_index = reduce(
        lambda a, b: a | b, [url.endswith("/" + n.lower()) for n in index_files]
    )
    if eligible is not None:
        is_index = eligible & is_index
    derived = {
        "url": F.regexp_replace(F.col("url"), "[^/]+$", ""),
        "record_type": F.lit("revisit"),
        "size": F.lit(0).cast("long"),
        "refers_to_target_uri": F.col("url"),
        "refers_to_target_date": F.col("warc_date"),
        **revisit_overrides,
    }
    resource = F.struct(*resources.columns)
    revisit = F.struct(
        *[derived.get(c, F.col(c)).alias(c) for c in resources.columns]
    )
    return resources.select(
        F.explode(
            F.when(is_index, F.array(resource, revisit))
            .otherwise(F.array(resource))
        ).alias("_rec")
    ).select("_rec.*")


def json_metadata_batch(md):
    """Serialize the conversion-metadata struct exactly like the reference's
    ``json.dumps(metadata)`` (warcit/warcit.py:576): default ``': '``
    separator, keys in dict order, absent (None) keys omitted — byte
    fidelity ``F.to_json`` cannot give (no space after ':', fixed struct
    field order, different null handling)."""
    # a struct column reaches a pandas UDF as a pd.DataFrame (one column per
    # field, field order preserved); a NULL struct row is a row of nulls —
    # indistinguishable from an all-null struct, and both map to "no header"
    # exactly like the reference's `if metadata:` guard on an empty dict.
    out = []
    for row in md.itertuples(index=False):
        clean = {}
        for k, v in zip(md.columns, row):
            # None / scalar NaN only — `v != v` on a list/ndarray-valued
            # cell (array/map struct field) is ambiguous-truth, so the
            # NaN probe is gated to float scalars; np.floating covers
            # FloatType cells, which pandas hands over as np.float32
            if v is None or (
                isinstance(v, (float, np.floating)) and v != v
            ):
                continue
            if isinstance(v, (list, tuple)):
                clean[k] = [x.item() if hasattr(x, "item") else x for x in v]
            elif hasattr(v, "tolist"):  # numpy array cell
                clean[k] = v.tolist()
            elif hasattr(v, "item"):
                clean[k] = v.item()
            else:
                clean[k] = v
        out.append(json.dumps(clean) if clean else None)
    return pd.Series(out, dtype="object")


def _formats_json_batch(
    contain_url: pd.Series,
    contain_ts: pd.Series,
    selector: pd.Series,
    media_url: pd.Series,
    orig_mime: pd.Series,
    formats: pd.Series,
    metadata_file: pd.Series,
) -> pd.Series:
    """Byte-exact reference JSON (converter.py:250-276 + warcit.py:589).

    ``formats`` arrives as a list of dict-like structs (converted formats,
    reference order); the original format dict is appended last with
    ``ext = url.rsplit('.')[-1]`` and optional ``mime``.  When
    ``metadata_file`` is set the file's text is dumped instead — including
    the reference's quirk of json.dumps on the raw string
    (converter.py:246-248 then warcit.py:589).
    """

    def build(cu, ts, sel, mu, mime, fmts, mf):
        if mf is not None:
            with open(mf) as fh:
                return json.dumps(fh.read(), indent=2, sort_keys=True)
        md = {"webpage_url": cu, "webpage_timestamp": str(ts)}
        if sel is not None:
            md["selector"] = sel
        out_formats = []
        for f in fmts if fmts is not None else []:
            d = {k: v for k, v in dict(f).items() if v is not None}
            d.pop("_seq", None)  # ordering key only, not reference payload
            d["url"] = d.pop("conv_url", d.get("url"))
            d["original_url"] = mu
            out_formats.append(d)
        orig = {"url": mu, "ext": mu.rsplit(".")[-1], "original": True}
        if mime is not None:
            orig["mime"] = mime
        out_formats.append(orig)
        md["formats"] = out_formats
        return json.dumps(md, indent=2, sort_keys=True)

    return pd.Series(
        [
            build(*args)
            for args in zip(
                contain_url, contain_ts, selector, media_url, orig_mime,
                formats, metadata_file,
            )
        ]
    )


def transclusion_metadata_records(
    transclusions: DataFrame,
    conversions: DataFrame | None,
    orig_mime_col: str,
) -> DataFrame:
    """D3+A2: one ``metadata`` record per transclusion entry.

    ``transclusions``: TRANSCLUSIONS_SCHEMA rows (media_url, contain_url,
    contain_ts, selector, seq, metadata_file) joined to their media
    resource: its resolved Content-Type in ``orig_mime_col`` and its sort
    key in ``_media_sort``, which the records carry through.
    ``conversions`` feeds the formats list (A3 grouping,
    converter.py:257-267).
    """
    tr = transclusions.where(F.col("contain_url").isNotNull())

    if conversions is not None:
        conv_lists = (
            conversions.where(F.col("success"))
            .groupBy(F.col("source_url").alias("media_url"))
            .agg(
                # collect_list order is nondeterministic after shuffles, and
                # the reference's payload carries conversion-file order
                # (converter.py:257-267) — sort on the carried seq index
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("seq").alias("_seq"),
                            F.col("metadata.name").alias("name"),
                            F.col("metadata.ext").alias("ext"),
                            F.col("metadata.command").alias("command"),
                            F.col("metadata.mime").alias("mime"),
                            F.col("metadata.skip_as_source").alias("skip_as_source"),
                            F.col("url").alias("conv_url"),
                        )
                    )
                ).alias("_formats")
            )
        )
        tr = tr.join(F.broadcast(conv_lists), on="media_url", how="left")
    else:
        tr = tr.withColumn(
            "_formats",
            F.lit(None).cast(
                "array<struct<_seq:int,name:string,ext:string,command:string,"
                "mime:string,skip_as_source:boolean,conv_url:string>>"
            ),
        )

    # pandas_udf is built lazily (needs an active session at wrap time)
    _formats_json_udf = pandas_udf(_formats_json_batch, "string")
    payload = _formats_json_udf(
        F.col("contain_url"),
        F.col("contain_ts"),
        F.col("selector"),
        F.col("media_url"),
        F.col(orig_mime_col),
        F.col("_formats"),
        F.col("metadata_file"),
    )
    # WARC-Type is 'resource' like the reference's embeds record
    # (warcit.py:601 create_warc_record(..., 'resource')); 'metadata' only
    # appears in the reference's CSV logfile.
    return tr.select(
        F.concat(F.lit("urn:embeds:"), F.col("contain_url")).alias("url"),
        F.lit("resource").alias("record_type"),
        normalize_ts14_expr(F.col("contain_ts")).alias("warc_date"),
        F.lit(TRANSCLUSION_CONTENT_TYPE).alias("content_type"),
        payload.alias("payload_json"),
        F.col("media_url").alias("refers_to_target_uri"),
        F.col("media_url"),
        F.col("seq").cast("int").alias("seq"),
        F.col("_media_sort"),
    )
