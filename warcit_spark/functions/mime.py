"""MIME-type precedence chain and charset suffix rules.

Reference semantics (the correctness contract, SURVEY.md §4.3 #1-2):

- ``_guess_type`` (warcit/warcit.py:620-658): mapfile Content-Type (before
  ';') ≻ mime-override fnmatch on the URL ≻ method guess (extension table /
  content sniff) ≻ xhtml->html rewrite (``--no-xhtml``) ≻ default
  ``text/html``.
- ``_guess_charset`` (warcit/warcit.py:661-716): mapfile Content-Type with a
  ';' wins outright; charset applies only to ``text/*``; a detected
  ``ascii`` is suppressed to '' ; tika's default-assigned ``windows-1252`` /
  ``ISO-8859-1`` suppressed unless a Content-Type-Hint exists; output is
  ``'; charset=X'`` or ``''``.

All of it is a single ``coalesce``/``when`` projection — short-circuiting
CASE WHEN chains that Catalyst folds into whole-stage codegen.
"""

from __future__ import annotations

import fnmatch
import mimetypes

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_MIME = "text/html"
XHTML = "application/xhtml+xml"
# bytes the magic sniff reads, as the reference does (warcit/warcit.py:28)
SNIFF_BYTES = 2048


def mimetypes_table() -> list[tuple[str, str]]:
    """(extension, mime) pairs from the stdlib table, non-strict, with the
    reference's extra registration ``.ico -> image/x-icon``
    (warcit/warcit.py:258-260)."""
    mimetypes.init()
    table = dict(mimetypes.types_map)
    table.update(mimetypes.common_types)
    table[".ico"] = "image/x-icon"
    return sorted(table.items())


def mimetypes_frame(spark: SparkSession) -> DataFrame:
    """:func:`mimetypes_table` as an (``_ext``, ``_mime``) DataFrame.

    Built from pandas, so it is a JVM local relation: collecting it runs
    no Spark job and no Python worker ever serves it (a list would go
    through a Python RDD).  Its broadcast is one small JVM-only job.
    """
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(mimetypes_table(), columns=["_ext", "_mime"]),
        "_ext string, _mime string",
    )


def with_extension_mime(df: DataFrame, url: Column, mime_dim: DataFrame) -> DataFrame:
    """``df`` plus ``_mime``: the MIME type ``mime_dim``
    (:func:`mimetypes_frame`) gives ``url``'s extension, NULL when it has
    none — the filename guess of F3, as a broadcast equi-join."""
    return (
        df.withColumn("_ext", url_extension_expr(url))
        .join(F.broadcast(mime_dim), on="_ext", how="left")
        .drop("_ext")
    )


def url_extension_expr(url: Column) -> Column:
    """Lowercased final extension of the URL path, query stripped first
    (reference guesses on ``url.split('?', 1)[0]``, warcit/warcit.py:634)."""
    path = F.substring_index(url, "?", 1)
    return F.lower(F.regexp_extract(path, r"(\.[A-Za-z0-9]+)$", 1))


def mime_override_expr(url: Column, overrides: dict[str, str]) -> Column:
    """First-match-wins fnmatch override chain (warcit/warcit.py:626-629).

    fnmatch patterns compile to anchored regexes via the stdlib translator;
    ``rlike`` evaluates them JVM-side.  Case-sensitive, matching POSIX
    fnmatch (the reference lowercases only include/exclude patterns, not
    mime overrides).
    """
    out: Column = F.lit(None).cast("string")
    for pattern, mime in reversed(list(overrides.items())):
        out = F.when(url.rlike(fnmatch.translate(pattern)), F.lit(mime)).otherwise(out)
    return out


def _utf8_boundary_trim(head: Column, full_len: int) -> Column:
    """Drop a trailing INCOMPLETE UTF-8 sequence produced by cutting a
    multi-byte character at the ``full_len`` truncation boundary, so
    ``try_validate_utf8`` judges the clean prefix instead of nulling the
    whole head (libmagic reads a byte window the same way and classifies
    on it).  Only a genuinely split sequence is dropped — a complete final
    character, plain ASCII, and malformed-anyway content are untouched.
    Pure JVM expressions over at most the last 4 bytes.
    """
    ln = F.length(head)

    def byte_at(i: int) -> Column:  # int value of i-th byte from the end
        return F.conv(F.hex(F.substring(head, ln - F.lit(i - 1), F.lit(1))), 16, 10).cast("int")

    def is_cont(x: Column) -> Column:  # 0x80-0xBF continuation byte
        return (x >= 128) & (x < 192)

    b1, b2, b3, b4 = byte_at(1), byte_at(2), byte_at(3), byte_at(4)
    # trailing continuation-byte run length (0..3)
    c = (
        F.when(~is_cont(b1), F.lit(0))
        .when(~is_cont(b2), F.lit(1))
        .when(~is_cont(b3), F.lit(2))
        .otherwise(F.lit(3))
    )
    lead = F.when(c == 0, b1).when(c == 1, b2).when(c == 2, b3).otherwise(b4)
    # bytes the lead byte announces (ASCII/invalid -> 1, i.e. never "short")
    need = (
        F.when((lead >= 0xC0) & (lead < 0xE0), F.lit(2))
        .when((lead >= 0xE0) & (lead < 0xF0), F.lit(3))
        .when((lead >= 0xF0) & (lead < 0xF8), F.lit(4))
        .otherwise(F.lit(1))
    )
    trim = F.when(need > c + 1, c + 1).otherwise(F.lit(0))
    # only a head that actually hit the truncation boundary can be split
    return F.when(
        ln == full_len, F.substring(head, F.lit(1), ln - trim)
    ).otherwise(head)


def sniff_mime_expr(content: Column) -> Column:
    """Content-sniff MIME guess over the first ``SNIFF_BYTES`` bytes — the
    ``--use-magic magic`` method slot (warcit/warcit.py:28, 638-640).

    libmagic is not in this container, so this is a documented stand-in
    covering the magic numbers the reference's fixtures exercise plus an
    HTML/text heuristic; the *slot semantics* (sniff replaces the extension
    guess when the method is 'magic') exactly mirror _guess_type.
    Pure expressions — the sniff happens JVM-side on the binary column.
    """
    head = F.substring(content, 1, SNIFF_BYTES)
    head8 = F.substring(content, 1, 8)
    # binary->string cast wraps bytes without validating; try_validate_utf8
    # then yields NULL for non-UTF-8 heads instead of the ANSI
    # MALFORMED_CHARACTER_CODING error F.decode raises (Spark 4).  A NULL
    # text_head falls through every rlike() branch to octet-stream.  The
    # boundary trim keeps a multi-byte char split at the cut from nulling
    # an otherwise-clean text head.
    text_head = F.lower(
        F.try_validate_utf8(
            _utf8_boundary_trim(F.substring(content, 1, 256), 256).cast("string")
        )
    )
    head_text = F.try_validate_utf8(
        _utf8_boundary_trim(head, SNIFF_BYTES).cast("string")
    )
    return (
        F.when(F.startswith(head8, F.lit(b"\x89PNG\r\n\x1a\n")), "image/png")
        .when(F.startswith(head8, F.lit(b"\xff\xd8\xff")), "image/jpeg")
        .when(F.startswith(head8, F.lit(b"GIF87a")), "image/gif")
        .when(F.startswith(head8, F.lit(b"GIF89a")), "image/gif")
        .when(F.startswith(head8, F.lit(b"%PDF")), "application/pdf")
        .when(F.startswith(head8, F.lit(b"PK\x03\x04")), "application/zip")
        .when(F.startswith(head8, F.lit(b"\x1f\x8b")), "application/gzip")
        .when(F.startswith(head8, F.lit(b"FLV\x01")), "video/x-flv")
        .when(F.startswith(head8, F.lit(b"RIFF")), "audio/wav")
        .when(F.startswith(head8, F.lit(b"OggS")), "audio/ogg")
        .when(F.startswith(head8, F.lit(b"\x1aE\xdf\xa3")), "video/webm")
        .when(
            text_head.rlike(r"^\s*(<!doctype html|<html|<head|<body)"),
            "text/html",
        )
        .when(text_head.rlike(r"^\s*<\?xml"), "text/xml")
        # printable-ASCII head -> plain text (libmagic's coarse fallback);
        # invalid-UTF-8 heads (head_text NULL) land on octet-stream.
        .when(
            F.length(head) > 0,
            F.when(
                head_text.isNotNull()
                & ~head_text.rlike(r"[\x00-\x08\x0e-\x1f]"),
                F.lit("text/plain"),
            ).otherwise(F.lit("application/octet-stream")),
        )
    )


# Canonical engine schema for caller-supplied tika output (the sandbox has
# no tika JVM; a deployment runs tika-server and lands its metadata as this
# struct).  Arrays capture tika's "string or list" quirk — single values are
# wrapped as 1-element arrays by the loader.
TIKA_RESULTS_SCHEMA = (
    "struct<content_type: array<string>, content_encoding: array<string>, "
    "content_type_hint: boolean>"
)


def tika_mime_expr(tika_results: Column) -> Column:
    """The ``--use-magic tika`` method slot (warcit/warcit.py:642-652):
    first (most-likely) Content-Type value, split before ';'.  Any missing
    piece (NULL struct, empty list) yields NULL — the reference's bare
    ``except: mime = None`` — so the F3 chain falls through to the default.
    """
    ct = F.try_element_at(tika_results["content_type"], F.lit(1))
    return F.when(ct.isNotNull(), F.substring_index(ct, ";", 1))


def tika_charset_detect_expr(tika_results: Column) -> Column:
    """The ``--charset tika`` detector value (warcit/warcit.py:686-703):
    first Content-Encoding entry; missing -> NULL (reference: '').  The
    windows-1252/ISO-8859-1 default-assignment suppression is applied by
    :func:`charset_suffix_expr` (``charset='tika'`` + ``has_hint``) so all
    suppression rules live in one place."""
    return F.try_element_at(tika_results["content_encoding"], F.lit(1))


def tika_has_hint_expr(tika_results: Column) -> Column:
    """Whether tika found a Content-Type-Hint (warcit/warcit.py:699-700)."""
    return F.coalesce(tika_results["content_type_hint"], F.lit(False))


def guess_mime_expr(
    mapfile_ct: Column,
    override_mime: Column,
    guessed_mime: Column,
    *,
    no_xhtml: bool = False,
) -> Column:
    """The full F3 precedence chain as one coalesce projection."""
    mapfile_mime = F.when(
        mapfile_ct.isNotNull(), F.substring_index(mapfile_ct, ";", 1)
    )
    mime = F.coalesce(mapfile_mime, override_mime, guessed_mime)
    if no_xhtml:
        mime = F.when(mime == XHTML, F.lit(DEFAULT_MIME)).otherwise(mime)
    return F.coalesce(mime, F.lit(DEFAULT_MIME))


def charset_suffix_expr(
    mime: Column,
    mapfile_ct: Column,
    detected_charset: Column,
    charset: str | None = "auto",
    has_hint: Column | None = None,
) -> Column:
    """``'; charset=X'`` or ``''`` per the F5 suppression rules.

    ``charset`` is the ``--charset`` mode: None (no charset), 'auto'
    (``detected_charset`` from the cchardet-analog detector, a vectorized
    pandas UDF — see operators/charset.py — with ``ascii`` suppressed),
    'tika' (``detected_charset`` from tika, default-assigned 8-bit
    charsets suppressed unless ``has_hint``) or a charset name applied as
    given.  The *rules* are the reference contract, as pure expressions.
    """
    # mapfile Content-Type containing ';' wins outright (warcit.py:663-666)
    mapfile_suffix = F.when(
        mapfile_ct.isNotNull() & mapfile_ct.contains(";"),
        F.concat(F.lit(";"), F.substring_index(mapfile_ct, ";", -1)),
    )

    cs = F.coalesce(detected_charset, F.lit(""))
    if charset is None:
        body = F.lit("")
    elif charset == "auto":
        # ascii suppression — cchardet path only (warcit.py:683-684)
        body = F.when(F.lower(cs) == "ascii", F.lit("")).otherwise(cs)
    elif charset == "tika":
        # tika keeps a literal 'ascii' but suppresses its default 8-bit
        # assignment unless hinted (warcit.py:697-703)
        hinted = has_hint if has_hint is not None else F.lit(False)
        body = F.when(
            cs.isin("windows-1252", "ISO-8859-1") & ~hinted, F.lit("")
        ).otherwise(cs)
    else:
        body = F.lit(charset)

    suffix = F.when(body != "", F.concat(F.lit("; charset="), body)).otherwise(
        F.lit("")
    )
    # charset only ever applies to text/* (warcit.py:668-669)
    text_only = F.when(mime.startswith("text/"), suffix).otherwise(F.lit(""))
    return F.coalesce(mapfile_suffix, text_only)
