"""``warcit``-compatible command-line entry point over the Spark engine.

Reproduces the reference CLI's full option surface and behavior
(warcit/warcit.py:30-171): the 20-option argparse, single-output-file
naming (``_make_name``, warcit.py:373-393), xb/ab/wb mode selection with
the EEXIST hint text and exit code 1 (warcit.py:409-419), per-input
"not a valid" warnings with exit 0 (test_warcit.py:171-181), the
``Wrote N resources to <name>`` summary line, and the CSV ``--log``
sidecar (warcit.py:308-330).

This is the drop-in fidelity mode: one ordered ``.warc.gz`` in the
current directory, exactly like ``warcit http://example.com/ ./site``.
The scale path is :func:`warcit_spark.plans.warcit_pipeline.warcit_run`
with its range-partitioned multi-part output; the CLI drives the same
pipeline with ``one_file`` ordering and then moves/appends the single
part into the target file, so both paths share every operator.

Run as ``python -m warcit_spark <args>`` or install a ``warcit-spark``
console script pointing at :func:`main`.
"""

from __future__ import annotations

import logging
import os
import shutil
import sys
import tempfile
from argparse import ArgumentParser

from warcit_spark import __version__  # single version constant (warcinfo software field uses it too)
from warcit_spark.operators.records import DEFAULT_INDEX_FILES

logger = logging.getLogger("warcit_spark.cli")


def build_parser() -> ArgumentParser:
    parser = ArgumentParser(
        prog="warcit-spark",
        description="Create WARC files from content in directories, files and zip files",
    )
    parser.add_argument(
        "-V", "--version", action="version",
        version=f"%(prog)s {__version__}",
    )
    parser.add_argument("url_prefix", help="Base URL for all items, including protocol")
    parser.add_argument("inputs", nargs="+",
                        help="Paths of directories/files/zip paths to include")
    parser.add_argument("-d", "--fixed-dt", metavar="<TIMESTAMP>",
                        help="Set resource date/time in YYYYMMDDHHMMSS format")
    parser.add_argument("-n", "--name", metavar="name",
                        help="Base name for the WARC file (extension auto-added)")
    parser.add_argument("-a", "--append", action="store_true")
    parser.add_argument("-o", "--overwrite", action="store_true")
    parser.add_argument("--use-magic", "--magic", default="filename",
                        const="filename", nargs="?",
                        choices=["filename", "magic", "tika"],
                        help="MIME guess method: filename (default), magic, tika")
    parser.add_argument("--no-xhtml", action="store_true",
                        help="Rewrite application/xhtml+xml to text/html")
    parser.add_argument("-m", "--mime-overrides",
                        metavar="<PATTERN=MIMETYPE>[,...]",
                        help="Wildcard MIME overrides, e.g. *.php=text/html")
    parser.add_argument("--exclude", metavar="<PATTERN>,...",
                        help="Comma-separated wildcard exclude patterns")
    parser.add_argument("--include",
                        help="Comma-separated wildcard include patterns")
    parser.add_argument("--no-warcinfo", action="store_true",
                        help="Do not write the warcinfo record")
    parser.add_argument("--no-gzip", action="store_true",
                        help="Do not compress the WARC file")
    parser.add_argument("-c", "--charset",
                        metavar="{<ENCODING>, cchardet, tika, none}",
                        help="Charset for text/* types; cchardet/tika to detect")
    parser.add_argument("-q", "--quiet", action="store_true")
    parser.add_argument("-v", "--verbose", action="store_true")
    parser.add_argument("--index-files", default=",".join(DEFAULT_INDEX_FILES),
                        metavar="<FILENAME>[,...]",
                        help="Filenames treated as directory indexes (revisit records)")
    parser.add_argument("--mapfile", metavar="<FILENAME>",
                        help="CSV/TSV mapping file names to URL/timestamp/Content-Type")
    parser.add_argument("--log", metavar="<FILENAME>",
                        help="Write a CSV log file")
    parser.add_argument("--conversions")
    parser.add_argument("--transclusions")
    return parser


def make_name(name: str | None, inputs: list[str], gzip: bool) -> str:
    """The reference's ``_make_name`` (warcit/warcit.py:373-393): explicit
    name loses up to two extensions; default is the basename of the first
    input; ``.warc[.gz]`` appended."""
    if not name:
        name = os.path.basename(inputs[0].replace("/", os.path.sep).rstrip(os.path.sep))
    else:
        name = os.path.splitext(os.path.splitext(name)[0])[0]
    return name + (".warc.gz" if gzip else ".warc")


def _split_csv(value: str | None) -> list[str] | None:
    if not value:
        return None
    return [p for p in (s.strip() for s in value.split(",")) if p]


def _parse_mime_overrides(value: str | None) -> dict[str, str] | None:
    if not value:
        return None
    out: dict[str, str] = {}
    for pair in value.split(","):
        if "=" not in pair:
            raise ValueError(f"bad --mime-overrides entry: {pair!r}")
        pat, mime = pair.split("=", 1)
        out[pat.strip()] = mime.strip()
    return out


def _write_cli_log(records_df, logfile: str) -> None:
    """The ``--log`` CSV sidecar (warcit/warcit.py:308-330): one row per
    record with (file, Record-Type, URL, timestamp, Content-Type, mime,
    charset).  CLI fidelity mode funnels through one ordered partition, so
    a driver-side pandas write matches the scale of the output file; the
    distributed analog is the crawl lineage CSV sink (plans/crawl.py)."""
    from pyspark.sql import functions as F

    # source_uri is "file://" + the scan's path, and a directory scan's
    # path is itself a file: URI (file:/abs/x); the column is the OS path
    rows = (
        records_df.orderBy("_sort_uri", "_class", "_seq")
        .select(
            F.regexp_replace(
                F.coalesce("source_uri", F.lit("")), "^file://(file:)?", ""
            ).alias("file"),
            F.col("record_type").alias("Record-Type"),
            F.col("url").alias("URL"),
            F.col("warc_date").alias("timestamp"),
            F.col("content_type").alias("Content-Type"),
            F.substring_index("content_type", ";", 1).alias("mime"),
            F.regexp_extract("content_type", r"; charset=(.*)$", 1).alias("charset"),
        )
        .toPandas()
    )
    rows.to_csv(logfile, index=False)


def main(argv: list[str] | None = None) -> int:
    argv = list(sys.argv[1:] if argv is None else argv)
    parser = build_parser()
    r = parser.parse_args(args=argv)

    if r.quiet:
        level = logging.ERROR
    elif r.verbose:
        level = logging.DEBUG
    else:
        level = logging.INFO
    logging.basicConfig(level=level, format="%(message)s")

    gzip_records = not r.no_gzip
    name = make_name(r.name, r.inputs, gzip_records)

    # the output file's xb/ab/wb mode: EEXIST unless -a or -o, with the
    # reference's hint text (warcit/warcit.py:409-419)
    if not (r.append or r.overwrite) and os.path.exists(name):
        logger.error(f"[Errno 17] File exists: '{name}'")
        logger.error("* Use -a/--append to append to an existing WARC file")
        logger.error("* Use -o/--overwrite to overwrite existing WARC file")
        return 1

    # tika needs an external tika-server metadata run — not available from
    # the bare CLI, exactly like the reference without a tika install
    # (warcit/warcit.py:366-371)
    if r.use_magic == "tika" or r.charset == "tika":
        logger.error(
            "Apache Tika not available, please set up or use another method "
            "for Content-Type or encoding detection."
        )
        return 1

    if r.charset is None or r.charset == "none":
        charset = None
    elif r.charset == "cchardet":
        charset = "auto"
    else:
        charset = r.charset

    try:
        mime_overrides = _parse_mime_overrides(r.mime_overrides)
    except ValueError as e:
        logger.error(str(e))
        return 1

    from warcit_spark.session import get_spark
    from warcit_spark.sources.binary_files import resolve_input

    # validate inputs up front: invalid ones warn and are skipped, the run
    # continues and still writes the (possibly empty) WARC — exit 0, like
    # the reference (test_warcit.py:171-181)
    valid_inputs = []
    for input_ in r.inputs:
        kind = resolve_input(input_)[0]
        if kind == "invalid":
            logger.error(f'"{input_}" not a valid file, directory, or zip path')
        else:
            valid_inputs.append(input_)

    spark = get_spark("warcit-cli")

    mapfile_df = None
    if r.mapfile:
        from warcit_spark.sources.mapfile import read_mapfile

        try:
            mapfile_df = read_mapfile(spark, r.mapfile)
        except Exception as e:
            logger.error(str(e))
            return 1

    conversions_df = transclusions_df = None
    if r.conversions:
        from warcit_spark.sources.sidecars import read_conversions

        conversions_df = read_conversions(spark, r.conversions)
    if r.transclusions:
        from warcit_spark.sources.sidecars import read_transclusions

        transclusions_df = read_transclusions(spark, r.transclusions)

    from warcit_spark.operators.joins import MapfileUniquenessError
    from warcit_spark.plans.warcit_pipeline import files_to_warc_records, warcit_run

    cmdline = " ".join(["warcit"] + argv)
    kwargs = dict(
        include=_split_csv(r.include),
        exclude=_split_csv(r.exclude),
        mapfile=mapfile_df,
        mime_overrides=mime_overrides,
        no_xhtml=r.no_xhtml,
        charset=charset,
        fixed_dt=r.fixed_dt,
        index_files=tuple(_split_csv(r.index_files) or ()),
        conversions=conversions_df,
        transclusions=transclusions_df,
        mime_method=r.use_magic,
    )

    count = 0
    with tempfile.TemporaryDirectory(prefix="warcit-spark-") as tmp:
        if valid_inputs:
            try:
                # records built ONCE (a duplicate-mapfile run fails
                # here, before any output is written — the reference's
                # abort) and shared by the write and the --log sidecar;
                # persisted when both consume it so the site is scanned
                # once
                records = files_to_warc_records(
                    spark, valid_inputs, r.url_prefix, **kwargs
                )
                if r.log:
                    records = records.persist()
                manifest = warcit_run(
                    spark, valid_inputs, r.url_prefix, os.path.join(tmp, "out"),
                    gzip_records=gzip_records, one_file=True,
                    warcinfo=not r.no_warcinfo, cmdline=cmdline,
                    records=records, warcinfo_filename=name,
                ).collect()
            except MapfileUniquenessError as e:
                logger.error(str(e))
                return 1
            # one_file: at most one part; none when every file is filtered out
            part = manifest[0].path if manifest else None
            count = sum(m.n_records for m in manifest)
            if r.log:
                _write_cli_log(records, r.log)
                records.unpersist()
        else:
            part = None
            if r.log:
                import pandas as pd

                pd.DataFrame(
                    columns=["file", "Record-Type", "URL", "timestamp",
                             "Content-Type", "mime", "charset"]
                ).to_csv(r.log, index=False)

        if part is None and not r.no_warcinfo:
            # zero records: the reference still writes the warcinfo-only
            # file ("Wrote 0 resources", test_warcit.py:160-166)
            from warcit_spark.sinks.warc import write_warcinfo_only

            part = write_warcinfo_only(
                os.path.join(tmp, "empty" + (".warc.gz" if gzip_records else ".warc")),
                name, cmdline, gzip_records=gzip_records,
            )

        if r.append and os.path.exists(name):
            if part is not None:
                with open(name, "ab") as target, open(part, "rb") as src:
                    shutil.copyfileobj(src, target)
        elif part is not None:
            shutil.move(part, name)
        else:  # --no-warcinfo with zero records: empty file
            open(name, "wb").close()

    logger.info(f"Wrote {count} resources to {name}")
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
