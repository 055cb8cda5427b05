"""End-to-end warcit-workflow parity: directory -> records -> WARC file.

Mirrors the reference's own test style and count semantics
(/root/reference/test/test_warcit.py): a mini website with two index.html
files at different depths, css/js/ico assets, an extension-less page —
N files -> N resources + R revisits; excludes reduce counts; mapfile
overrides URL/date/type; warcinfo excluded from record counts.
"""

from __future__ import annotations

import base64
import hashlib
import json
import zlib

import pytest
from pyspark.sql import functions as F

from warcit_spark.plans.warcit_pipeline import files_to_warc_records, warcit_run
from warcit_spark.sinks.warc import read_warc_records, write_warcinfo_only

SITE_FILES = {
    "index.html": "<html><body>root <a href=\"sub/page.html\">p</a></body></html>",
    "sub/index.html": "<html><body>sub index</body></html>",
    "sub/page.html": "<html><body>a page</body></html>",
    "styles/main.css": "body { color: red }",
    "scripts/app.js": "console.log(1)",
    "favicon.ico": "\x00\x01\x02binary-ish",
    "about": "<html><body>about, extension-less</body></html>",
    "data file.txt": "plain text",
}


@pytest.fixture(scope="module")
def site(tmp_path_factory):
    d = tmp_path_factory.mktemp("warcit_site")
    for rel, content in SITE_FILES.items():
        p = d / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(content)
    return str(d)


PREFIX = "http://example.com/"


def test_resource_and_revisit_counts(spark, site):
    """8 files -> 8 resources + 2 revisits (two index.html) = 10 records —
    the reference's '24 = 22 + 2' semantics (test_warcit.py:43)."""
    recs = files_to_warc_records(spark, site, PREFIX)
    by_type = {r["record_type"]: r["count"] for r in recs.groupBy("record_type").count().collect()}
    assert by_type == {"resource": 8, "revisit": 2}


def test_exclude_reduces_counts(spark, site):
    """--exclude '*.js' drops the js file and its would-be records
    (test_warcit.py:47-50)."""
    recs = files_to_warc_records(spark, site, PREFIX, exclude=["*.js"])
    assert recs.where(F.col("record_type") == "resource").count() == 7
    assert recs.where(F.col("url").endswith(".js")).count() == 0


def test_no_index_files_no_revisits(spark, site):
    """--index-files '' -> no revisit records (test_warcit.py:77-86)."""
    recs = files_to_warc_records(spark, site, PREFIX, index_files=())
    assert recs.where(F.col("record_type") == "revisit").count() == 0


def test_index_files_match_case_insensitively(spark, site):
    """--index-files names are lowercased like the reference's
    (warcit/warcit.py:212-215): ``INDEX.HTML`` names both index.html
    files."""
    recs = files_to_warc_records(spark, site, PREFIX, index_files=("INDEX.HTML",))
    got = sorted(
        r.url for r in recs.where(F.col("record_type") == "revisit").collect()
    )
    assert got == [PREFIX, PREFIX + "sub/"]


def test_record_fields_and_url_encoding(spark, site):
    recs = {r.url: r for r in files_to_warc_records(spark, site, PREFIX).collect()}
    # F2: space percent-encoded lowercase-hex
    assert f"{PREFIX}data%20file.txt" in recs
    css = recs[f"{PREFIX}styles/main.css"]
    assert css.content_type.startswith("text/css")
    ico = recs[f"{PREFIX}favicon.ico"]
    assert ico.content_type == "image/x-icon"  # the reference's .ico registration
    about = recs[f"{PREFIX}about"]
    assert about.content_type.startswith("text/html")  # default mime
    # revisit carries its index file's digest (A4 content-addressing)
    rev = recs[f"{PREFIX}sub/"]
    assert rev.payload_digest == recs[f"{PREFIX}sub/index.html"].payload_digest


def test_mapfile_overrides_url_date_type(spark, site):
    mapfile = spark.createDataFrame(
        [("sub/page.html", "http://mapped.test/p", "2011-02", "application/x-map")],
        ["file", "URL", "timestamp", "Content-Type"],
    )
    recs = files_to_warc_records(spark, site, PREFIX, mapfile=mapfile)
    mapped = recs.where(F.col("url") == "http://mapped.test/p").collect()
    assert len(mapped) == 1
    assert mapped[0].warc_date == "2011-02-01T00:00:00Z"  # F6 pad-down
    assert mapped[0].content_type == "application/x-map"


def test_full_run_multipart_with_clean_mapfile(spark, site, tmp_path):
    """A CLEAN unique-suffix mapfile on the default multi-part path must
    NOT raise."""
    mapfile = spark.createDataFrame(
        [("sub/page.html", "http://mapped.test/p", "2011-02", "application/x-map")],
        ["file", "URL", "timestamp", "Content-Type"],
    )
    out = str(tmp_path / "warc_multipart")
    manifest = warcit_run(
        spark, site, PREFIX, out, charset=None, num_parts=4, mapfile=mapfile
    ).collect()
    assert sum(r.n_records for r in manifest) == 10


def test_full_run_multipart_dup_mapfile_still_fails(spark, site, tmp_path):
    """REAL duplicates fail on the multi-part path: 'index.html'
    suffix-matches both index files -> job fails with a non-empty
    duplicate listing (warcit.py:335-337)."""
    from warcit_spark.operators.joins import MapfileUniquenessError

    mapfile = spark.createDataFrame(
        [("index.html", "http://mapped.test/i", "2011", "text/html")],
        ["file", "URL", "timestamp", "Content-Type"],
    )
    out = str(tmp_path / "warc_dupmap")
    with pytest.raises(MapfileUniquenessError, match="index.html"):
        warcit_run(
            spark, site, PREFIX, out, charset=None, num_parts=4, mapfile=mapfile
        )


def test_full_run_to_warc_file(spark, site, tmp_path):
    out = str(tmp_path / "warc_out")
    manifest = warcit_run(
        spark, site, PREFIX, out, charset=None, one_file=True
    ).collect()
    assert len(manifest) == 1
    recs = read_warc_records(manifest[0].path)
    # warcinfo first, excluded from the count (warcit.py:444 vs 424)
    assert recs[0]["headers"]["WARC-Type"] == "warcinfo"
    assert manifest[0].n_records == 10
    # each index.html resource is directly followed by its revisit
    types_by_uri = [
        (r["headers"].get("WARC-Target-URI", ""), r["headers"]["WARC-Type"])
        for r in recs[1:]
    ]
    for i, (uri, t) in enumerate(types_by_uri):
        if uri.endswith("/index.html"):
            assert types_by_uri[i + 1] == (uri.rsplit("/", 1)[0] + "/", "revisit")
    # payload round-trip byte-identical
    page = next(
        r for r in recs if r["headers"].get("WARC-Target-URI", "").endswith("sub/page.html")
    )
    assert page["payload"].decode() == SITE_FILES["sub/page.html"]


def _gzip_member_mtimes(path):
    """The MTIME header field (bytes 4-7) of every gzip member of a file."""
    with open(path, "rb") as fh:
        data = fh.read()
    mtimes = []
    while data:
        assert data[:2] == b"\x1f\x8b"
        mtimes.append(data[4:8])
        member = zlib.decompressobj(wbits=31)
        member.decompress(data)
        data = member.unused_data
    return mtimes


def test_gzip_members_carry_no_timestamp(spark, site, tmp_path):
    """Every gzip member of a .warc.gz (one per record, warcinfo included)
    has MTIME 0, so re-runs are byte-identical, not only their decompressed
    streams."""
    (part,) = warcit_run(
        spark, site, PREFIX, str(tmp_path / "out"), charset=None, one_file=True
    ).collect()
    empty = write_warcinfo_only(
        str(tmp_path / "empty.warc.gz"), "empty.warc.gz", None
    )
    mtimes = _gzip_member_mtimes(part.path)
    assert len(mtimes) == part.n_records + 1
    assert set(mtimes) == {bytes(4)}
    assert _gzip_member_mtimes(empty) == [bytes(4)]


def test_colon_in_file_name(spark, tmp_path):
    """A file name holding ':' is scanned and written like any other: its
    URL percent-encodes the ':' and its digest is the file's sha1."""
    site = tmp_path / "colon_site"
    site.mkdir()
    body = b"<html><body>colon</body></html>"
    (site / "a:b.html").write_bytes(body)
    out = str(tmp_path / "colon_warc")
    manifest = warcit_run(
        spark, str(site), PREFIX, out, charset=None, one_file=True
    ).collect()
    recs = read_warc_records(manifest[0].path)
    assert [r["headers"].get("WARC-Target-URI") for r in recs[1:]] == [
        f"{PREFIX}a%3ab.html"
    ]
    digest = base64.b32encode(hashlib.sha1(body).digest()).decode()
    assert recs[1]["headers"]["WARC-Payload-Digest"] == f"sha1:{digest}"
    assert recs[1]["payload"] == body


def test_conversion_workflow_golden_ordering(spark, tmp_path):
    """Composed --conversions/--transclusions run reproduces the reference's
    record sequence (test/test_warcit.py:257-265, 290-299): warcinfo,
    resource, conversions in file order, then the urn:embeds resource."""
    from warcit_spark.sinks.warc import read_warc_records
    from warcit_spark.sources.sidecars import (
        conversions_from_dict,
        transclusions_from_dict,
    )

    site = tmp_path / "site" / "videos"
    site.mkdir(parents=True)
    (site / "barsandtone.flv").write_bytes(b"FLV\x01fakevideo")
    outdir = tmp_path / "conv"
    outdir.mkdir()
    (outdir / "v.png").write_bytes(b"\x89PNG\r\n\x1a\nfake")
    (outdir / "v.webm").write_bytes(b"\x1aE\xdf\xa3fake")
    (outdir / "v.mp4").write_bytes(b"\x00\x00\x00\x18ftypfake")

    flv = "http://www.example.com/videos/barsandtone.flv"
    conv = conversions_from_dict(spark, {"conversions": {flv: [
        {"url": flv + ".png", "output": str(outdir / "v.png"), "success": True,
         "metadata": {"name": "png", "ext": "png", "mime": "image/png"}},
        {"url": flv + ".webm", "output": str(outdir / "v.webm"), "success": True,
         "metadata": {"name": "webm", "ext": "webm", "mime": "video/webm"}},
        {"url": flv + ".mp4", "output": str(outdir / "v.mp4"), "success": True,
         "metadata": {"name": "mp4", "ext": "mp4", "mime": "video/mp4"}},
        {"url": flv + ".bad", "output": str(outdir / "missing"), "success": False},
    ]}})
    tr = transclusions_from_dict(spark, {"transclusions": {flv: [
        {"url": "http://www.example.com/containing/page.html",
         "timestamp": "20190103020000", "selector": "object, embed"},
    ]}})

    out = str(tmp_path / "w")
    manifest = warcit_run(
        spark, str(tmp_path / "site"), "http://www.example.com/", out,
        one_file=True, conversions=conv, transclusions=tr,
    ).collect()
    recs = read_warc_records(manifest[0].path)
    listing = [
        (r["headers"]["WARC-Type"], r["headers"].get("WARC-Target-URI"))
        for r in recs
    ]
    assert listing == [
        ("warcinfo", None),
        ("resource", flv),
        ("conversion", flv + ".png"),
        ("conversion", flv + ".webm"),
        ("conversion", flv + ".mp4"),
        ("resource", "urn:embeds:http://www.example.com/containing/page.html"),
    ]
    # refer-back id of each conversion == the flv resource's actual record id
    flv_id = recs[1]["headers"]["WARC-Record-ID"]
    for r in recs[2:5]:
        assert r["headers"]["WARC-Refers-To"] == flv_id
        assert r["headers"]["WARC-Refers-To-Target-URI"] == flv
        assert r["headers"]["WARC-Refers-To-Target-Date"] == recs[1]["headers"]["WARC-Date"]
        assert "WARC-JSON-Metadata" in r["headers"]
    # byte fidelity vs the reference's json.dumps(metadata) (warcit.py:576):
    # ': ' separator, None keys omitted; the payload is the output file
    png = recs[2]
    assert png["headers"]["WARC-JSON-Metadata"] == json.dumps(
        {"name": "png", "ext": "png", "mime": "image/png"}
    )
    assert png["payload"] == (outdir / "v.png").read_bytes()
    # embeds record carries no refer-back headers (reference sets none)
    assert "WARC-Refers-To-Target-URI" not in recs[5]["headers"]
    # embeds timestamp came from the transclusion entry
    assert recs[5]["headers"]["WARC-Date"] == "2019-01-03T02:00:00Z"


def test_mime_method_magic_sniffs_content(spark, tmp_path):
    """--use-magic slot: extension-less/misnamed files get the sniffed
    type (warcit/warcit.py:28, 638-640)."""
    site = tmp_path / "msite"
    site.mkdir()
    (site / "noext").write_bytes(b"\x89PNG\r\n\x1a\n" + b"x" * 20)
    (site / "lying.css").write_bytes(b"GIF89a" + b"y" * 20)
    (site / "page.bin").write_bytes(b"<!DOCTYPE html><html></html>")

    recs = {
        r.url: r.content_type
        for r in files_to_warc_records(
            spark, str(site), "http://m.test/", mime_method="magic",
            charset=None,
        ).collect()
        if r.record_type == "resource"
    }
    assert recs["http://m.test/noext"] == "image/png"
    assert recs["http://m.test/lying.css"] == "image/gif"
    assert recs["http://m.test/page.bin"] == "text/html"


def test_mime_method_magic_invalid_utf8_is_octet_stream(spark, tmp_path):
    """Content matching no magic prefix AND not valid UTF-8 must land on
    application/octet-stream — not crash the job with Spark 4's ANSI
    MALFORMED_CHARACTER_CODING on the text-sniff decode."""
    site = tmp_path / "bsite"
    site.mkdir()
    # ICO-like header: no registered magic prefix, invalid UTF-8 bytes
    (site / "favicon.blob").write_bytes(b"\x00\x00\x01\x00\xff\xfe\xfd" * 40)
    # valid UTF-8 but with control bytes -> also octet-stream
    (site / "ctrl.blob").write_bytes(b"ok\x01\x02\x03 text" * 10)

    recs = {
        r.url: r.content_type
        for r in files_to_warc_records(
            spark, str(site), "http://b.test/", mime_method="magic",
            charset=None,
        ).collect()
        if r.record_type == "resource"
    }
    assert recs["http://b.test/favicon.blob"] == "application/octet-stream"
    assert recs["http://b.test/ctrl.blob"] == "application/octet-stream"


def test_mime_method_magic_utf8_char_split_at_buffer_cut(spark, tmp_path):
    """A multi-byte UTF-8 char straddling the 256/2048-byte sniff cut must
    not null the whole head: the boundary trim keeps the clean prefix, so
    genuine text/html still classifies as text (libmagic fidelity)."""
    site = tmp_path / "usite"
    site.mkdir()
    # 7 ASCII bytes + 2-byte chars: byte 256 falls mid-char (7+249 odd)
    (site / "page.bin").write_bytes(b"<html> " + ("é" * 200).encode())
    # same shape for the 2048-byte plain-text sniff path (no html marker)
    (site / "plain.bin").write_bytes(b"hello " + ("ü" * 1500).encode())
    # a COMPLETE final char at exactly the cut must also survive
    (site / "exact.bin").write_bytes(b"<html>" + ("é" * 125).encode())
    assert len((site / "exact.bin").read_bytes()) == 256

    recs = {
        r.url: r.content_type
        for r in files_to_warc_records(
            spark, str(site), "http://u.test/", mime_method="magic",
            charset=None,
        ).collect()
        if r.record_type == "resource"
    }
    assert recs["http://u.test/page.bin"] == "text/html"
    assert recs["http://u.test/plain.bin"] == "text/plain"
    assert recs["http://u.test/exact.bin"] == "text/html"


def test_mime_and_charset_method_tika(spark, tmp_path):
    """--use-magic tika / --charset tika slot (warcit/warcit.py:642-652,
    686-703) over a caller-supplied tika_results column: first-of-list
    Content-Type, default-8-bit charset suppression unless a
    Content-Type-Hint exists, literal 'ascii' kept (no cchardet ascii
    rule), and any missing piece falling through to the F3/F5 defaults."""
    from warcit_spark.functions.mime import TIKA_RESULTS_SCHEMA

    site = tmp_path / "tsite"
    site.mkdir()
    for name in ("a.css", "b.txt", "c.txt", "d.txt", "e.txt", "noinfo.bin"):
        (site / name).write_bytes(b"content of " + name.encode())

    u = "http://t.test/"
    tika = spark.createDataFrame(
        [
            # list-first + ';' split: css extension is OVERRIDDEN by tika
            (u + "a.css", (["text/html; charset=utf-8", "application/xml"], None, None)),
            # windows-1252 without hint -> suppressed
            (u + "b.txt", (["text/plain"], ["windows-1252"], False)),
            # ISO-8859-1 WITH hint -> kept
            (u + "c.txt", (["text/plain"], ["ISO-8859-1"], True)),
            # plain utf-8 -> kept; ascii -> kept too (tika has no ascii rule)
            (u + "d.txt", (["text/plain"], ["ascii"], None)),
            (u + "e.txt", (["text/plain"], ["utf-8"], None)),
            # noinfo.bin has NO tika row at all -> default text/html
        ],
        f"url string, tika_results {TIKA_RESULTS_SCHEMA}",
    )
    recs = {
        r.url: r.content_type
        for r in files_to_warc_records(
            spark, str(site), u, mime_method="tika", charset="tika",
            tika_results=tika,
        ).collect()
        if r.record_type == "resource"
    }
    assert recs[u + "a.css"] == "text/html"
    assert recs[u + "b.txt"] == "text/plain"
    assert recs[u + "c.txt"] == "text/plain; charset=ISO-8859-1"
    assert recs[u + "d.txt"] == "text/plain; charset=ascii"
    assert recs[u + "e.txt"] == "text/plain; charset=utf-8"
    assert recs[u + "noinfo.bin"] == "text/html"

    # tika_results is mandatory when either method is 'tika'
    with pytest.raises(ValueError):
        files_to_warc_records(spark, str(site), u, mime_method="tika")


def _record_listing(paths):
    """(WARC-Type, WARC-Target-URI) of every non-warcinfo record, reading
    the part files in name order."""
    out = []
    for p in sorted(paths):
        for r in read_warc_records(p):
            if r["headers"]["WARC-Type"] != "warcinfo":
                out.append(
                    (r["headers"]["WARC-Type"], r["headers"].get("WARC-Target-URI"))
                )
    return out


def test_multipart_default_is_globally_ordered(spark, site, tmp_path):
    """Default multi-part output: part N holds a contiguous slice of the
    total order (range partitioning), so concatenating parts in filename
    order reproduces the one_file record sequence, byte-identically minus
    warcinfo/partition framing.  Determinism: two runs produce identical
    listings."""
    one = str(tmp_path / "one")
    multi = str(tmp_path / "multi")
    multi2 = str(tmp_path / "multi2")
    warcit_run(spark, site, PREFIX, one, charset=None, one_file=True).collect()
    m1 = warcit_run(spark, site, PREFIX, multi, charset=None, num_parts=4).collect()
    m2 = warcit_run(spark, site, PREFIX, multi2, charset=None, num_parts=4).collect()

    import glob

    single = _record_listing(glob.glob(f"{one}/part-*"))
    parts1 = _record_listing([r.path for r in m1])
    parts2 = _record_listing([r.path for r in m2])
    assert parts1 == single  # same global order across part files
    assert parts1 == parts2  # deterministic across runs
    assert len(m1) > 1  # actually split


def test_default_run_reads_content_in_one_stage(spark, site, tmp_path):
    """A default multi-part run is 3 Spark jobs: the extension table's
    broadcast, the one stage that reads the content (and shuffles it),
    and the write.  No range sample re-reads the records, and the
    returned manifest is a local relation: collecting it runs no job."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("warcit-run-once", "warcit_run")
        manifest = warcit_run(spark, site, PREFIX, str(tmp_path / "out"), num_parts=4)
        run_jobs = len(tracker.getJobIdsForGroup("warcit-run-once"))
        sc.setJobGroup("warcit-run-once-collect", "manifest collect")
        rows = manifest.collect()
        collect_jobs = len(tracker.getJobIdsForGroup("warcit-run-once-collect"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sum(r.n_records for r in rows) == 10
    assert run_jobs == 3
    assert collect_jobs == 0


def test_multipart_bounds_from_listing_fill_every_part(spark, tmp_path):
    """The range bounds come from the file listing, whose URIs are encoded
    (file:///a%20b) where the sort key holds the Hadoop path (file:/a b);
    keyed right, 48 files over 4 parts give 4 parts of 12 records."""
    d = tmp_path / "wide_site"
    for i in range(48):
        p = d / f"d{i % 5}" / f"page {i:02d}#x.html"
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(f"<html><body>page {i}</body></html>")
    manifest = warcit_run(
        spark, str(d), PREFIX, str(tmp_path / "out"), charset=None, num_parts=4
    ).collect()
    assert sorted(r.n_records for r in manifest) == [12, 12, 12, 12]
    one = warcit_run(
        spark, str(d), PREFIX, str(tmp_path / "one"), charset=None, one_file=True
    ).collect()
    assert _record_listing([r.path for r in manifest]) == _record_listing(
        [r.path for r in one]
    )


def test_multipart_order_with_zip_input(spark, site, tmp_path):
    """A zip input is listed as the zip, not its members, so its members'
    keys fall anywhere between the listing's bounds; the multi-part record
    order of a directory + zip run still equals the one_file order."""
    import os
    import zipfile

    zpath = tmp_path / "site.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for rel in sorted(SITE_FILES):
            zf.write(os.path.join(site, rel), rel)
    inputs = [site, str(zpath)]
    multi = warcit_run(
        spark, inputs, PREFIX, str(tmp_path / "multi"), charset=None, num_parts=4
    ).collect()
    one = warcit_run(
        spark, inputs, PREFIX, str(tmp_path / "one"), charset=None, one_file=True
    ).collect()
    listing = _record_listing([r.path for r in multi])
    assert len(listing) == 20  # 2 x (8 resources + 2 revisits)
    assert listing == _record_listing([r.path for r in one])
