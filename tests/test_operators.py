"""Operator-level golden tests: filters, joins, record derivation, MIME."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from warcit_spark.operators.filters import apply_include_exclude
from warcit_spark.operators.joins import MapfileUniquenessError, mapfile_suffix_join
from warcit_spark.operators.records import transclusion_metadata_records
from warcit_spark.functions.mime import (
    charset_suffix_expr,
    guess_mime_expr,
    mime_override_expr,
    url_extension_expr,
)
from warcit_spark.sources.sidecars import (
    conversions_from_dict,
    transclusions_from_dict,
)


# ----------------------------------------------------------------- F1 filter
FILES = [
    "/root/site/index.html",
    "/root/site/app.JS",
    "/root/site/style.css",
    "/root/site/img/logo.ico",
]


def _filter(spark, include, exclude):
    df = spark.createDataFrame([(f,) for f in FILES], ["filename"])
    return {
        r.filename
        for r in apply_include_exclude(df, "filename", include, exclude).collect()
    }


def test_include_only_whitelist(spark):
    assert _filter(spark, ["*.html"], None) == {"/root/site/index.html"}


def test_exclude_only_blacklist(spark):
    # lowercased match: '*.js' must exclude 'app.JS' (warcit.py:345-346)
    assert _filter(spark, None, ["*.js"]) == {
        "/root/site/index.html",
        "/root/site/style.css",
        "/root/site/img/logo.ico",
    }


def test_include_overrides_exclude(spark):
    # both lists: a row matching include passes even if exclude matches;
    # a row matching neither also passes (warcit.py:466-471)
    got = _filter(spark, ["*.css"], ["*.css", "*.js"])
    assert got == {
        "/root/site/index.html",
        "/root/site/style.css",
        "/root/site/img/logo.ico",
    }


def test_no_lists_passes_all(spark):
    assert _filter(spark, None, None) == set(FILES)


# -------------------------------------------------------------- J1 suffix join
def test_mapfile_suffix_join_first_match_wins(spark):
    files = spark.createDataFrame(
        [("/data/a/page.html",), ("/data/b/other.html",)], ["filename"]
    )
    mapfile = spark.createDataFrame(
        [
            ("a/page.html", "http://x/a", "2017", "text/html"),
            ("page.html", "http://x/generic", "2018", "text/plain"),
            ("zzz.html", "http://x/z", None, None),
        ],
        ["file", "URL", "timestamp", "Content-Type"],
    ).coalesce(1)
    out = {
        r.filename: (r.map_url, r.map_timestamp, r.map_ct)
        for r in mapfile_suffix_join(files, mapfile).collect()
    }
    # '/data/a/page.html' matches both rows; the FIRST mapfile row wins
    assert out["/data/a/page.html"] == ("http://x/a", "2017", "text/html")
    assert out["/data/b/other.html"] == (None, None, None)


def test_mapfile_row_matching_twice_fails_job(spark):
    """A mapfile row matching a second file raises from the join itself,
    before the caller runs any action (warcit.py:335-337)."""
    files = spark.createDataFrame(
        [("/d/1/page.html",), ("/d/2/page.html",)], ["filename"]
    )
    mapfile = spark.createDataFrame(
        [("page.html", "http://x", "2017", "text/html")],
        ["file", "URL", "timestamp", "Content-Type"],
    )
    with pytest.raises(MapfileUniquenessError, match=r"page\.html \(x2\)"):
        mapfile_suffix_join(files, mapfile)


def test_mapfile_strict_verify_runs_own_action_if_needed(spark):
    """No caller action has run: the join runs its own uniqueness job, and
    that job both passes a clean mapfile and catches a duplicate match."""
    tracker = spark.sparkContext.statusTracker()
    files = spark.createDataFrame(
        [("/d/1/page.html",), ("/d/2/page.html",)], ["filename"]
    )
    clean = spark.createDataFrame(
        [("1/page.html", "http://x/1", "2017", "text/html")],
        ["file", "URL", "timestamp", "Content-Type"],
    )
    # job ids only grow, and the status store evicts its oldest jobs in
    # batches (spark.ui.retainedJobs), so compare the newest id, not a count
    last_before = max(tracker.getJobIdsForGroup() or [-1])
    joined = mapfile_suffix_join(files, clean)
    assert max(tracker.getJobIdsForGroup() or [-1]) > last_before
    assert {r.filename: r.map_url for r in joined.collect()} == {
        "/d/1/page.html": "http://x/1",
        "/d/2/page.html": None,
    }

    dup = spark.createDataFrame(
        [("page.html", "http://x", "2017", "text/html")],
        ["file", "URL", "timestamp", "Content-Type"],
    )
    with pytest.raises(MapfileUniquenessError):
        mapfile_suffix_join(files, dup)


def test_mapfile_empty_returns_null_columns(spark):
    """0-row mapfile: every file kept, NULL map_* columns."""
    files = spark.createDataFrame([("/d/a.html",)], ["filename"])
    mapfile = spark.createDataFrame(
        [], "file string, URL string, timestamp string, `Content-Type` string"
    )
    out = mapfile_suffix_join(files, mapfile).collect()
    assert len(out) == 1
    r = out[0]
    assert r.map_url is None and r.map_timestamp is None and r.map_ct is None


# --------------------------------------------------------- D3 + A2 golden JSON
def _embeds(tr, conv):
    """D3 records for transclusions whose media resource has no resolved
    Content-Type and no sort key."""
    tr = tr.withColumn("_orig_ct", F.lit(None).cast("string")).withColumn(
        "_media_sort", F.lit(None).cast("string")
    )
    return transclusion_metadata_records(tr, conv, orig_mime_col="_orig_ct")


def _reference_metadata_json(contain_url, contain_ts, selector, media_url,
                             conv_formats, orig_mime=None):
    """Independent re-run of converter.py:250-276 + warcit.py:589."""
    md = {"webpage_url": contain_url, "webpage_timestamp": str(contain_ts)}
    if selector:
        md["selector"] = selector
    formats = []
    for f in conv_formats:
        d = dict(f)
        d["original_url"] = media_url
        formats.append(d)
    orig = {"url": media_url, "ext": media_url.rsplit(".")[-1], "original": True}
    if orig_mime:
        orig["mime"] = orig_mime
    formats.append(orig)
    md["formats"] = formats
    return json.dumps(md, indent=2, sort_keys=True)


def test_transclusion_metadata_byte_identical(spark):
    conv_doc = {
        "conversions": {
            "http://m/v.flv": [
                {"url": "http://m/v.mp4", "output": "/o/v.mp4", "success": True,
                 "metadata": {"name": "mp4", "ext": "mp4", "mime": "video/mp4"}},
            ]
        }
    }
    tr_doc = {
        "transclusions": {
            "http://m/v.flv": [
                {"url": "http://page/embed.html", "timestamp": "20170304123456",
                 "selector": "object"},
                {"timestamp": "2017"},  # no url -> warn-skip path
            ]
        }
    }
    conv = conversions_from_dict(spark, conv_doc)
    tr = transclusions_from_dict(spark, tr_doc)
    out = _embeds(tr, conv).collect()
    assert len(out) == 1  # the url-less entry was skipped
    rec = out[0]
    assert rec.url == "urn:embeds:http://page/embed.html"
    # WARC-Type matches the reference's embeds record (warcit.py:601
    # create_warc_record(..., 'resource')); 'metadata' is only its CSV log label
    assert rec.record_type == "resource"
    assert rec.warc_date == "2017-03-04T12:34:56Z"
    assert rec.content_type == "application/vnd.youtube-dl_formats+json"

    want = _reference_metadata_json(
        "http://page/embed.html",
        "20170304123456",
        "object",
        "http://m/v.flv",
        [{"name": "mp4", "ext": "mp4", "mime": "video/mp4", "url": "http://m/v.mp4"}],
    )
    assert rec.payload_json == want  # byte-identical (sort_keys, indent 2)


# ----------------------------------------------------------------- F3/F5 MIME
def test_mime_precedence_chain(spark):
    df = spark.createDataFrame(
        [
            # mapfile ct wins over everything
            ("http://x/a.css", "text/plain; charset=utf-8"),
            # override beats guessed
            ("http://x/ovr.css", None),
            # guessed from extension
            ("http://x/b.css", None),
            # nothing -> default text/html
            ("http://x/c.unknownext", None),
        ],
        "url string, map_ct string",
    )
    override = mime_override_expr(F.col("url"), {"*ovr*": "application/x-ovr"})
    guessed = (
        F.when(url_extension_expr(F.col("url")) == ".css", "text/css")
    )
    out = {
        r.url: r.mime
        for r in df.select(
            "url",
            guess_mime_expr(F.col("map_ct"), override, guessed).alias("mime"),
        ).collect()
    }
    assert out == {
        "http://x/a.css": "text/plain",
        "http://x/ovr.css": "application/x-ovr",
        "http://x/b.css": "text/css",
        "http://x/c.unknownext": "text/html",
    }


def test_xhtml_rewrite(spark):
    df = spark.createDataFrame([("http://x/p.xhtml",)], ["url"])
    mime = guess_mime_expr(
        F.lit(None), F.lit(None), F.lit("application/xhtml+xml"), no_xhtml=True
    )
    assert df.select(mime.alias("m")).first().m == "text/html"


def test_charset_suppression_rules(spark):
    df = spark.createDataFrame(
        [
            ("text/html", None, "UTF-8"),
            ("text/html", None, "ascii"),          # suppressed
            ("image/png", None, "UTF-8"),          # non-text -> ''
            ("text/html", "text/html; charset=iso-8859-1", "UTF-8"),  # mapfile wins
        ],
        ["mime", "map_ct", "detected"],
    )
    suffix = charset_suffix_expr(F.col("mime"), F.col("map_ct"), F.col("detected"))
    got = [r.s for r in df.select(suffix.alias("s")).collect()]
    assert got == [
        "; charset=UTF-8",
        "",
        "",
        "; charset=iso-8859-1",
    ]


def test_charset_tika_default_8bit_suppression(spark):
    """``charset='tika'``: a default-assigned 8-bit charset is dropped
    unless hinted, and a literal ``ascii`` is kept (no cchardet rule)."""
    df = spark.createDataFrame(
        [
            ("text/html", "windows-1252", False),
            ("text/html", "windows-1252", True),
            ("text/html", "ISO-8859-1", False),
            ("text/html", "ascii", False),
        ],
        ["mime", "detected", "hinted"],
    )
    suffix = charset_suffix_expr(
        F.col("mime"),
        F.lit(None),
        F.col("detected"),
        charset="tika",
        has_hint=F.col("hinted"),
    )
    got = [r.s for r in df.select(suffix.alias("s")).collect()]
    assert got == ["", "; charset=windows-1252", "", "; charset=ascii"]


def test_transclusion_formats_order_deterministic(spark):
    """With >1 conversion per media url, the formats list follows
    conversion-file order (seq), not collect_list shuffle order."""
    conv_doc = {
        "conversions": {
            "http://m/v.flv": [
                {"url": "http://m/v.webm", "output": "/o/v.webm", "success": True,
                 "metadata": {"name": "webm", "ext": "webm", "mime": "video/webm"}},
                {"url": "http://m/v.mp4", "output": "/o/v.mp4", "success": True,
                 "metadata": {"name": "mp4", "ext": "mp4", "mime": "video/mp4"}},
            ]
        }
    }
    tr_doc = {
        "transclusions": {
            "http://m/v.flv": [
                {"url": "http://page/e.html", "timestamp": "20170304123456"},
            ]
        }
    }
    import json as _json

    conv = conversions_from_dict(spark, conv_doc).repartition(8)
    tr = transclusions_from_dict(spark, tr_doc)
    payloads = {
        _embeds(tr, conv).first().payload_json
        for _ in range(3)
    }
    assert len(payloads) == 1  # stable across repeated shuffled runs
    fmts = _json.loads(payloads.pop())["formats"]
    assert [f.get("name") for f in fmts] == ["webm", "mp4", None]  # file order, orig last
    assert all("_seq" not in f for f in fmts)


def test_anchor_text_agg_modal_and_counts(spark):
    from warcit_spark.operators.links import anchor_text_agg

    def page(url, html):
        return (url, html.encode())

    rows = [
        # two pages link to /t with text "News"; one with "news items  x"
        page("http://a.test/p1",
             '<a href="http://t.test/x">News</a>'
             '<a href="/local">here</a>'),
        page("http://a.test/p2",
             '<a class="c" href="http://t.test/x">News</a>'
             '<a href="http://t.test/x">news   items</a>'
             '<a href="http://t.test/x"></a>'                # empty text
             '<a href="http://t.test/x"><b>n</b></a>'        # nested: regex
             '<a href="mailto:x@y">mail</a>'),               # path skips it
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.target_url: r for r in anchor_text_agg(df).collect()}

    t = got["http://t.test/x"]
    # 4 inlink anchors (incl. the empty-text nested one)
    assert t.n_anchors == 4
    # distinct non-empty texts: "News", "news items" (whitespace collapsed)
    assert t.n_unique_texts == 2
    assert t.top_anchor == "News"  # count 2 beats 1

    loc = got["http://a.test/local"]  # root-relative resolved + canonical
    assert (loc.n_anchors, loc.top_anchor) == (1, "here")
    assert "mailto:x@y" not in got and len(got) == 2
