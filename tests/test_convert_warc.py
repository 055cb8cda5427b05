"""F8/F9/X1 conversion dispatch+execution and the K1/K2 WARC sink."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from warcit_spark.operators.convert import dispatch_conversions, run_conversions
from warcit_spark.plans.warcit_pipeline import files_to_warc_records
from warcit_spark.sinks.warc import read_warc_records, write_warc_files

FILE_TYPES = [
    {
        "ext": "flv",
        "conversion_rules": [
            {"name": "copy1", "ext": "c1", "command": "cp {input} {output}", "mime": "video/c1"},
            {"name": "skipme", "ext": "sk", "command": "cp {input} {output}", "mime": "x", "skip": True},
        ],
    },
    {
        "regex": r"http://m\.test/special/.*",
        "conversion_rules": [
            {"name": "copy2", "ext": "c2", "command": "cp {input} {output}", "mime": "video/c2"},
        ],
    },
]


@pytest.fixture()
def media_files(spark, tmp_path):
    root = tmp_path / "media"
    (root / "sub").mkdir(parents=True)
    f1 = root / "sub" / "a.flv"
    f1.write_bytes(b"FLV\x01payload-a")
    f2 = root / "b.mp3"
    f2.write_bytes(b"ID3-payload-b")
    rows = [
        ("http://m.test/sub/a.flv", str(f1)),
        ("http://m.test/special/b.mp3", str(f2)),
    ]
    return spark.createDataFrame(rows, "url string, filename string"), str(root)


def test_dispatch_rules(spark, media_files, tmp_path):
    files, root = media_files
    out_dir = str(tmp_path / "conv")
    planned = dispatch_conversions(files, FILE_TYPES, out_dir, root_dir=root)
    rows = {(r.url, r.rule_name): r for r in planned.collect()}
    # ext rule matched a.flv; skip rule dropped; regex rule matched special/
    assert set(rows) == {
        ("http://m.test/sub/a.flv", "copy1"),
        ("http://m.test/special/b.mp3", "copy2"),
    }
    r = rows[("http://m.test/sub/a.flv", "copy1")]
    assert r.conv_url == "http://m.test/sub/a.flv.c1"
    # F9 rebase: output under output_dir/basename(root)/relpath + '.' + ext
    assert r.output_path.endswith("/media/sub/a.flv.c1")
    assert r.command == f"cp {r.filename} {r.output_path}"


def test_run_conversions_and_dry_run(spark, media_files, tmp_path):
    files, root = media_files
    out_dir = str(tmp_path / "conv_run")
    planned = dispatch_conversions(files, FILE_TYPES, out_dir, root_dir=root)

    dry = run_conversions(planned, dry_run=True).collect()
    assert all(not r.success for r in dry)
    assert not os.path.isdir(out_dir)

    results = {r.url: r for r in run_conversions(planned).collect()}
    a = results["http://m.test/sub/a.flv.c1"]
    assert a.success and os.path.isfile(a.output)
    with open(a.output, "rb") as fh:
        assert fh.read() == b"FLV\x01payload-a"  # 'cp' really ran
    assert a.metadata["mime"] == "video/c1"


# ------------------------------------------------------------------ WARC sink
def _records_df(spark):
    rows = [
        ("http://w.test/a.html", "resource", "2017-03-04T12:34:56Z",
         "text/html", b"<html>a</html>", "da39a3ee"),
        ("http://w.test/dir/", "revisit", "2017-03-04T12:34:56Z",
         "text/html", b"", "da39a3ee"),
    ]
    return spark.createDataFrame(
        rows,
        "url string, record_type string, warc_date string, content_type string, "
        "payload binary, payload_digest string",
    )


def test_warc_roundtrip(spark, tmp_path):
    out = str(tmp_path / "warcs")
    manifest = write_warc_files(
        _records_df(spark).coalesce(1), out, gzip_records=True
    ).collect()
    assert len(manifest) == 1 and manifest[0].n_records == 2

    recs = read_warc_records(manifest[0].path)
    assert recs[0]["headers"]["WARC-Type"] == "warcinfo"
    assert b"software: warcit-spark" in recs[0]["payload"]
    assert recs[1]["headers"]["WARC-Target-URI"] == "http://w.test/a.html"
    assert recs[1]["headers"]["WARC-Date"] == "2017-03-04T12:34:56Z"
    assert recs[1]["headers"]["Content-Type"] == "text/html"
    assert recs[1]["headers"]["WARC-Payload-Digest"] == "sha1:da39a3ee"
    assert recs[1]["payload"] == b"<html>a</html>"
    assert recs[2]["headers"]["WARC-Type"] == "revisit"
    assert recs[2]["payload"] == b""


def test_warc_mode_semantics(spark, tmp_path):
    out = str(tmp_path / "warcs_mode")
    df = _records_df(spark).coalesce(1)
    write_warc_files(df, out).collect()
    with pytest.raises(FileExistsError):  # xb (warcit.py:143-148)
        write_warc_files(df, out).collect()


def test_warc_no_warcinfo_toggle(spark, tmp_path):
    """--no-warcinfo (warcit.py:93-96): first record is the resource itself
    and record count drops by the preamble."""
    out = str(tmp_path / "warcs_nowi")
    manifest = write_warc_files(
        _records_df(spark).coalesce(1), out, warcinfo=False
    ).collect()
    recs = read_warc_records(manifest[0].path)
    assert len(recs) == 2
    assert recs[0]["headers"]["WARC-Type"] == "resource"


def test_warc_deterministic_record_ids(spark, tmp_path):
    a = write_warc_files(_records_df(spark).coalesce(1), str(tmp_path / "w1")).collect()
    b = write_warc_files(_records_df(spark).coalesce(1), str(tmp_path / "w2")).collect()
    ra = read_warc_records(a[0].path)[1]["headers"]["WARC-Record-ID"]
    rb = read_warc_records(b[0].path)[1]["headers"]["WARC-Record-ID"]
    assert ra == rb


# -------------------------------------------------------------------- charset
def test_charset_detector_import_gate(monkeypatch):
    """When a cchardet/chardet module is importable, detect_charsets_batch
    must use it (reference-grade detection, warcit.py:670-684) — falsy
    results and missing encodings map to None; without one, the heuristic
    runs.  Driver-side unit test: the gate resolves at batch time."""
    import sys
    import types

    import pandas as pd

    from warcit_spark.operators import charset as mod

    calls = []

    def fake_detect(b):
        calls.append(bytes(b))
        if b == b"empty":
            return None
        if b == b"noenc":
            return {"encoding": None, "confidence": 0.0}
        return {"encoding": "KOI8-R", "confidence": 0.9}

    fake = types.ModuleType("cchardet")
    fake.detect = fake_detect
    monkeypatch.setitem(sys.modules, "cchardet", fake)
    out = mod.detect_charsets_batch(
        pd.Series([b"hello", b"empty", b"noenc", None, b""])
    ).tolist()
    assert out == ["KOI8-R", None, None, None, None]
    assert calls == [b"hello", b"empty", b"noenc"]

    # gate closed -> heuristic vocabulary; no payload -> no charset
    monkeypatch.delitem(sys.modules, "cchardet")
    out = mod.detect_charsets_batch(
        pd.Series([b"hello", "héllo".encode("utf-8"), b"\xff\xfe", None, b""])
    ).tolist()
    assert out == ["ascii", "UTF-8", "WINDOWS-1252", None, None]


def test_charset_detection_pipeline(spark, tmp_path):
    """F5 on the files->WARC path: detection runs for text/* resources
    only, then the suppression rules build the Content-Type."""
    site = tmp_path / "csite"
    site.mkdir()
    (site / "ascii.html").write_bytes("ascii only".encode())
    (site / "utf8.html").write_bytes("café utf8".encode("utf-8"))
    (site / "latin1.html").write_bytes(b"caf\xe9 latin1")
    (site / "pic.png").write_bytes("café".encode("utf-8"))  # non-text: never detected
    u = "http://c.test/"
    got = {
        r.url: r.content_type
        for r in files_to_warc_records(spark, str(site), u).collect()
    }
    assert got == {
        u + "ascii.html": "text/html",  # ascii suppressed (warcit.py:683-684)
        u + "utf8.html": "text/html; charset=UTF-8",
        u + "latin1.html": "text/html; charset=WINDOWS-1252",
        u + "pic.png": "image/png",
    }


def test_warc_digest_base32_like_warcio(spark, tmp_path):
    """40-hex digests are emitted base32-encoded, the warcio format the
    reference writes (warcit.py:544); sha1('') golden value."""
    import base64
    import hashlib

    hex40 = hashlib.sha1(b"").hexdigest()
    want = "sha1:" + base64.b32encode(hashlib.sha1(b"").digest()).decode()
    df = spark.createDataFrame(
        [("http://w.test/e", "resource", "2017-01-01T00:00:00Z", "text/html",
          b"", hex40)],
        "url string, record_type string, warc_date string, content_type string, "
        "payload binary, payload_digest string",
    )
    out = str(tmp_path / "wdig")
    manifest = write_warc_files(df.coalesce(1), out).collect()
    recs = read_warc_records(manifest[0].path)
    assert recs[1]["headers"]["WARC-Payload-Digest"] == want
    assert want == "sha1:3I42H3S6NNFQ2MSVX7XZKYAYSCX5QBYJ"  # known b32 of sha1('')


def test_warc_revisit_refers_to_headers(spark, tmp_path):
    """Revisit rows carry WARC-Refers-To-Target-URI/-Date like the
    reference's make_index_revisit (warcit.py:546-556)."""
    df = spark.createDataFrame(
        [("http://w.test/dir/", "revisit", "2017-03-04T12:34:56Z", "text/html",
          None, "http://w.test/dir/index.html", "2017-03-04T12:34:56Z")],
        "url string, record_type string, warc_date string, content_type string, "
        "payload binary, refers_to_target_uri string, refers_to_target_date string",
    )
    out = str(tmp_path / "wref")
    manifest = write_warc_files(df.coalesce(1), out).collect()
    recs = read_warc_records(manifest[0].path)
    h = recs[1]["headers"]
    assert h["WARC-Refers-To-Target-URI"] == "http://w.test/dir/index.html"
    assert h["WARC-Refers-To-Target-Date"] == "2017-03-04T12:34:56Z"


def test_conversion_yaml_roundtrip(spark, media_files, tmp_path):
    """Close the loop the reference's CLI pair implements: convert ->
    results YAML (merge-on-write, converter.py:97-115) -> read back ->
    identical conversions table, in rule order."""
    from warcit_spark.sources.sidecars import (
        read_conversions,
        write_conversions_yaml,
    )

    files, root = media_files
    out_dir = str(tmp_path / "rt_conv")
    planned = dispatch_conversions(files, FILE_TYPES, out_dir, root_dir=root)
    results = run_conversions(planned)
    ypath = str(tmp_path / "results" / "conversions.yaml")
    doc = write_conversions_yaml(results, ypath)

    # reference YAML shape: conversions -> url -> list of entries with
    # url/output/metadata/type/success, metadata = the rule dict (raw
    # command template), None fields omitted
    entry = doc["conversions"]["http://m.test/sub/a.flv"][0]
    assert entry["type"] == "conversion"
    assert entry["success"] is True
    assert entry["metadata"]["command"] == "cp {input} {output}"
    assert "skip_as_source" not in entry["metadata"]

    back = read_conversions(spark, ypath)
    orig = {(r.source_url, r.seq, r.url, r.output, r.success, r.rec_type)
            for r in results.collect()}
    got = {(r.source_url, r.seq, r.url, r.output, r.success, r.rec_type)
           for r in back.collect()}
    assert got == orig

    # merge-on-write: a second write with a new source url keeps the old
    extra = spark.createDataFrame(
        [("http://m.test/new.flv", 0, "http://m.test/new.flv.c1", "/o/n.c1",
          True, "conversion", ("copy1", "c1", "cp {input} {output}", "video/c1", None))],
        results.schema,
    )
    doc2 = write_conversions_yaml(extra, ypath)
    assert set(doc2["conversions"]) == {
        "http://m.test/sub/a.flv", "http://m.test/special/b.mp3",
        "http://m.test/new.flv",
    }


def test_default_conversion_rules_dispatch(spark, tmp_path):
    """The packaged default rule set dispatches like the reference's
    default-conversion-rules.yaml: .flv -> 4 rules, .mp4 -> 3, .ra -> 3."""
    from warcit_spark.sources.sidecars import default_conversion_rules

    rules = default_conversion_rules()
    files = spark.createDataFrame(
        [("http://m/v.flv", "/in/v.flv"), ("http://m/v.mp4", "/in/v.mp4"),
         ("http://m/a.ra", "/in/a.ra"), ("http://m/x.txt", "/in/x.txt")],
        "url string, filename string",
    )
    planned = dispatch_conversions(files, rules["file_types"], str(tmp_path), root_dir="/in")
    by_url = {}
    for r in planned.collect():
        by_url.setdefault(r.url, []).append((r.seq, r.rule_name))
    assert [n for _, n in sorted(by_url["http://m/v.flv"])] == [
        "png_poster", "webm", "mp4", "ffv1_flac"]
    assert [n for _, n in sorted(by_url["http://m/v.mp4"])] == [
        "png_poster", "webm", "ffv1_flac"]
    assert [n for _, n in sorted(by_url["http://m/a.ra"])] == [
        "webm_audio", "mp3", "flac"]
    assert "http://m/x.txt" not in by_url
    # the ffmpeg command templates substitute, they don't run here
    cmds = [r.command for r in planned.collect() if r.rule_name == "mp4"]
    assert cmds == ["ffmpeg -y -i /in/v.flv -c:v libx264 -pix_fmt yuv420p -c:a aac -strict -2 " + str(tmp_path) + "/in/v.flv.mp4"]


def test_warcinfo_cmdline_field(spark, tmp_path, media_files):
    """warcinfo carries the cmdline field like make_warcinfo
    (warcit.py:450-462)."""
    df = spark.createDataFrame(
        [("http://w.test/x", "resource", "2017-01-01T00:00:00Z", "text/html", b"x")],
        "url string, record_type string, warc_date string, content_type string, payload binary",
    )
    out = str(tmp_path / "wcmd")
    m = write_warc_files(df.coalesce(1), out, cmdline="warcit-spark http://w.test/ ./site").collect()
    recs = read_warc_records(m[0].path)
    assert b"cmdline: warcit-spark http://w.test/ ./site" in recs[0]["payload"]


def test_run_conversions_capture_output(spark, media_files, tmp_path):
    """--convert-stdout analog: per-command combined output as a column
    (converter.py:118-134)."""
    files, root = media_files
    rules = [{"ext": ".flv", "conversion_rules": [
        {"name": "echo", "ext": "e1", "command": "echo hello {input}", "mime": "t/e"},
    ]}]
    planned = dispatch_conversions(files, rules, str(tmp_path / "cv"), root_dir=root)
    out = run_conversions(planned, capture_output=True).collect()
    assert len(out) == 1
    assert out[0].success
    assert out[0].convert_log.startswith("hello ")
    # without capture the column is absent (schema unchanged for old callers)
    out2 = run_conversions(planned).collect()
    assert "convert_log" not in out2[0].__fields__


def test_json_metadata_batch_array_and_nan_cells():
    """Array/list-valued metadata cells serialize instead of crashing the
    ambiguous-truth NaN probe; scalar NaN still means 'absent'."""
    import json

    import numpy as np
    import pandas as pd

    from warcit_spark.operators.records import json_metadata_batch

    md = pd.DataFrame(
        {
            "name": ["mp4", None],
            "ratio": [float("nan"), 1.5],
            "tags": [["a", "b"], np.array([1, 2])],
        }
    )
    out = json_metadata_batch(md)
    assert json.loads(out[0]) == {"name": "mp4", "tags": ["a", "b"]}
    assert json.loads(out[1]) == {"ratio": 1.5, "tags": [1, 2]}


def test_scan_warc_source_roundtrip(spark, tmp_path):
    """Distributed read-back of sink-written archives: one row per record,
    typed header columns, payload bytes identical to the driver-side
    reader; metadata-only projections never need payload."""
    from warcit_spark.sources.warc import scan_warc

    out = str(tmp_path / "warcs")
    manifest = write_warc_files(
        _records_df(spark).coalesce(1), out, gzip_records=True
    ).collect()
    got = (
        scan_warc(spark, out)
        .orderBy("warc_file", "record_idx")
        .collect()
    )
    want = read_warc_records(manifest[0].path)
    assert len(got) == len(want) == 3
    for g, w in zip(got, want):
        assert g.record_type == w["headers"]["WARC-Type"]
        assert g.target_uri == w["headers"].get("WARC-Target-URI")
        assert g.content_length == int(w["headers"]["Content-Length"])
        assert bytes(g.payload) == w["payload"]
    # record-level filter works without touching payloads
    n = (
        scan_warc(spark, out)
        .where(F.col("record_type") == "resource")
        .select("target_uri")
        .count()
    )
    assert n == 1


def test_full_archive_loop_write_scan_index(spark, tmp_path):
    """Capstone composition: records -> WARC files (sink) -> distributed
    read-back (source): each capture's URL and 14-digit timestamp come
    back from the archive, pointing at the file the sink wrote."""
    import os as _os

    from warcit_spark.sources.warc import scan_warc

    out_warc = str(tmp_path / "warcs")
    manifest = write_warc_files(
        _records_df(spark).coalesce(1), out_warc, gzip_records=True
    ).collect()
    assert manifest[0].n_records == 2

    recs = scan_warc(spark, out_warc).where(
        F.col("record_type") != "warcinfo"
    )
    rows = recs.select(
        "target_uri",
        F.date_format(
            F.to_timestamp(F.col("warc_date"), "yyyy-MM-dd'T'HH:mm:ss'Z'"),
            "yyyyMMddHHmmss",
        ).alias("ts14"),
        "warc_file",
    ).orderBy("target_uri").collect()
    assert [(r.target_uri, r.ts14) for r in rows] == [
        ("http://w.test/a.html", "20170304123456"),
        ("http://w.test/dir/", "20170304123456"),
    ]
    # the read-back points at the WARC file the sink actually wrote
    assert {r.warc_file for r in rows} == {_os.path.basename(manifest[0].path)}
