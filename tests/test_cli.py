"""The warcit-compatible CLI wrapper, driven exactly like the reference's
own test suite (/root/reference/test/test_warcit.py:40-57, 160-181):
positional argv -> exit code + output file + summary line."""

from __future__ import annotations

import logging
import os

import pytest

from warcit_spark.cli import main, make_name
from warcit_spark.sinks.warc import read_warc_records

SITE_FILES = {
    "index.html": "<html><body>root</body></html>",
    "sub/index.html": "<html><body>sub index</body></html>",
    "sub/page.html": "<html><body>a page</body></html>",
    "styles/main.css": "body { color: red }",
    "app.js": "console.log(1)",
}
# 5 files -> 5 resources + 2 index revisits = 7 records
EXPECTED_RECORDS = 7


@pytest.fixture()
def site(tmp_path):
    d = tmp_path / "cli_site"
    for rel, content in SITE_FILES.items():
        p = d / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(content)
    return str(d)


@pytest.fixture()
def in_tmp_cwd(tmp_path, monkeypatch):
    """The CLI writes <name>.warc.gz into the CURRENT directory, like the
    reference; isolate each test in its own cwd."""
    monkeypatch.chdir(tmp_path)
    return tmp_path


def test_cli_basic_run_counts_and_name(spark, site, in_tmp_cwd, caplog):
    with caplog.at_level(logging.INFO, logger="warcit_spark.cli"):
        res = main(["http://cli.test/", site])
    assert res == 0
    name = os.path.basename(site) + ".warc.gz"
    assert f"Wrote {EXPECTED_RECORDS} resources to {name}" in caplog.text
    assert os.path.isfile(name)
    recs = read_warc_records(name)
    # warcinfo preamble + records
    types = [r["headers"]["WARC-Type"] for r in recs]
    assert types.count("warcinfo") == 1
    assert len(recs) == EXPECTED_RECORDS + 1


def test_cli_already_exists_then_overwrite_and_append(spark, site, in_tmp_cwd, caplog):
    name = os.path.basename(site) + ".warc.gz"
    assert main(["-q", "http://cli.test/", site]) == 0
    size1 = os.path.getsize(name)

    # xb collision: exit 1 with the reference's two hint lines
    with caplog.at_level(logging.ERROR, logger="warcit_spark.cli"):
        res = main(["-q", "http://cli.test/", site])
    assert res == 1
    assert "File exists" in caplog.text
    assert "-a/--append" in caplog.text
    assert "-o/--overwrite" in caplog.text

    # overwrite: same record sequence (cmdline in warcinfo differs by the
    # -o flag, so compare records, not bytes)
    assert main(["-o", "-q", "http://cli.test/", site]) == 0
    assert len(read_warc_records(name)) == EXPECTED_RECORDS + 1

    # append: the file grows by one more generation of records
    assert main(["-a", "-q", "http://cli.test/", site]) == 0
    assert os.path.getsize(name) > size1
    recs = read_warc_records(name)
    types = [r["headers"]["WARC-Type"] for r in recs]
    assert types.count("warcinfo") == 2


def test_cli_exclude_and_explicit_name(spark, site, in_tmp_cwd, caplog):
    with caplog.at_level(logging.INFO, logger="warcit_spark.cli"):
        res = main(
            ["--exclude", "*.js,*.css", "-n", "test.tar.gz",
             "http://cli.test/", site]
        )
    assert res == 0
    # _make_name strips up to two extensions from an explicit -n
    assert os.path.isfile("test.warc.gz")
    assert "Wrote 5 resources to test.warc.gz" in caplog.text  # 3 html + 2 revisits


def test_cli_no_gzip_extension(spark, site, in_tmp_cwd):
    assert main(["-q", "--no-gzip", "-n", "plain", "http://cli.test/", site]) == 0
    assert os.path.isfile("plain.warc")
    recs = read_warc_records("plain.warc")
    assert len(recs) == EXPECTED_RECORDS + 1


def test_cli_invalid_input_warns_but_exits_zero(spark, in_tmp_cwd, caplog):
    with caplog.at_level(logging.INFO, logger="warcit_spark.cli"):
        res = main(["-o", "-v", "http://cli.test/", "./no-such-dir"])
    assert res == 0
    assert '"./no-such-dir" not a valid' in caplog.text
    assert "Wrote 0 resources to no-such-dir.warc.gz" in caplog.text
    # the warcinfo-only file still exists (test_warcit.py:160-166)
    recs = read_warc_records("no-such-dir.warc.gz")
    assert [r["headers"]["WARC-Type"] for r in recs] == ["warcinfo"]


def test_cli_mapfile_duplicate_match_exits_one(spark, site, in_tmp_cwd, tmp_path, caplog):
    mf = tmp_path / "map.csv"
    mf.write_text("file,URL\nindex.html,http://cli.test/dup\n")
    with caplog.at_level(logging.ERROR, logger="warcit_spark.cli"):
        res = main(["-q", "--mapfile", str(mf), "http://cli.test/", site])
    assert res == 1
    assert "matched multiple files" in caplog.text


@pytest.mark.parametrize("flag", ["-a", "-o"])
def test_failed_mapfile_run_writes_nothing(spark, site, in_tmp_cwd, tmp_path, flag):
    """A duplicate-mapfile run fails before the sink runs, so neither an
    append nor an overwrite touches the existing output file."""
    name = os.path.basename(site) + ".warc.gz"
    assert main(["-q", "http://cli.test/", site]) == 0
    with open(name, "rb") as fh:
        before = fh.read()
    mf = tmp_path / "map.csv"
    mf.write_text("file,URL\nindex.html,http://cli.test/dup\n")
    assert main([flag, "-q", "--mapfile", str(mf), "http://cli.test/", site]) == 1
    with open(name, "rb") as fh:
        assert fh.read() == before


def test_cli_log_csv(spark, site, in_tmp_cwd, tmp_path):
    import pandas as pd

    log = tmp_path / "run_log.csv"
    assert main(["-o", "-q", "--log", str(log), "http://cli.test/", site]) == 0
    rows = pd.read_csv(log)
    assert list(rows.columns) == [
        "file", "Record-Type", "URL", "timestamp", "Content-Type", "mime", "charset"
    ]
    assert len(rows) == EXPECTED_RECORDS
    assert (rows["Record-Type"] == "revisit").sum() == 2
    # the file column names the source file on disk, not a file: URI
    assert all(os.path.isfile(f) for f in rows["file"]), list(rows["file"])


def test_cli_tika_unavailable_exits_one(spark, site, in_tmp_cwd, caplog):
    with caplog.at_level(logging.ERROR, logger="warcit_spark.cli"):
        res = main(["-q", "--use-magic", "tika", "http://cli.test/", site])
    assert res == 1
    assert "Apache Tika not available" in caplog.text


def test_make_name_matches_reference_rules():
    assert make_name(None, ["/a/b/site/"], True) == "site.warc.gz"
    assert make_name(None, ["site.zip/www.example.com/"], True) == "www.example.com.warc.gz"
    assert make_name("x.tar.gz", ["/a"], True) == "x.warc.gz"
    assert make_name("plain", ["/a"], False) == "plain.warc"


def test_cli_warcinfo_names_final_file_and_version(spark, site, in_tmp_cwd):
    """Fidelity mode: the warcinfo record's WARC-Filename is the FINAL
    .warc.gz name (not the temp part), has no engine partition field, and
    its software version matches -V."""
    from warcit_spark import __version__

    assert main(["-q", "http://cli.test/", site]) == 0
    name = os.path.basename(site) + ".warc.gz"
    info = read_warc_records(name)[0]
    assert info["headers"]["WARC-Type"] == "warcinfo"
    assert info["headers"]["WARC-Filename"] == name
    assert b"partition:" not in info["payload"]
    assert f"software: warcit-spark/{__version__}".encode() in info["payload"]
