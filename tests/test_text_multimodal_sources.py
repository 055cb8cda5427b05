"""Text-analysis functions, file/zip sources, sampling and tf-idf."""

from __future__ import annotations

import zipfile

import pytest
from pyspark.sql import functions as F

from warcit_spark.functions.text import (
    fingerprint_expr,
    lang_id_expr,
    punct_ratio_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
)
from warcit_spark.sources.binary_files import scan_files, scan_zip, union_scans
from warcit_spark.sources.mapfile import MapfileValidationError, read_mapfile


# ----------------------------------------------------------------- text funcs
def test_token_count(spark):
    df = spark.createDataFrame(
        [("one two  three",), ("",), ("   ",), ("single",)], ["text"]
    )
    got = [r.n for r in df.select(token_count_expr(F.col("text")).alias("n")).collect()]
    assert got == [3, 0, 0, 1]


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            ("the cat sat on the mat and the dog barked at it",),
            ("zxcv qwer asdf poiu lkjh mnbv",),
        ],
        ["text"],
    )
    got = [r.l for r in df.select(lang_id_expr(F.col("text")).alias("l")).collect()]
    assert got == ["en", "unknown"]


def test_quality_and_ratios_bounded(spark):
    df = spark.createDataFrame(
        [("the quick brown fox, it jumps!",), ("!!!???...",), ("",)], ["text"]
    )
    rows = df.select(
        quality_score_expr(F.col("text")).alias("q"),
        punct_ratio_expr(F.col("text")).alias("p"),
        stopword_ratio_expr(F.col("text")).alias("s"),
    ).collect()
    for r in rows:
        assert 0.0 <= r.q <= 1.0 and 0.0 <= r.p <= 1.0 and 0.0 <= r.s <= 1.0
    assert rows[0].q > rows[1].q  # real sentence beats punctuation soup


def test_fingerprint_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [("a  b\tc",), ("a b c",), ("a b d",)], ["text"]
    )
    got = [r.f for r in df.select(fingerprint_expr(F.col("text")).alias("f")).collect()]
    assert got[0] == got[1] and got[0] != got[2]


# -------------------------------------------------------------------- sources
@pytest.fixture(scope="module")
def site_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("site")
    (d / "sub").mkdir()
    (d / "index.html").write_text("<html>root</html>")
    (d / "sub" / "page two.html").write_text("<html>two</html>")
    (d / "style.css").write_text("body{}")
    return str(d)


def test_scan_files_binaryfile_shape(spark, site_dir):
    df = scan_files(spark, site_dir, "http://s.test/")
    rows = {r.url: r for r in df.collect()}
    assert "http://s.test/index.html" in rows
    assert "http://s.test/sub/page%20two.html" in rows  # F2 encoding applied
    r = rows["http://s.test/index.html"]
    assert bytes(r.content) == b"<html>root</html>"
    assert r.size == len(b"<html>root</html>")
    assert r.warc_ts is not None


def test_scan_zip_members_and_prefix(spark, site_dir, tmp_path_factory):
    zdir = tmp_path_factory.mktemp("zips")
    zpath = str(zdir / "site.zip")
    with zipfile.ZipFile(zpath, "w") as zp:
        zp.writestr("www/index.html", "<html>z</html>")
        zp.writestr("www/sub/a.css", "a{}")
        zp.writestr("other/skip.txt", "no")
        zp.writestr("www/dir/", "")  # directory entry -> skipped
    df = scan_zip(spark, zpath, "http://z.test/", inner_prefix="www/")
    rows = {r.url: bytes(r.content) for r in df.collect()}
    assert rows == {
        "http://z.test/index.html": b"<html>z</html>",
        "http://z.test/sub/a.css": b"a{}",
    }


def test_union_scans(spark, site_dir):
    a = scan_files(spark, site_dir, "http://a.test/")
    b = scan_files(spark, site_dir, "http://b.test/")
    assert union_scans([a, b]).count() == a.count() + b.count()


# -------------------------------------------------------------------- mapfile
def test_mapfile_validation(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("mapfiles")
    ok = d / "ok.csv"
    ok.write_text("file,URL\na.html,http://x/a\n")
    df = read_mapfile(spark, str(ok))
    assert df.columns == ["file", "URL"] and df.count() == 1

    tsv = d / "ok.tsv"
    tsv.write_text("file\tURL\ta.html\thttp://x/a\n".replace("\ta.html", "\na.html", 1))
    # rebuild correctly: header line then row
    tsv.write_text("file\tURL\na.html\thttp://x/a\n")
    assert read_mapfile(spark, str(tsv)).count() == 1

    bad = d / "bad.csv"
    bad.write_text("file,nonsense\na.html,x\n")
    with pytest.raises(MapfileValidationError):
        read_mapfile(spark, str(bad))

    nofile = d / "nofile.csv"
    nofile.write_text("URL,timestamp\nhttp://x,2017\n")
    with pytest.raises(MapfileValidationError):
        read_mapfile(spark, str(nofile))

    only = d / "only.csv"
    only.write_text("file\na.html\n")
    with pytest.raises(MapfileValidationError):
        read_mapfile(spark, str(only))


def test_zip_path_auto_resolution(spark, tmp_path_factory):
    """S4: 'site.zip/inner/prefix' as ONE input string resolves by walking
    upward to the zip (base.py:63-79)."""
    from warcit_spark.sources.binary_files import resolve_input, scan_input

    zdir = tmp_path_factory.mktemp("autozip")
    zpath = str(zdir / "site.zip")
    with zipfile.ZipFile(zpath, "w") as zp:
        zp.writestr("www/index.html", "<html>z</html>")
        zp.writestr("other/skip.txt", "no")

    assert resolve_input(zpath) == ("zip", zpath, "")
    assert resolve_input(zpath + "/www") == ("zip", zpath, "www/")
    assert resolve_input(zpath + "/www/deeper") == ("zip", zpath, "www/deeper/")
    assert resolve_input(str(zdir)) == ("dir", str(zdir), "")
    assert resolve_input("/nonexistent/nowhere")[0] == "invalid"

    rows = {r.url for r in scan_input(spark, zpath + "/www", "http://z.test/").collect()}
    assert rows == {"http://z.test/index.html"}

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        scan_input(spark, "/nonexistent/nowhere", "http://z.test/")


# -------------------------------------------------- sampling + tf-idf
def test_rate_threshold_hex_exact():
    from warcit_spark.operators.sampling import rate_threshold_hex

    assert rate_threshold_hex(0.0) == "0" * 32
    assert rate_threshold_hex(0.5) == "8" + "0" * 31
    assert rate_threshold_hex(1.0) == "g" * 32  # sorts after any hex digest
    assert int(rate_threshold_hex(0.25), 16) == 1 << 126
    with __import__("pytest").raises(ValueError):
        rate_threshold_hex(1.5)


def test_deterministic_sample_matches_hashlib(spark):
    """Spark md5-threshold membership == hashlib.md5 recomputation, and the
    rate is honored within binomial noise."""
    import hashlib

    from warcit_spark.operators.sampling import (
        deterministic_sample,
        rate_threshold_hex,
    )

    df = spark.createDataFrame(
        [(f"http://h/{i}",) for i in range(2000)], "url string"
    )
    rate = 0.3
    got = {r.url for r in deterministic_sample(df, "url", rate).collect()}
    thresh = rate_threshold_hex(rate)
    want = {
        f"http://h/{i}"
        for i in range(2000)
        if hashlib.md5(f"http://h/{i}".encode()).hexdigest() < thresh
    }
    assert got == want
    assert 0.25 < len(got) / 2000 < 0.35


def test_stratified_sample_rates_and_determinism(spark):
    from warcit_spark.operators.sampling import stratified_sample

    rows = [(f"http://{'ab'[i % 2]}.test/{i}", f"{'ab'[i % 2]}.test")
            for i in range(4000)]
    df = spark.createDataFrame(rows, "url string, host string")
    out = stratified_sample(df, "url", "host", {"a.test": 0.1, "b.test": 0.9})
    counts = {r.host: r.cnt for r in out.groupBy("host").agg(
        __import__("pyspark.sql.functions", fromlist=["count"]).count("*").alias("cnt")
    ).collect()}
    assert 120 < counts["a.test"] < 280       # ~200 of 2000
    assert 1700 < counts["b.test"] < 1900     # ~1800 of 2000
    # run twice -> identical membership (determinism, no RNG)
    again = {r.url for r in stratified_sample(
        df, "url", "host", {"a.test": 0.1, "b.test": 0.9}).collect()}
    assert again == {r.url for r in out.collect()}
    # default_rate=0: unknown strata drop entirely
    df2 = df.unionByName(spark.createDataFrame(
        [("http://c.test/x", "c.test")], "url string, host string"))
    out2 = stratified_sample(df2, "url", "host", {"a.test": 0.1, "b.test": 0.9})
    assert not [r for r in out2.collect() if r.host == "c.test"]


def test_tfidf_topk_terms_golden(spark):
    from warcit_spark.functions.text import tfidf_topk_terms

    docs = spark.createDataFrame(
        [
            (0, "spark spark spark common"),
            (1, "duck duck common"),
            (2, "unique common"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rank): (r.term, r.score)
           for r in tfidf_topk_terms(docs, k=2).collect()}
    # doc 0: 'spark' tf=3 df=1 -> 3*3/1=9; 'common' tf=1 df=3 -> 1
    assert out[(0, 1)] == ("spark", 9.0)
    assert out[(0, 2)] == ("common", 1.0)
    assert out[(1, 1)] == ("duck", 6.0)
    assert out[(2, 1)] == ("unique", 3.0)
