"""Bucketed corpus tables + delta compaction (sinks/bucketed.py)."""

from pyspark.sql import functions as F

from warcit_spark.sinks.bucketed import (
    compact_deltas_to_bucketed,
    latest_by_key,
    write_bucketed_table,
)


def _deltas(spark):
    # two "rounds" of fetches; urls a and b re-fetched in round 1
    rows = [
        ("http://h.test/a", 0, "v0-a"),
        ("http://h.test/b", 0, "v0-b"),
        ("http://h.test/c", 0, "v0-c"),
        ("http://h.test/a", 1, "v1-a"),
        ("http://h.test/b", 1, "v1-b"),
        ("http://h.test/d", 1, "v1-d"),
    ]
    return spark.createDataFrame(rows, "url string, round int, html string")


def test_latest_by_key(spark):
    got = {
        r["url"]: (r["round"], r["html"])
        for r in latest_by_key(_deltas(spark), "url", "round").collect()
    }
    assert got == {
        "http://h.test/a": (1, "v1-a"),
        "http://h.test/b": (1, "v1-b"),
        "http://h.test/c": (0, "v0-c"),
        "http://h.test/d": (1, "v1-d"),
    }


def test_latest_by_key_version_ties_are_deterministic(spark):
    # same url twice in the SAME round: struct ordering breaks the tie
    # by the remaining columns -> max html string wins, every run
    dup = spark.createDataFrame(
        [("u", 1, "aaa"), ("u", 1, "zzz"), ("u", 0, "old")],
        "url string, round int, html string",
    )
    got = latest_by_key(dup, "url", "round").collect()
    assert [(r["url"], r["round"], r["html"]) for r in got] == [("u", 1, "zzz")]


def test_compact_and_join_plan_is_exchange_free(spark, tmp_path):
    name = "pages_compact_test"
    tbl = compact_deltas_to_bucketed(
        _deltas(spark), name, str(tmp_path / "pages"), buckets=8
    )
    try:
        assert tbl.count() == 4

        sel = spark.createDataFrame(
            [("http://h.test/a",), ("http://h.test/d",)], "url string"
        )
        joined = spark.table(name).hint("merge").join(sel, on="url")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # corpus side scans bucketed; the only Exchange is the small
        # selection side; join stays sort-merge (no corpus-side broadcast
        # build -- the compressed-stats hazard)
        assert "Bucketed: true" in plan
        assert plan.count("Exchange") == 1
        assert "BroadcastHashJoin" not in plan
        got = {r["url"]: r["html"] for r in joined.collect()}
        assert got == {"http://h.test/a": "v1-a", "http://h.test/d": "v1-d"}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_write_modes_and_reregister(spark, tmp_path):
    name = "pages_rewrite_test"
    p = str(tmp_path / "t")
    try:
        write_bucketed_table(_deltas(spark), name, p, buckets=4)
        assert spark.table(name).count() == 6
        # overwrite replaces content (the per-epoch compaction rewrite)
        write_bucketed_table(
            _deltas(spark).where(F.col("round") == 1), name, p, buckets=4
        )
        assert spark.table(name).count() == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
