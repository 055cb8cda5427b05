"""As-of and range join operators: window form vs pandas merge_asof form
vs hand-computed golden cases."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.oracle import asof_join_pandas
from warcit_spark.operators.asof import asof_join, range_join


def ts(s):
    return dt.datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def quotes_trades(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", ts("2024-01-01 10:00:00"), 100.0),
            (2, "A", ts("2024-01-01 10:05:00"), 101.0),
            (3, "B", ts("2024-01-01 10:01:00"), 50.0),
            (4, "C", ts("2024-01-01 09:00:00"), 7.0),   # before any quote
        ],
        "trade_id long, sym string, t timestamp, price double",
    )
    quotes = spark.createDataFrame(
        [
            ("A", ts("2024-01-01 09:59:00"), 99.5),
            ("A", ts("2024-01-01 10:00:00"), 99.9),   # exactly at trade 1
            ("A", ts("2024-01-01 10:04:00"), 100.8),
            ("B", ts("2024-01-01 10:00:00"), 49.9),
            ("C", ts("2024-01-01 12:00:00"), 7.5),    # only after trade 4
        ],
        "sym string, t timestamp, quote double",
    )
    return trades, quotes


GOLDEN = {1: 99.9, 2: 100.8, 3: 49.9, 4: None}


def test_asof_window_golden(spark, quotes_trades):
    trades, quotes = quotes_trades
    out = asof_join(trades, quotes, on="t", by="sym", right_cols=["quote"])
    got = {r.trade_id: r.quote for r in out.collect()}
    assert got == GOLDEN


def test_asof_pandas_matches_window(spark, quotes_trades):
    trades, quotes = quotes_trades
    a = asof_join(trades, quotes, on="t", by="sym", right_cols=["quote"])
    b = asof_join_pandas(trades, quotes, on="t", by="sym", right_cols=["quote"])
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


def test_asof_on_testdata(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id", "ts"
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
        )
        .agg(F.max("o_orderkey").alias("last_orderkey"))
    )
    out = asof_join(events, orders, on="ts", by="user_id",
                    right_cols=["last_orderkey"])
    assert out.count() == events.count()  # grain preserved (left join)


def test_range_join_golden(spark):
    points = spark.createDataFrame(
        [(1, ts("2024-01-05 00:00:00")), (2, ts("2024-01-20 12:00:00")),
         (3, ts("2023-12-01 00:00:00"))],
        "pid long, at timestamp",
    )
    intervals = spark.createDataFrame(
        [("x", ts("2024-01-01 00:00:00"), ts("2024-01-10 00:00:00")),
         ("y", ts("2024-01-04 00:00:00"), ts("2024-01-06 00:00:00")),
         ("z", ts("2024-01-20 12:00:00"), ts("2024-01-21 00:00:00"))],
        "iv string, s timestamp, e timestamp",
    )
    out = range_join(points, intervals, "at", "s", "e")
    got = {(r.pid, r.iv) for r in out.collect()}
    # [s, e): pid 1 in x and y; pid 2 at exactly z.s (inclusive); pid 3 none
    assert got == {(1, "x"), (1, "y"), (2, "z")}
