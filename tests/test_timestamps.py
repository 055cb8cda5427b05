"""F6 timestamp normalization parity (warcit/warcit.py:262-269 semantics).

Expected values hand-computed from the warcio algorithm the reference
calls: strip non-digits, pad down with '10000101000000', parse as
YYYYMMDDHHMMSS, format ISO-8601 Z.
"""

from pyspark.sql import functions as F

from warcit_spark.functions.timestamps import (
    iso8601z_expr,
    normalize_ts14_expr,
    pad14_down_expr,
)

CASES = [
    ("2011-02", "2011-02-01T00:00:00Z"),
    ("2017", "2017-01-01T00:00:00Z"),
    ("20170304123456", "2017-03-04T12:34:56Z"),
    ("2017-03-04T12:34:56Z", "2017-03-04T12:34:56Z"),
    ("2017-03-04 12:34", "2017-03-04T12:34:00Z"),
    ("", "1000-01-01T00:00:00Z"),
    ("2011-13", None),  # month 13: invalid -> NULL (engine surfaces, not dies)
]


def test_normalize_golden(spark):
    df = spark.createDataFrame([(t,) for t, _ in CASES], ["t"])
    got = [
        r.iso
        for r in df.select(normalize_ts14_expr(F.col("t")).alias("iso")).collect()
    ]
    assert got == [want for _, want in CASES]


GREGORIAN_CASES = [
    # r6: normalize_ts14_expr validates fields arithmetically instead of
    # try_to_timestamp; these pin the parser-equivalent edges (the full
    # 8k-case domain sweep against the old parser ran during the round)
    ("20000229120000", "2000-02-29T12:00:00Z"),  # 400-divisible century leap
    ("19000229120000", None),                     # century non-leap
    ("20230229000000", None),                     # non-leap Feb 29
    ("20240229000000", "2024-02-29T00:00:00Z"),  # ordinary leap year
    ("00000229000000", "0000-02-29T00:00:00Z"),  # year 0 is leap (proleptic)
    ("20230431000000", None),                     # April 31
    ("20230101240000", None),                     # hour 24
    ("20230101236000", None),                     # minute 60
    ("20230101230060", None),                     # second 60
    ("20230101000000999", "2023-01-01T00:00:00Z"),  # >14 digits truncated
]


def test_normalize_gregorian_edges(spark):
    df = spark.createDataFrame([(t,) for t, _ in GREGORIAN_CASES], ["t"])
    got = [
        r.iso
        for r in df.select(normalize_ts14_expr(F.col("t")).alias("iso")).collect()
    ]
    assert got == [want for _, want in GREGORIAN_CASES]


def test_pad14_down(spark):
    df = spark.createDataFrame([("201102",)], ["t"])
    assert df.select(pad14_down_expr(F.col("t")).alias("p")).first().p == "20110201000000"


def test_iso_roundtrip(spark):
    df = spark.createDataFrame([("2015-06-07 08:09:10",)], ["s"]).select(
        F.to_timestamp("s").alias("ts")
    )
    row = df.select(iso8601z_expr(F.col("ts")).alias("iso")).first()
    assert row.iso == "2015-06-07T08:09:10Z"
