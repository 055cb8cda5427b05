"""r6 focused test: `_exact_money_sum` (primitive long cents/micros sum)
must render bit-identically to the decimal-cast sum it replaced in
q1/q3/j4/w3 — the oracle gate checks this end-to-end per query; this
pins the helper itself on boundary-ish money values."""

import sys

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")
import __spark_entry__ as em


def _decimal_form(x, s):
    return F.round(F.sum(x.cast(f"decimal(18,{s})")).cast("double"), s)


def test_exact_money_sum_matches_decimal_form(spark):
    vals = [
        1.0, 50.0, 17.32, 17.33, 0.01, 0.0, 901.82, 100000.99,
        0.005, 12.345, 99999.995,          # off-grid / half-boundary inputs
        33.33, 66.67, 0.1, 0.2, 0.3,       # classic binary-representation cases
    ]
    vals += [-v for v in vals if v]       # HALF_UP rounds half away from zero
    rows = [(i % 3, v) for i, v in enumerate(vals * 997)]  # ~31k rows, 3 groups
    df = spark.createDataFrame(rows, "g int, v double")
    for s in (2, 4, 6):
        got = (
            df.groupBy("g")
            .agg(em._exact_money_sum(F.col("v"), s).alias("x"))
            .orderBy("g")
            .collect()
        )
        want = (
            df.groupBy("g")
            .agg(_decimal_form(F.col("v"), s).alias("x"))
            .orderBy("g")
            .collect()
        )
        assert [r.x for r in got] == [r.x for r in want], f"scale {s}"


def test_exact_money_sum_null_and_empty_groups(spark):
    df = spark.createDataFrame(
        [(0, 1.25), (0, None), (1, None)], "g int, v double"
    )
    got = {
        r.g: r.x
        for r in df.groupBy("g")
        .agg(em._exact_money_sum(F.col("v"), 2).alias("x"))
        .collect()
    }
    assert got[0] == 1.25
    assert got[1] is None
