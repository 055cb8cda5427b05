"""As-of and range joins — operators Spark lacks natively (SURVEY.md §2.3
notes the reference has none either; training-data pipelines need them for
point-in-time feature lookup).

Two implementations, one semantics:

- :func:`asof_join` (default): the **union-window** formulation — pure
  DataFrame ops, no Python.  Tag left/right rows, union them, and for each
  left row take the last right row at or before it via
  ``last(right_payload, ignorenulls=True)`` over a window ordered by
  (time, right-first tiebreak).  One shuffle on (key), no row explosion,
  scales to arbitrarily many right rows per key.
- ``tests/oracle.asof_join_pandas``: grouped ``applyInPandas`` with
  ``pandas.merge_asof`` per key group — the test twin of the same
  backward semantics.

Range join: :func:`range_join` buckets the range key so the theta join
becomes an equi-join on (key, bucket) + a residual filter — the standard
bucketized-range-join shape that avoids a cartesian blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.on <= left.on`` (backward as-of) within the same ``by`` key.
    Left rows with no prior right row get NULLs.

    Output: all left columns + the requested right columns (NULL-filled).
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, by)]

    l_tag = left.select(
        F.col(by).alias("_k"),
        F.col(on).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.struct(*left.columns).alias("_l"),
        F.lit(None).cast(
            "struct<" + ",".join(
                f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_cols
            ) + ">"
        ).alias("_r"),
    )
    r_tag = right.select(
        F.col(by).alias("_k"),
        F.col(on).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(l_tag.schema["_l"].dataType.simpleString()).alias("_l"),
        F.struct(*[F.col(c) for c in right_cols]).alias("_r"),
    )
    # right rows sort BEFORE left rows at equal time (_is_left asc), so a
    # right row at exactly left.on is visible to that left row (<=)
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_t").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l_tag.unionByName(r_tag)
    filled = unioned.withColumn("_rlast", F.last("_r", ignorenulls=True).over(w))
    out = filled.where(F.col("_is_left") == 1).select(
        *[F.col("_l")[c].alias(c) for c in left.columns],
        *[F.col("_rlast")[c].alias(c) for c in right_cols],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_start: str,
    right_end: str,
    bucket_seconds: int = 86400,
) -> DataFrame:
    """Point-in-interval join via bucketization: explode each right
    interval into the buckets it covers, equi-join on the bucket, filter
    the residual — one shuffle keyed on bucket, no cartesian product.

    All three columns are timestamps; intervals are [start, end)."""
    b = F.lit(bucket_seconds)
    l_b = left.withColumn("_bucket", (F.unix_timestamp(left_point) / b).cast("long"))
    start_b = (F.unix_timestamp(right_start) / b).cast("long")
    end_b = (F.unix_timestamp(right_end) / b).cast("long")
    r_b = right.withColumn("_bucket", F.explode(F.sequence(start_b, end_b)))
    joined = l_b.join(r_b, on="_bucket", how="inner").where(
        (F.col(left_point) >= F.col(right_start))
        & (F.col(left_point) < F.col(right_end))
    )
    return joined.drop("_bucket")
