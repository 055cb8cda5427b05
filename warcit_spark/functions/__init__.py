"""Scalar/column function surface (SURVEY.md §2.8).

Everything here is a *column expression builder*: pure
``pyspark.sql.functions`` compositions that stay inside whole-stage codegen.
Pandas-UDF variants exist only where JVM built-ins genuinely cannot express
the semantics, and are vectorized over Arrow batches — never per-row Python.
"""

from warcit_spark.functions.urls import (
    canonicalize_url_expr,
    encode_relpath_expr,
    host_expr,
    salted_host_expr,
    synth_url_expr,
)
from warcit_spark.functions.timestamps import normalize_ts14_expr, iso8601z_expr
from warcit_spark.functions.mime import guess_mime_expr

__all__ = [
    "canonicalize_url_expr",
    "encode_relpath_expr",
    "host_expr",
    "salted_host_expr",
    "synth_url_expr",
    "normalize_ts14_expr",
    "iso8601z_expr",
    "guess_mime_expr",
]
