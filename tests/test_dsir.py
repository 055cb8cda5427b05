"""DSIR importance weighting (operators/dsir.py)."""

import pytest
from pyspark.sql import functions as F

from warcit_spark.operators.dsir import dsir_select, dsir_weights


def _docs(spark):
    return spark.createDataFrame(
        [
            # target distribution: clean prose words
            (0, 1, "the quick brown fox jumps over the lazy dog"),
            (1, 1, "the brown dog sleeps under the quick fox"),
            # raw: one target-like doc, one alien doc
            (2, 0, "the brown fox and the lazy dog"),
            (3, 0, "zzz qqq xxx www vvv kkk jjj"),
        ],
        "doc_id long, t int, text string",
    )


def test_targetlike_raw_doc_outranks_alien(spark):
    got = {
        r["doc_id"]: r["dsir_logratio"]
        for r in dsir_weights(_docs(spark), F.col("t") == 1).collect()
    }
    assert set(got) == {0, 1, 2, 3}
    assert got[2] > got[3]
    # target docs score themselves high (sanity property from the docstring)
    assert min(got[0], got[1]) > got[3]


def test_select_keeps_top_raw_half_only(spark):
    kept = dsir_select(_docs(spark), F.col("t") == 1, keep_frac=0.5).collect()
    assert [r["doc_id"] for r in kept] == [2]  # raw docs only, top half

    with pytest.raises(ValueError, match="keep_frac"):
        dsir_select(_docs(spark), F.col("t") == 1, keep_frac=0.0)

