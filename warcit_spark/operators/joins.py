"""Lookup join J1 (SURVEY.md §2.3): the mapfile suffix-match join
(warcit/warcit.py:332-342).  Each file is probed against the mapfile rows
by ``filename.endswith(row['file'])``; the FIRST row (mapfile order) wins
for a file; a mapfile row matching a SECOND file is a hard failure
(``sys.exit(1)`` in the reference).

Physical shape: one broadcast theta join over the distinct filenames (the
mapfile side is small by construction — the reference materializes it
fully in RAM, warcit/warcit.py:303-304), checked for row uniqueness
before it returns, then broadcast-joined back to the files.

The other SURVEY.md §2.3 joins live with their one caller: J2 (the
conversions equi-join) in plans/warcit_pipeline.files_to_warc_records, J5
(the seen anti-join) in plans/crawl.crawl_round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class MapfileUniquenessError(RuntimeError):
    """A mapfile row matched more than one file (warcit/warcit.py:335-337)."""


def mapfile_suffix_join(
    files: DataFrame,
    mapfile: DataFrame,
) -> DataFrame:
    """J1: left suffix-lookup of files against the mapfile, first match
    (mapfile order) wins.

    Output: ``files.*`` plus ``map_url``, ``map_timestamp``, ``map_ct``
    (NULL when unmatched).  Raises :class:`MapfileUniquenessError` before
    returning if a mapfile row matches more than one file — the
    reference's row-uniqueness constraint (warcit/warcit.py:335-337) —
    so a caller can never write output for a doomed run.

    Physical shape: a broadcast endswith theta join keyed on the DISTINCT
    FILENAMES, first match (lowest mapfile row index) per name via
    ``min_by``.  Keying on the filename itself (not a generated row id)
    keeps it deterministic for ANY files lineage.  The mapfile side
    derives its row index from scan order, which is the definition of
    "mapfile order" (the reference reads the CSV top to bottom,
    warcit/warcit.py:303-304).  The uniqueness check is one job over
    the joined rows, pruned to the filename column.  Once uniqueness holds
    there are at most as many matches as mapfile rows, so the join back to
    the files is a broadcast and file content (e.g. binary payloads) never
    shuffles.
    """
    cols = mapfile.columns
    null_s = F.lit(None).cast("string")
    mf = mapfile.withColumn("_i", F.monotonically_increasing_id()).select(
        F.col("_i"),
        F.col("file").alias("_mf_pat"),
        (F.col("URL") if "URL" in cols else null_s).cast("string").alias("_mf_url"),
        (F.col("timestamp") if "timestamp" in cols else null_s).cast("string").alias("_mf_ts"),
        (F.col("Content-Type") if "Content-Type" in cols else null_s).cast("string").alias("_mf_ct"),
    )
    fname = F.col("filename")
    matches = (
        files.select(fname.alias("_fname"))
        .distinct()
        .join(F.broadcast(mf), F.col("_fname").endswith(F.col("_mf_pat")), "inner")
        .groupBy("_fname")
        .agg(
            F.min_by(
                F.struct(
                    F.col("_mf_url").alias("url"),
                    F.col("_mf_ts").alias("ts"),
                    F.col("_mf_ct").alias("ct"),
                    F.col("_i").alias("idx"),
                    F.col("_mf_pat").alias("file"),
                ),
                F.col("_i"),
            ).alias("_first")
        )
    )
    out = files.join(F.broadcast(matches), fname == F.col("_fname"), how="left")
    out = out.select(
        *files.columns,
        F.col("_first.url").alias("map_url"),
        F.col("_first.ts").alias("map_timestamp"),
        F.col("_first.ct").alias("map_ct"),
        F.col("_first.idx").alias("_mf_idx"),
        F.col("_first.file").alias("_mf_file"),
    )
    _eager_uniqueness_check(out)
    return out.drop("_mf_idx", "_mf_file")


def _eager_uniqueness_check(out: DataFrame) -> None:
    """Raise if any mapfile row is the first match of more than one file
    row (one job; column pruning keeps it to the filename column)."""
    dupes = (
        out.where(F.col("_mf_idx").isNotNull())
        .groupBy("_mf_idx", "_mf_file")
        .count()
        .where(F.col("count") > 1)
        .collect()
    )
    if dupes:
        raise MapfileUniquenessError(
            "mapfile rows matched multiple files: "
            + ", ".join(f"{r['_mf_file']} (x{r['count']})" for r in dupes)
        )
