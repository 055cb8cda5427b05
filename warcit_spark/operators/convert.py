"""F8/F9/X1: rule-driven media conversion as a dataflow plan.

Reference semantics (warcit/converter.py:136-187):

- F8 dispatch: each file is checked against every file_type; a file_type
  matches by ``url.endswith(ext)`` or ``regex.match(url)`` (anchored at the
  start).  *Every* matching file_type contributes (the reference loop has
  no break); within a file_type, rules with ``skip`` are dropped.
- F9 output rebase: ``abspath(output_dir / basename(root_dir) /
  relpath(input + '.' + ext, root_dir))``.
- X1 execution: ``command.format(input=..., output=...)`` run via
  ``subprocess.call(shell=False)``; ``success = (exit == 0)``; result url
  is ``url + '.' + ext``; ``--dry-run`` plans without executing.

Spark shape: dispatch + rebase are pure expressions (the rule set is a
compile-time when/explode chain — the Catalyst analog of the reference's
regex precompilation, converter.py:91-94).  Only the subprocess boundary
runs Python, via ``mapInPandas`` — one external process per row, exactly
the reference's concurrency boundary, but distributed across executors.
The dry-run plan IS the dispatch DataFrame (``.explain()`` + collect).
"""

from __future__ import annotations

import os
import subprocess
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULE_FIELDS = ("name", "ext", "command", "mime", "skip_as_source")


def dispatch_conversions(
    files: DataFrame,
    file_types: list[dict],
    output_dir: str,
    root_dir: str = "",
) -> DataFrame:
    """Plan one row per (file x applicable rule).

    Output: url, filename, rule_name, rule_ext, rule_mime, conv_url,
    output_path, command (fully substituted).
    """
    per_type_rules = []
    for ft in file_types:
        if "ext" in ft:
            matched = F.col("url").endswith(ft["ext"])
        elif "regex" in ft:
            # Python re.match anchors at the start; rlike does not
            matched = F.col("url").rlike("^(?:" + ft["regex"] + ")")
        else:
            continue
        rules = [
            F.struct(
                *[F.lit(r.get(k)).alias(k) for k in RULE_FIELDS]
            )
            for r in ft.get("conversion_rules", [])
            if not r.get("skip")
        ]
        if rules:
            per_type_rules.append(
                F.when(matched, F.array(*rules)).otherwise(
                    F.array().cast(
                        "array<struct<name:string,ext:string,command:string,"
                        "mime:string,skip_as_source:boolean>>"
                    )
                )
            )
    if not per_type_rules:
        return files.sparkSession.createDataFrame(
            [],
            "url string, filename string, rule_name string, rule_ext string, "
            "rule_mime string, conv_url string, output_path string, command string",
        )

    all_rules = F.flatten(F.array(*per_type_rules))
    # posexplode: the position is the rule's order across all matching
    # file_types — the reference's iteration order (converter.py:137-151),
    # carried as ``seq`` so downstream record emission is file-ordered
    exploded = files.select(
        "url",
        "filename",
        F.posexplode(all_rules).alias("seq", "rule"),
    )

    # F9 rebase: relpath(input + '.' + ext, root_dir) under
    # output_dir/basename(root_dir)
    out_base = os.path.abspath(
        os.path.join(output_dir, os.path.basename(root_dir.rstrip("/")))
    )
    rel = F.col("filename")
    if root_dir:
        import re as _re

        rel = F.regexp_replace(rel, "^" + _re.escape(root_dir.rstrip("/")) + "/", "")
    converted_name = F.concat(rel, F.lit("."), F.col("rule.ext"))
    output_path = F.concat(F.lit(out_base + "/"), converted_name)

    command = F.replace(
        F.replace(F.col("rule.command"), F.lit("{input}"), F.col("filename")),
        F.lit("{output}"),
        output_path,
    )
    return exploded.select(
        "url",
        "filename",
        F.col("seq").cast("int").alias("seq"),
        F.col("rule.name").alias("rule_name"),
        F.col("rule.ext").alias("rule_ext"),
        F.col("rule.mime").alias("rule_mime"),
        F.col("rule.skip_as_source").alias("rule_skip_as_source"),
        # the raw template: the reference's YAML results carry the rule's
        # command, not the substituted invocation (converter.py:171-177)
        F.col("rule.command").alias("rule_command"),
        F.concat(F.col("url"), F.lit("."), F.col("rule.ext")).alias("conv_url"),
        output_path.alias("output_path"),
        command.alias("command"),
    )


def run_conversions(
    planned: DataFrame, dry_run: bool = False, capture_output: bool = False
) -> DataFrame:
    """Execute the planned commands (X1).  Returns the conversions table
    shape consumed by J2/D2: (source_url, seq, url, output, success,
    rec_type, metadata[, convert_log]).

    dry_run skips execution and reports success=false without side effects
    (the reference logs and continues, converter.py:162-163).
    ``capture_output`` is the distributed analog of the reference's
    ``--convert-stdout`` file (converter.py:118-134): each command's
    combined stdout+stderr comes back as a ``convert_log`` column — log
    as data instead of one driver-local file.
    """
    out_schema = (
        "source_url string, seq int, url string, output string, "
        "success boolean, rec_type string, "
        "metadata struct<name:string,ext:string,command:string,mime:string,"
        "skip_as_source:boolean>"
    )
    if capture_output:
        out_schema += ", convert_log string"

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                log = None
                if dry_run:
                    success = False
                else:
                    os.makedirs(os.path.dirname(r.output_path), exist_ok=True)
                    try:
                        if capture_output:
                            proc = subprocess.run(
                                r.command.split(" "), shell=False,
                                capture_output=True, text=True,
                            )
                            success = proc.returncode == 0
                            log = proc.stdout + proc.stderr
                        else:
                            success = (
                                subprocess.call(r.command.split(" "), shell=False)
                                == 0
                            )
                    except OSError as e:
                        success = False
                        if capture_output:
                            log = str(e)
                row = {
                    "source_url": r.url,
                    "seq": int(r.seq),
                    "url": r.conv_url,
                    "output": r.output_path,
                    "success": success,
                    "rec_type": "conversion",
                    "metadata": {
                        "name": r.rule_name,
                        "ext": r.rule_ext,
                        # the rule template (converter.py:172 stores
                        # the conversion dict, not the invocation)
                        "command": r.rule_command,
                        "mime": r.rule_mime,
                        "skip_as_source": r.rule_skip_as_source,
                    },
                }
                if capture_output:
                    row["convert_log"] = log
                rows.append(row)
            cols = [
                "source_url", "seq", "url", "output", "success",
                "rec_type", "metadata",
            ]
            if capture_output:
                cols.append("convert_log")
            yield pd.DataFrame(rows, columns=cols)

    return planned.mapInPandas(fn, out_schema)
