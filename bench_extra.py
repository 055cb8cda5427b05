"""Measurement harness beside the frozen bench.py.

Times individual headline queries with the noop sink (guide §1.4), with
the same median-of-interleaved-passes discipline as bench.py, and dumps
``explain("formatted")`` for each query to plans/r06/, flagging plan
smells.  ``--crawl`` runs bench.py's crawl benchmarks instead, so
crawl_round changes can be iterated without paying for the query suite.

Usage:
  python bench_extra.py [--sf-dir DIR] [--reps N] [--plans SUFFIX] [q ...]
  python bench_extra.py --crawl {light,cc,both}

With ``--plans before`` it writes plans/r06/<query>_before.txt for each
selected query (no timing), with session-global ids masked so two runs
compare with ``diff -r``, and prints a ``SMELL:`` line for each plan
holding a cartesian product or a row-at-a-time Python UDF.  It also writes
plans/r06/warcit_run_before.txt, the write plan of a default multi-part
``warcit_run`` over a small seeded site, and flags it when more than one
binaryFile scan reads file content.  Otherwise it
prints one JSON line: query medians, or with ``--crawl`` each crawl
benchmark's round walls and urls/sec (light corpus, CC-weight corpus, or
both).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE, _force, _median, bench_crawl  # noqa: E402

SMELLS = [
    ("CartesianProduct", "cartesian product"),
    ("BatchEvalPython", "row-at-a-time Python UDF"),
]

# Session-global counters in plan text: expression ids (``doc_id#123``),
# lambda variables (``x_19``), RDD ids and call sites
# (``MapPartitionsRDD[45] at localCheckpoint at <unknown>:0``) and physical
# plan ids (``[plan_id=7]``).  Masked before a dump is written, so an
# unchanged query's dump does not depend on what was planned before.
PLAN_COUNTERS = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1_N"),
    (re.compile(r"RDD\[\d+\] at (\w+) at [^,]+"), r"RDD[N] at \1"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def explain(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def mask_counters(plan: str) -> str:
    for pattern, repl in PLAN_COUNTERS:
        plan = pattern.sub(repl, plan)
    return plan


def warcit_run_plan(spark) -> str:
    """The formatted plan of the write a default multi-part ``warcit_run``
    launches, over a 40-file seeded site (built, planned, not run)."""
    from perfbench.inputs import make_site
    from warcit_spark.plans.warcit_pipeline import files_to_warc_records, order_records
    from warcit_spark.sinks.warc import write_warc_files

    with tempfile.TemporaryDirectory(prefix="warcit-plan-") as tmp:
        site = os.path.join(tmp, "site")
        make_site(site, 1, 40, 1024)
        records = files_to_warc_records(spark, site, "http://example.com/")
        plan = explain(write_warc_files(
            order_records(spark, records), os.path.join(tmp, "out")
        ))
        # the temporary directory, plain and as a regex literal
        return plan.replace(re.escape(tmp), "<tmp>").replace(tmp, "<tmp>")


def content_scans(plan: str) -> int:
    """binaryFile scans in a formatted plan that read the file content."""
    return sum(
        re.match(r"\(\d+\) Scan binaryFile", block.lstrip()) is not None
        and "content:binary" in block
        for block in plan.split("\n\n")
    )


def crawl(spark, which: str) -> dict:
    out = {}
    if which in ("light", "both"):
        out["light"] = bench_crawl(spark)
    if which in ("cc", "both"):
        out["cc"] = bench_crawl(
            spark,
            n_pages=400_000, n_hosts=256, n_seeds=200_000, n_rounds=3,
            body_kb=8, extra_links=20, warmup_rounds=1,
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plans", default=None, help="write plans/r06/<q>_<SUFFIX>.txt instead of timing")
    ap.add_argument("--crawl", choices=("light", "cc", "both"), default=None,
                    help="run bench.py's crawl benchmarks instead of queries")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from warcit_spark import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("warcit-spark-bench-extra", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    if args.crawl:
        print(json.dumps(crawl(spark, args.crawl)))
        spark.stop()
        return

    qs = entrymod.queries()
    names = args.names or HEADLINE

    if args.plans:
        outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")
        os.makedirs(outdir, exist_ok=True)

        def dump(name: str, plan: str) -> None:
            path = os.path.join(outdir, f"{name}_{args.plans}.txt")
            with open(path, "w") as f:
                f.write(mask_counters(plan))
            print(f"wrote {path}")
            for marker, desc in SMELLS:
                if marker in plan:
                    print(f"SMELL: {name}: {desc}")
            if content_scans(plan) > 1:
                print(f"SMELL: {name}: {content_scans(plan)} binaryFile scans read content")

        for name in names:
            dump(name, explain(qs[name](spark, args.sf_dir)))
        dump("warcit_run", warcit_run_plan(spark))
        spark.stop()
        return

    # untimed warmup (JIT/codegen) on the first selected query
    spark.sparkContext.setJobDescription(f"warmup:{names[0]}")
    _force(qs[names[0]](spark, args.sf_dir))
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(max(1, args.reps)):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            _force(qs[name](spark, args.sf_dir))
            samples[name].append(round(time.perf_counter() - t0, 3))
    med = {n: round(_median(v), 3) for n, v in samples.items()}
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "reps": args.reps,
        "total_median_sum": round(sum(med.values()), 3),
        "medians": med,
        "samples": samples,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
