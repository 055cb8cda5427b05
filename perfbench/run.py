"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_frontier --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout.  All files it writes go under
``.perfbench_work/`` there.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (the same
workload with spans, job groups and the Spark event log on).  Lines before
it list the workload's own metrics by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

JOB_GROUPS = (
    "harness", "setup", "check", "op", "probe", "read", "refresh",
    "write-seen", "write-fetched", "write-frontier", "write-lineage",
    "unlabelled",
)
# job groups whose executor time belongs to the timed operations
OP_GROUPS = (
    "op", "read", "refresh", "write-seen", "write-fetched", "write-frontier",
    "write-lineage", "unlabelled",
)
SPARK_TOTALS = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_read_mb", "MB"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
    ("core_busy_frac", "ratio"), ("python_sent_mb", "MB"),
    ("python_recv_mb", "MB"),
)
def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in report order (0 where a layer is idle)."""
    import bench  # the headline query list the query layer runs

    u = {
        "session.start_s": "s",
        "failed_frac": "ratio",
        "trace.op_s_p50": "s",
        "fixture.gen_s": "s",
        "fixture.cached_mb": "MB",
        "crawl.round_s": "s",
        "crawl.rounds": "count",
        "crawl.urls_per_sec": "1/s",
    }
    for k in ("urls_in", "robots_denied", "urls_emitted", "deferred",
              "links_found", "new_urls"):
        u[f"crawl.{k}"] = "count"
    u.update({
        "crawl.emit_ratio": "ratio",
        "crawl.new_link_ratio": "ratio",
        "crawl.fetch_selectivity": "ratio",
        "crawl.state_bytes_per_url": "B",
    })
    for t in ("seen", "fetched", "frontier", "lineage"):
        u[f"state.write_s.{t}"] = "s"
        u[f"state.bytes.{t}"] = "B"
        u[f"state.files.{t}"] = "count"
    u.update({
        "state.read_s": "s",
        "state.refresh_seen_s": "s",
        "state.commit_s": "s",
        "politeness.prerank_s": "s",
        "politeness.rank_s": "s",
        "politeness.survivor_ratio": "ratio",
        "links.extract_s": "s",
        "links.per_page": "ratio",
        "urls.canonicalize_s": "s",
        "urls.distinct_ratio": "ratio",
        "binary_files.scan_s": "s",
        "binary_files.in_mb": "MB",
        "warcit.run_s": "s",
        "warcit.files_per_sec": "1/s",
        "warcit.records_s": "s",
        "warcit.resources": "count",
        "warcit.revisits": "count",
        "warcit.warc_bytes_per_input_byte": "ratio",
        "warc.sink_s": "s",
        "warc.out_mb": "MB",
        "warc.parts": "count",
    })
    u["query.suite_s"] = "s"
    for q in bench.HEADLINE:
        u[f"query.{q}.s"] = "s"
    for name, unit in SPARK_TOTALS:
        u[f"spark.{name}"] = unit
    for g in JOB_GROUPS:
        u[f"spark.run_s.{g}"] = "s"
        u[f"spark.shuffle_mb.{g}"] = "MB"
    return u


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str, cpus: int) -> None:
    """Point every writer (JVM, Spark, Python workers) inside the checkout.

    Python workers start in their own working directory, so they find
    ``warcit_spark`` only through PYTHONPATH.
    """
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: HotSpot puts it under /tmp whatever java.io.tmpdir is
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # a fixed heap, whatever the caller's shell says, so peak_rss_mb and
    # GC time are measured under one setting; 4g rather than the
    # program's 8g default keeps the run small on a shared machine
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _start_session(work: str, cpus: int, trace: bool):
    from warcit_spark import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _spark_layer(ctx, log_dir: str, cpus: int, op_wall: float) -> None:
    from perfbench import eventlog

    groups = eventlog.fold_dir(log_dir)
    tot = eventlog.total(groups)
    for name, unit in SPARK_TOTALS:
        if name != "core_busy_frac":
            ctx.layer[f"spark.{name}"] = (tot[name], unit)
    busy = sum(groups.get(g, {}).get("executor_run_s", 0.0) for g in OP_GROUPS)
    ctx.layer["spark.core_busy_frac"] = (
        busy / (cpus * op_wall) if op_wall > 0 else 0.0, "ratio"
    )
    for g in JOB_GROUPS:
        m = groups.get(g, {})
        ctx.layer[f"spark.run_s.{g}"] = (m.get("executor_run_s", 0.0), "s")
        ctx.layer[f"spark.shuffle_mb.{g}"] = (
            m.get("shuffle_read_mb", 0.0) + m.get("shuffle_write_mb", 0.0), "MB"
        )


def _state_layer(ctx) -> None:
    """Per-round medians of the CrawlState spans inside timed rounds."""
    from perfbench.stats import median

    spans = ctx.tracer.spans
    rounds = [s for s in spans if s.name == "crawl.round"]
    if not rounds:
        return

    def per_round(name: str) -> float:
        sums = [
            sum(s.seconds for s in spans
                if s.name == name and r.start <= s.start <= r.end)
            for r in rounds
        ]
        return median(sums)

    for t in ("seen", "fetched", "frontier", "lineage"):
        ctx.layer[f"state.write_s.{t}"] = (per_round(f"state.write.{t}"), "s")
    ctx.layer["state.read_s"] = (per_round("state.read"), "s")
    ctx.layer["state.refresh_seen_s"] = (per_round("state.refresh_seen"), "s")
    ctx.layer["state.commit_s"] = (per_round("state.commit"), "s")


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    cpus = _cpus()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"run-{os.getpid()}")
    cache = os.path.join(work_root, "cache")
    sys.path.insert(0, ROOT)
    try:
        import warcit_spark  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 3
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    _prepare_env(work, cpus)
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = _start_session(work, cpus, trace)
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, trace)
    ctx = Ctx(spark, tracer, args.seed, args.seconds, work, cache, started=started)
    ctx.jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ctx.log("session started")
    try:
        if trace:  # main-thread jobs outside any span
            spark.sparkContext.setJobGroup("harness", "harness")
        try:
            WORKLOADS[args.workload](ctx)
        except Exception:
            ctx.fail(f"workload: {traceback.format_exc()}", max(1, ctx.attempted - ctx.failed))
            ctx.attempted = max(ctx.attempted, 1)
        peak = _peak_rss_mb(ctx.jvm_pid)
    finally:
        ctx.log("workload done")
        _stop_session(spark)
        ctx.log("session stopped")

    if ctx.attempted == 0:
        ctx.attempted, ctx.failed = 1, 1
    setup = ctx.e2e.get("setup_s", (0.0, "s"))[0]
    ctx.e2e["setup_s"] = (session_s + setup, "s")
    ctx.e2e["peak_rss_mb"] = (peak, "MB")
    ctx.report["setup_s"] = (session_s + setup, "s")
    ctx.report["peak_rss_mb"] = (peak, "MB")
    if "op_s_p50" in ctx.e2e:
        ctx.report["op_s_p50"] = ctx.e2e["op_s_p50"]
    ctx.report["failed_frac"] = (ctx.failed / ctx.attempted, "ratio")
    ctx.layer["session.start_s"] = (session_s, "s")
    ctx.layer["failed_frac"] = (ctx.failed / ctx.attempted, "ratio")

    for err in ctx.errors:
        print(f"perfbench: failed: {err}", file=sys.stderr)
    for name, (value, unit) in ctx.report.items():
        print(f"{args.workload}  {name} = {value:.6g} {unit}")
    for note in ctx.notes:
        print(f"{args.workload}  {note}")

    if trace:
        if "op_s_p50" in ctx.e2e:
            ctx.layer["trace.op_s_p50"] = ctx.e2e["op_s_p50"]
        _state_layer(ctx)
        _spark_layer(ctx, os.path.join(work, "eventlog"), cpus, ctx.op_wall)
        tracer.dump(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = per_layer_units()
        metrics = {
            k: _metric(ctx.layer.get(k, (0, u))[0], u) for k, u in units.items()
        }
    else:
        missing = [k for k in END_TO_END if k not in ctx.e2e]
        if missing:
            ctx.failed = max(ctx.failed, 1)
        metrics = {
            k: _metric(ctx.e2e.get(k, (0.0, u))[0], u) for k, u in END_TO_END.items()
        }
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
