"""Run every workload over several seeds and record a baseline.

    python3 perfbench/baseline.py

Runs ``perfbench/run.py`` once per (workload, seed) for SEEDS, one after
another, untraced, then TRACED traced runs per workload, and writes OUT:
per-metric medians and run-to-run spreads ((Q3 - Q1) / median), the
operation latencies pooled across runs with their sample count, and the
tracing overhead (traced ``op_s_p50`` over untraced, minus one).
"""

from __future__ import annotations

import json
import os
import platform
import re
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402

SEEDS = range(1, 11)
TRACED = 2  # traced runs per workload, seeds 10000 and 10001
OUT = os.path.join(HERE, "BASELINE.json")
NAMED = re.compile(r"^\S+  (?P<name>\S+) = (?P<value>\S+) (?P<unit>\S+)$")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    result["named"] = {}  # the workload-named metrics printed before the JSON
    result["op_walls"] = []  # every timed operation's wall time
    for line in lines[:-1]:
        m = NAMED.match(line)
        if m:
            result["named"][m["name"]] = (float(m["value"]), m["unit"])
        elif line.startswith(f"{workload}  op walls (s): "):
            result["op_walls"] = [float(v) for v in line.split(": ", 1)[1].split(", ")]
    return result


def summarize(values: list[float]) -> dict:
    out = {"median": stats.median(values), "n": len(values), "values": values}
    if len(values) >= 2 and out["median"]:
        out["spread"] = stats.quartile_spread(values)
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]
    report = {
        "box": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine()},
        "run_seconds": seconds,
        "seeds": list(SEEDS),
        "statistic": "median over runs; spread = (Q3 - Q1) / median",
        "not_comparable": "round-6 numbers (local[32], sf0.1, bench.py) are a different harness and box",
        "workloads": {},
    }
    for w in (w["name"] for w in spec["workloads"]):
        runs = [run_once(w, s, seconds, 0) for s in SEEDS]
        traced = [run_once(w, 10_000 + s, seconds, 1) for s in range(TRACED)]
        metrics = {}
        for name in runs[0]["metrics"]:
            metrics[name] = summarize([r["metrics"][name]["value"] for r in runs])
            metrics[name]["unit"] = runs[0]["metrics"][name]["unit"]
        named = {}
        for name, (_, unit) in runs[0]["named"].items():
            named[name] = summarize([r["named"][name][0] for r in runs])
            named[name]["unit"] = unit
        entry = {
            "metrics": metrics,
            "named_metrics": named,
            "failed": sum(r["failed"] for r in runs + traced),
            "attempted": sum(r["attempted"] for r in runs + traced),
            "run_wall_s": summarize([r["wall_s"] for r in runs + traced]),
        }
        walls = [w for r in runs for w in r["op_walls"]]
        pooled = {"samples": len(walls), "p50": stats.median(walls)}
        try:
            pooled["p90"] = stats.percentile(walls, 90)
        except stats.TooFewSamples as e:
            pooled["p90"] = f"not reported: {e}"
        entry["op_s_pooled"] = pooled
        t_op = stats.median([r["metrics"]["trace.op_s_p50"]["value"] for r in traced])
        entry["tracing_overhead"] = t_op / metrics["op_s_p50"]["median"] - 1
        entry["per_layer_median"] = {
            name: stats.median([r["metrics"][name]["value"] for r in traced])
            for name in traced[0]["metrics"]
        }
        report["workloads"][w] = entry
        print(json.dumps({w: {k: v for k, v in entry.items() if k != "per_layer_median"}}))
    with open(OUT, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
