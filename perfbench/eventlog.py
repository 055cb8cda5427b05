"""Fold a Spark JSON event log into per-job-group engine totals.

Every task is attributed to the job group its stage's job was submitted
under (``spark.jobGroup.id``); jobs submitted without a group fold into
``UNLABELLED``.  Metrics come from each ``SparkListenerTaskEnd``'s
accumulable updates, so a metric shared by several stages is counted once
per task, never as a running total.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

UNLABELLED = "unlabelled"

# accumulable name -> (output metric, scale to its unit)
_TASK_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / 2**20),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
    # SQL metrics of the Arrow/pandas UDF operators: the Python boundary
    "data sent to Python workers": ("python_sent_mb", 1 / 2**20),
    "data returned from Python workers": ("python_recv_mb", 1 / 2**20),
}

TOTALS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    "python_sent_mb", "python_recv_mb",
)


def event_log_files(log_dir: str) -> list[str]:
    """Event log files under ``log_dir`` (plain or rolling layout)."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
        and not os.path.basename(p).startswith((".", "appstatus"))
    ]
    return sorted(files)


def fold(lines) -> dict[str, dict[str, float]]:
    """Event-log JSON lines -> {group: {metric: total}} (metrics: TOTALS)."""
    groups: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(TOTALS, 0.0)
    )
    stage_group: dict[int, str] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            group = group or UNLABELLED
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid, UNLABELLED)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(ev["Stage ID"], UNLABELLED)]
            g["tasks"] += 1
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                target = _TASK_ACCUMS.get(acc.get("Name"))
                if target is None or acc.get("Update") is None:
                    continue
                metric, scale = target
                g[metric] += float(acc["Update"]) * scale
    return dict(groups)


def fold_dir(log_dir: str) -> dict[str, dict[str, float]]:
    lines = []
    for path in event_log_files(log_dir):
        with open(path) as fh:
            lines.extend(fh)
    return fold(lines)


def total(groups: dict[str, dict[str, float]]) -> dict[str, float]:
    out = dict.fromkeys(TOTALS, 0.0)
    for g in groups.values():
        for k in TOTALS:
            out[k] += g.get(k, 0.0)
    return out
