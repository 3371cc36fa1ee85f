"""Stage, task and SQL metrics from a Spark event log, per job group.

The benchmark runs every timed pass under ``SparkContext.setJobGroup``;
this module folds the log's StageCompleted and TaskEnd events of the
chosen groups into the exchange and Arrow-boundary layer metrics.  Run
after ``spark.stop()`` so the log is complete.
"""

from __future__ import annotations

import json
import statistics

TO_PYTHON = "data sent to Python workers"
FROM_PYTHON = "data returned from Python workers"


def read_events(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def stage_groups(events: list[dict]) -> dict[int, str]:
    """stage id -> job group id (stages of jobs with no group are left out)."""
    out: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in e["Stage IDs"]:
                    out[sid] = group
    return out


def layer_metrics(events: list[dict], groups: set[str], n_passes: int) -> dict:
    """Per-pass averages over the stages run under ``groups``.

    - ``arrow.python_s``: summed task run time minus JVM CPU time over the
      stages that ship rows to Python workers -- the time tasks spent
      waiting on Python, which JVM CPU metrics never see.
    - ``task.skew``: max / median task run time in the widest stage (the
      one with the most tasks; ties go to the longer one), with the median
      floored at 1 ms, the log's resolution.
    """
    owner = stage_groups(events)
    accs: dict[int, dict[str, float]] = {}
    n_tasks: dict[int, int] = {}
    task_ms: dict[int, list[int]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if owner.get(sid) not in groups:
                continue
            acc = accs.setdefault(sid, {})
            for a in info.get("Accumulables", []):
                try:
                    acc[a["Name"]] = acc.get(a["Name"], 0.0) + float(a["Value"])
                except (KeyError, TypeError, ValueError):
                    continue
            n_tasks[sid] = info["Number of Tasks"]
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if owner.get(sid) in groups and e.get("Task Metrics"):
                task_ms.setdefault(sid, []).append(
                    e["Task Metrics"]["Executor Run Time"]
                )

    def total(name: str, stages=None) -> float:
        return sum(accs[s].get(name, 0.0) for s in (accs if stages is None else stages))

    python_stages = [s for s in accs if accs[s].get(TO_PYTHON, 0.0) > 0]
    python_wait_ms = total("internal.metrics.executorRunTime", python_stages) - (
        total("internal.metrics.executorCpuTime", python_stages) / 1e6
    )
    skew = 0.0
    if task_ms:
        widest = max(task_ms, key=lambda s: (n_tasks.get(s, 0), sum(task_ms[s])))
        med = max(statistics.median(task_ms[widest]), 1)
        skew = max(task_ms[widest]) / med
    n = max(n_passes, 1)
    return {
        "arrow.bytes_to_python": total(TO_PYTHON) / n,
        "arrow.bytes_from_python": total(FROM_PYTHON) / n,
        "arrow.python_s": python_wait_ms / 1000.0 / n,
        "shuffle.bytes_written": total("internal.metrics.shuffle.write.bytesWritten") / n,
        "shuffle.records": total("internal.metrics.shuffle.write.recordsWritten") / n,
        "spill.bytes": (
            total("internal.metrics.memoryBytesSpilled")
            + total("internal.metrics.diskBytesSpilled")
        ) / n,
        "task.skew": skew,
    }
