"""Per-layer task metrics from a Spark JSON event log.

A layer is a Spark job group: the traced run sets one group per layer
before calling into that layer's module. Every stage is attributed to
the group of the first job that lists it; every task to its stage.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

LAYER_FIELDS = ("cpu_s", "shuffle_write_mb", "spill_mb", "task_skew", "failed_tasks")


def latest_log(log_dir: str) -> str:
    """The most recently modified application log in ``log_dir``."""
    paths = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    paths = [p for p in paths if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f"no event log in {log_dir}")
    return max(paths, key=os.path.getmtime)


def _task_skew(durations: list[list[float]]) -> float:
    """max / median task time of the layer's busiest stage."""
    if not durations:
        return 0.0
    busiest = max(durations, key=sum)
    return max(busiest) / max(statistics.median(busiest), 1.0)


def layer_metrics(lines) -> dict[str, dict[str, float]]:
    """Parse event-log lines into ``{group: {field: value}}`` plus a
    ``jobs`` count per group. Tasks of jobs without a group land under
    the empty-string key."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    cpu_ns: dict[str, float] = defaultdict(float)
    shuffle: dict[str, float] = defaultdict(float)
    spill: dict[str, float] = defaultdict(float)
    failed: dict[str, int] = defaultdict(int)
    task_ms: dict[int, list[float]] = defaultdict(list)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            jobs[group] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            if info.get("Failed") or reason != "Success":
                failed[group] += 1
            cpu_ns[group] += m.get("Executor CPU Time", 0)
            shuffle[group] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            spill[group] += m.get("Disk Bytes Spilled", 0)
            task_ms[ev["Stage ID"]].append(
                float(info.get("Finish Time", 0) - info.get("Launch Time", 0))
            )
    out: dict[str, dict[str, float]] = {}
    for group in set(jobs) | set(cpu_ns):
        stages = [task_ms[s] for s, g in stage_group.items() if g == group and task_ms[s]]
        out[group] = {
            "cpu_s": cpu_ns[group] / 1e9,
            "shuffle_write_mb": shuffle[group] / 1e6,
            "spill_mb": spill[group] / 1e6,
            "task_skew": _task_skew(stages),
            "failed_tasks": failed[group],
            "jobs": jobs[group],
        }
    return out


def parse(log_dir: str) -> dict[str, dict[str, float]]:
    with open(latest_log(log_dir)) as fh:
        return layer_metrics(fh)
