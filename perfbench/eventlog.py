"""Offline summary of a Spark JSON event log, per job group.

The traced run names a job group after each layer (``sc.setJobGroup``);
every job started inside it carries the group in its properties, and
every task of those jobs is attributed to it. Per group this sums task
counts, executor run and CPU time, task-attributed JVM GC time, shuffle
bytes written and read, and bytes spilled (memory + disk).
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1024 * 1024
_FIELDS = ("jobs", "tasks", "run_s", "task_cpu_s", "task_gc_s",
           "shuffle_write_mb", "shuffle_read_mb", "spill_mb")


def summarize(path: str) -> dict[str, dict[str, float]]:
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(_FIELDS, 0))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or "-"
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                out[group]["jobs"] += 1
            elif kind == "SparkListenerTaskEnd" and e.get("Task Metrics"):
                m = e["Task Metrics"]
                acc = out[stage_group.get(e["Stage ID"], "-")]
                acc["tasks"] += 1
                acc["run_s"] += m["Executor Run Time"] / 1e3
                acc["task_cpu_s"] += m["Executor CPU Time"] / 1e9
                acc["task_gc_s"] += m["JVM GC Time"] / 1e3
                acc["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
                rd = m["Shuffle Read Metrics"]
                acc["shuffle_read_mb"] += (rd["Remote Bytes Read"] + rd["Local Bytes Read"]) / MB
                acc["spill_mb"] += (m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]) / MB
    return dict(out)
