"""Fold an uncompressed Spark event log into per-job-group totals.

``SparkListenerJobStart`` carries the job's local properties, among them
``spark.jobGroup.id``, and the ids of its stages; every
``SparkListenerTaskEnd`` names its stage and carries the task's metrics.
Attributing each task to the group of the job that submitted its stage
gives, per group: task time (executor run time), shuffle bytes written and
bytes spilled to disk.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

NO_GROUP = ""


def fold(lines) -> dict[str, dict[str, float]]:
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"task_s": 0.0, "tasks": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    )
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or NO_GROUP
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            acc = out[stage_group.get(ev.get("Stage ID"), NO_GROUP)]
            acc["tasks"] += 1
            acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def _app_lines(path: str):
    """The events of one application: a single file, or a rolling log
    directory of ``events_<n>_*`` files (Spark 4's default layout)."""
    if not os.path.isdir(path):
        with open(path) as f:
            yield from f
        return
    parts = [n for n in os.listdir(path) if n.startswith("events_")]
    for name in sorted(parts, key=lambda n: int(n.split("_")[1])):
        with open(os.path.join(path, name)) as f:
            yield from f


def fold_dir(path: str) -> dict[str, dict[str, float]]:
    """Fold every event log (one per application) in ``path`` and sum the
    groups across them; stage ids are only unique within one."""
    total: dict[str, dict[str, float]] = {}
    for name in sorted(os.listdir(path)):
        if name.endswith(".inprogress") or name.startswith("."):
            continue
        for group, acc in fold(_app_lines(os.path.join(path, name))).items():
            into = total.setdefault(group, dict.fromkeys(acc, 0))
            for k, v in acc.items():
                into[k] += v
    return total
