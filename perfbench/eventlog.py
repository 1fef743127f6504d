"""Spark event log -> per job group totals.

The benchmark tags each timed call with ``SparkContext.setJobGroup`` and
turns on ``spark.eventLog.enabled`` in traced runs. This module reads the
JSON-lines log Spark writes and sums, per job group: jobs, task CPU time,
task run time and shuffle bytes (written plus read).
"""

from __future__ import annotations

import json
import os
import re

GROUP_KEY = "spark.jobGroup.id"


def _event_files(path: str) -> list[str]:
    """A log file, or every file under a log directory (Spark 4 writes
    rolling logs as ``eventlog_v2_<app>/events_<n>_<app>``), in roll order."""
    if not os.path.isdir(path):
        return [path]
    found = []
    for base, _, files in os.walk(path):
        for fn in files:
            if fn.startswith("."):
                continue  # checksum and in-progress marker files
            m = re.match(r"events_(\d+)_", fn)
            found.append((base, int(m.group(1)) if m else 0, fn))
    return [os.path.join(b, f) for b, _, f in sorted(found)]


def parse(path: str) -> dict[str, dict]:
    """Group id -> ``{jobs, task_cpu_s, task_run_s, shuffle_mb}``. Jobs
    without a group are kept under ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def slot(group: str) -> dict:
        return out.setdefault(group, {
            "jobs": 0, "task_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_mb": 0.0,
        })

    for fn in _event_files(path):
        with open(fn) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a log cut mid-line by a crash
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    slot(group)["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"), "")
                    m = ev.get("Task Metrics") or {}
                    g = slot(group)
                    g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    w = m.get("Shuffle Write Metrics") or {}
                    r = m.get("Shuffle Read Metrics") or {}
                    nbytes = (
                        w.get("Shuffle Bytes Written", 0)
                        + r.get("Remote Bytes Read", 0)
                        + r.get("Local Bytes Read", 0)
                    )
                    g["shuffle_mb"] += nbytes / 1e6
    return out


def busy_ratio(group: dict, wall_s: float, cores: int) -> float:
    """Task run seconds over (wall x cores): 1.0 means every core ran a
    task for the whole call; a low value means the call waited on the
    driver, on scheduling or on too few tasks."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return group["task_run_s"] / (wall_s * cores)
