"""Read a Spark event log and group its work by job group.

The benchmark sets a job group (``SparkContext.setJobGroup``) around
each timed call into the engine; every job that call triggers carries
the group id in its ``SparkListenerJobStart`` properties. This module
maps jobs -> stages -> tasks and sums, per group:

* ``jobs``, ``stages`` (completed, not skipped), ``tasks``;
* ``task_run_s``: executor run time of all tasks;
* ``shuffle_write_mb``, ``shuffle_read_mb``, ``spill_mb`` (memory +
  disk), ``gc_s``;
* ``single_task_stages``: stages of one task that ran >= 0.5 s -- the
  work a missing fan-out leaves on one core;
* ``task_skew``: max / median task run time in the group's longest
  stage (by wall time).

Handles both layouts Spark writes: one file named by the application
id, or an ``eventlog_v2_<app id>`` directory of ``events_<n>_*`` parts.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from collections import defaultdict

FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "gc_s",
    "single_task_stages",
    "task_skew",
)
SINGLE_TASK_MIN_MS = 500
MB = 1024.0 * 1024.0


def log_files(log_dir: str, app_id: str) -> list[str]:
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    parts = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))

    def index(p: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return int(m.group(1)) if m else 0

    return sorted(parts, key=index)


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def group_metrics(log_dir: str, app_id: str) -> dict[str, dict[str, float]]:
    """{job group id: {field: value}} for every group seen in the log."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    stage_wall: dict[int, float] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    acc: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))

    for e in _events(log_files(log_dir, app_id)):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jobs[group] += 1
            for sid in e.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_group and "Submission Time" in info:
                stage_wall[sid] = info.get("Completion Time", 0) - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            group = stage_group.get(sid)
            m = e.get("Task Metrics")
            if group is None or not m:
                continue
            a = acc[group]
            run_ms = float(m.get("Executor Run Time", 0))
            task_ms[sid].append(run_ms)
            a["tasks"] += 1
            a["task_run_s"] += run_ms / 1e3
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / MB
            rd = m.get("Shuffle Read Metrics", {})
            a["shuffle_read_mb"] += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)) / MB
            a["shuffle_write_mb"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / MB

    for group, n in jobs.items():
        acc[group]["jobs"] = n
    longest: dict[str, tuple[float, int]] = {}
    for sid, wall in stage_wall.items():
        group = stage_group[sid]
        a = acc[group]
        a["stages"] += 1
        times = task_ms.get(sid, [])
        if len(times) == 1 and times[0] >= SINGLE_TASK_MIN_MS:
            a["single_task_stages"] += 1
        if wall > longest.get(group, (-1.0, -1))[0]:
            longest[group] = (wall, sid)
    for group, (_, sid) in longest.items():
        times = task_ms.get(sid) or [0.0]
        acc[group]["task_skew"] = max(times) / max(statistics.median(times), 1.0)
    return dict(acc)


def combine(groups: dict[str, dict[str, float]], prefix: str) -> dict[str, float]:
    """Sum every group whose id starts with ``prefix``; ``task_skew``
    is the largest of theirs."""
    out = dict.fromkeys(FIELDS, 0.0)
    for name, g in groups.items():
        if not name.startswith(prefix):
            continue
        for k in FIELDS:
            out[k] = max(out[k], g[k]) if k == "task_skew" else out[k] + g[k]
    return out
