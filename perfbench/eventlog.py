"""Spark event-log parsing: task metrics per stage, attributed to layers
by the job group each layer call ran under."""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict


def log_files(log_dir: str) -> list[str]:
    """The event-log files of the single application logged under
    ``log_dir``: one plain file, or the ``events_<n>_*`` parts of a
    rolling (``eventlog_v2_*``) directory in order."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise FileNotFoundError(f"expected one event log in {log_dir}, "
                                f"found {sorted(apps)}")
    path = os.path.join(log_dir, apps[0])
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _events(paths: list[str]):
    for p in paths:
        with open(p) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def parse(paths: list[str]) -> dict:
    """Per job group: jobs, and per stage the task list (run seconds, GC
    seconds, shuffle and spill bytes). Stages of jobs without a group are
    kept under ``None``."""
    stage_group: dict[int, str | None] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    tasks: dict[int, list[dict]] = defaultdict(list)
    for ev in _events(paths):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            jobs[group] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            shuffle = m.get("Shuffle Write Metrics") or {}
            tasks[ev["Stage ID"]].append({
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                "shuffle_bytes": shuffle.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })
    groups: dict = defaultdict(lambda: {"jobs": 0, "stages": {}})
    for group, n in jobs.items():
        groups[group]["jobs"] = n
    for sid, ts in tasks.items():
        groups[stage_group.get(sid)]["stages"][sid] = ts
    return dict(groups)


def summarize(group: dict | None) -> dict:
    """task_s, task_skew (max / median task time in the stage with the
    most tasks), shuffle_bytes, spill_bytes, gc_s and job count of one job
    group."""
    group = group or {"jobs": 0, "stages": {}}
    all_tasks = [t for ts in group["stages"].values() for t in ts]
    skew = 0.0
    if group["stages"]:
        widest = max(group["stages"].values(), key=len)
        runs = [t["run_s"] for t in widest]
        med = statistics.median(runs)
        skew = max(runs) / med if med > 0 else 1.0
    return {
        "jobs": group["jobs"],
        "task_s": sum(t["run_s"] for t in all_tasks),
        "task_skew": skew,
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in all_tasks),
        "spill_bytes": sum(t["spill_bytes"] for t in all_tasks),
        "gc_s": sum(t["gc_s"] for t in all_tasks),
    }
