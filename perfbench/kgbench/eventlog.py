"""Fold Spark's event log into per-job-group task metrics.

Spark writes one JSON object per line when ``spark.eventLog.enabled``
is on and ``spark.eventLog.compress`` is off. ``SparkListenerJobStart``
carries the submitting thread's local properties (``spark.jobGroup.id``
among them) and the job's stage ids; ``SparkListenerTaskEnd`` carries
the stage id and the task's metrics. Joining the two attributes every
finished task to the job group that was set when its stage was first
submitted; a task whose job had no group is *untagged* (group None).
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass
from typing import Iterable, Iterator


@dataclass(frozen=True)
class Task:
    group: str | None
    stage: int
    launch_ms: int
    run_ms: int
    cpu_ns: int
    shuffle_write_bytes: int
    spill_bytes: int


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order: the ``events_<n>_<app>`` parts of
    a rolling (``eventlog_v2_*``) log, else every plain log file."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
            out += [os.path.join(path, f) for f in parts]
        elif os.path.isfile(path) and not entry.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str) -> Iterator[dict]:
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def fold(events: Iterable[dict]) -> list[Task]:
    """Every successful or failed task end, tagged with its job group."""
    stage_group: dict[int, str | None] = {}
    tasks = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            sid = ev["Stage ID"]
            tasks.append(Task(
                group=stage_group.get(sid),
                stage=sid,
                launch_ms=int(info.get("Launch Time", 0)),
                run_ms=int(m.get("Executor Run Time", 0)),
                cpu_ns=int(m.get("Executor CPU Time", 0)),
                shuffle_write_bytes=int(
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)),
                spill_bytes=int(m.get("Disk Bytes Spilled", 0)),
            ))
    return tasks


def in_window(tasks: Iterable[Task], start_ms: int, end_ms: int) -> list[Task]:
    return [t for t in tasks if start_ms <= t.launch_ms <= end_ms]


def summarize(tasks: list[Task]) -> dict:
    """Executor-side totals for one layer's tasks.

    ``py_s`` is run time minus JVM CPU time: the share a task spent in
    its Python worker or waiting. ``skew`` is max / median task run time
    within a stage, for the layer's most skewed stage.
    """
    run = [t.run_ms for t in tasks]
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    return {
        "tasks": len(tasks),
        "task_s": sum(run) / 1000.0,
        "py_s": (sum(run) - sum(t.cpu_ns for t in tasks) / 1e6) / 1000.0,
        "shuffle_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "spill_bytes": sum(t.spill_bytes for t in tasks),
        "skew": max((max(ms) / max(statistics.median(ms), 1) for ms in by_stage.values()),
                    default=0.0),
    }


def untagged_share(tasks: list[Task], exclude: Iterable[str] = ()) -> float:
    """Share of task run time with no job group, among tasks whose group
    is not in ``exclude`` (the benchmark's own bookkeeping jobs)."""
    skip = set(exclude)
    kept = [t for t in tasks if t.group not in skip]
    total = sum(t.run_ms for t in kept)
    if total == 0:
        return 0.0
    return sum(t.run_ms for t in kept if t.group is None) / total
