"""Fold an uncompressed Spark event log into per-job-group task-metric sums.

The benchmark runs each layer's Spark jobs under a job group of its own
(``SparkContext.setJobGroup``). Stages inherit the submitting job's
properties, so each ``SparkListenerStageSubmitted`` names the group its
tasks belong to; every ``SparkListenerTaskEnd`` is then added to that
group's sums. Python-worker times are SQL metrics, found among a task's
accumulables by name.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, fields

GROUP_PROP = "spark.jobGroup.id"

#: accumulable name -> TaskSums field, for the Python-worker timings
#: (values in milliseconds in the event log)
_PY_ACCUMULABLES = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "time to run Python workers": "python_run_s",
}


@dataclass
class TaskSums:
    jobs: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    python_boot_s: float = 0.0
    python_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    failed_tasks: int = 0

    def __add__(self, other: "TaskSums") -> "TaskSums":
        return TaskSums(
            *(getattr(self, f.name) + getattr(other, f.name) for f in fields(self))
        )

    def __sub__(self, other: "TaskSums") -> "TaskSums":
        return TaskSums(
            *(getattr(self, f.name) - getattr(other, f.name) for f in fields(self))
        )

    def as_dict(self) -> dict[str, float]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


def _add_task(s: TaskSums, ev: dict) -> None:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    s.tasks += 1
    if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason", "Success") != "Success":
        s.failed_tasks += 1
    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    s.gc_s += m.get("JVM GC Time", 0) / 1e3
    s.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    s.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        key = _PY_ACCUMULABLES.get(acc.get("Name"))
        if key is not None and acc.get("Update") is not None:
            setattr(s, key, getattr(s, key) + float(acc["Update"]) / 1e3)


def fold_events(lines, job_ids: dict | None = None) -> dict[str, TaskSums]:
    """Per-group sums from event-log lines (JSON objects, one per line).
    Jobs and stages without a group are ignored. ``job_ids``, when given,
    is filled with group -> list of Spark job ids."""
    sums: dict[str, TaskSums] = {}
    stage_group: dict[int, str] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            if group is None:
                continue
            sums.setdefault(group, TaskSums()).jobs += 1
            if job_ids is not None:
                job_ids.setdefault(group, []).append(ev["Job ID"])
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(GROUP_PROP)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is not None:
                _add_task(sums.setdefault(group, TaskSums()), ev)
    return sums


def fold_event_log(path: str, job_ids: dict | None = None) -> dict[str, TaskSums]:
    with open(path, encoding="utf-8") as f:
        return fold_events(f, job_ids)
