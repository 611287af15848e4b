"""Fold a Spark event log into per-job-group measures.

Spark 4 writes one directory per application, ``eventlog_v2_<app>/``,
holding rolling ``events_<n>_<app>`` files of JSON lines (plus an
``appstatus`` marker). Older layouts write a single file per
application; both are read. Compression must be off
(``spark.eventLog.compress=false``): the zstd codec needs ``zstandard``.

The fold:

- ``SparkListenerJobStart`` maps each stage id of the job to the job's
  ``spark.jobGroup.id`` property (the first job to claim a stage keeps
  it, so a stage reused by a later job is not counted twice);
- ``SparkListenerTaskEnd`` adds its task metrics to the group of its
  stage, together with the Python-worker SQL metrics Spark ships as
  task accumulables ("data sent to / returned from Python workers",
  "time to run Python workers", the latter in ms).
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field
from pathlib import Path

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN_MS = "time to run Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    task_ms: list[int] = field(default_factory=list)
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_run_ms: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0

    def measures(self) -> dict[str, float]:
        """The per-layer measures, in the units the benchmark reports."""
        med = statistics.median(self.task_ms) if self.task_ms else 0
        return {
            "jobs": self.jobs,
            "task_cpu_s": self.task_cpu_ns / 1e9,
            "gc_s": self.gc_ms / 1e3,
            "shuffle_bytes": self.shuffle_read_bytes + self.shuffle_write_bytes,
            "spill_bytes": self.spill_bytes,
            "py_worker_s": self.py_run_ms / 1e3,
            "py_bytes": self.py_sent_bytes + self.py_returned_bytes,
            "task_skew": max(self.task_ms) / max(med, 1) if self.task_ms else 0.0,
        }


def event_files(log_dir: str | Path) -> list[Path]:
    """Every event file under ``log_dir``, rolling parts in index order."""
    out: list[Path] = []
    for entry in sorted(Path(log_dir).iterdir()):
        if entry.is_dir() and entry.name.startswith("eventlog_v2_"):
            parts = [p for p in entry.iterdir() if re.match(r"events_\d+_", p.name)]
            out.extend(sorted(parts, key=lambda p: int(p.name.split("_")[1])))
        elif entry.is_file() and not entry.name.startswith(".") and not entry.name.endswith(".inprogress"):
            out.append(entry)
    return out


def read_events(log_dir: str | Path):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _acc_updates(task_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for acc in task_info.get("Accumulables", ()):
        name = acc.get("Name")
        if name in (_PY_SENT, _PY_RETURNED, _PY_RUN_MS) and "Update" in acc:
            out[name] = out.get(name, 0) + int(acc["Update"])
    return out


def fold(events) -> dict[str, GroupStats]:
    """Per job group: jobs, task metrics and Python-worker metrics.
    Jobs without a group and their tasks are skipped."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            groups.setdefault(group, GroupStats()).jobs += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = groups[group]
            info = ev.get("Task Info", {})
            tm = ev.get("Task Metrics") or {}
            g.tasks += 1
            g.task_ms.append(int(info.get("Finish Time", 0)) - int(info.get("Launch Time", 0)))
            g.task_cpu_ns += int(tm.get("Executor CPU Time", 0))
            g.gc_ms += int(tm.get("JVM GC Time", 0))
            g.spill_bytes += int(tm.get("Disk Bytes Spilled", 0))
            rd = tm.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += int(rd.get("Remote Bytes Read", 0)) + int(rd.get("Local Bytes Read", 0))
            g.shuffle_write_bytes += int((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            py = _acc_updates(info)
            g.py_run_ms += py.get(_PY_RUN_MS, 0)
            g.py_sent_bytes += py.get(_PY_SENT, 0)
            g.py_returned_bytes += py.get(_PY_RETURNED, 0)
    return groups


def fold_dir(log_dir: str | Path) -> dict[str, GroupStats]:
    return fold(read_events(log_dir))
