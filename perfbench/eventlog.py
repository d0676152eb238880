"""Spark event-log parser: per-layer JVM / Python-boundary figures for
the jobs of one job-group prefix.

Reads the uncompressed, non-rolling JSON-lines log Spark writes with
`spark.eventLog.enabled=true`.  Jobs are attributed by their
`spark.jobGroup.id` property; every task of every stage of an
attributed job counts once (a stage shared by two jobs is attributed to
the first)."""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RET = "data returned from Python workers"


@dataclass
class LayerTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_worker_s: float = 0.0
    python_bytes_sent: int = 0
    python_bytes_returned: int = 0
    #: task run times (ms) per stage, for the skew figure
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """Task-time-weighted mean over stages with >= 2 tasks of each
        stage's max/median task run time; 1.0 when no stage qualifies."""
        num = den = 0.0
        for times in self.stage_task_ms.values():
            if len(times) < 2:
                continue
            med = statistics.median(times)
            if med <= 0:
                continue
            w = float(sum(times))
            num += w * (max(times) / med)
            den += w
        return num / den if den else 1.0


def _acc(task_info: dict) -> dict[str, int]:
    out: dict[str, int] = {}
    for a in task_info.get("Accumulables", ()):
        name = a.get("Name")
        if name in (_PY_RUN, _PY_SENT, _PY_RET):
            out[name] = out.get(name, 0) + int(a.get("Update", 0))
    return out


def parse(path: str, group_prefix: str) -> LayerTotals:
    """Sum the layer figures of every job whose job group starts with
    `group_prefix`."""
    tot = LayerTotals()
    stage_owned: set[int] = set()
    with open(path) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue  # a torn last line of an unflushed log
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id") or ""
                if group.startswith(group_prefix):
                    tot.jobs += 1
                    stage_owned.update(ev.get("Stage IDs", ()))
            elif kind == "SparkListenerStageCompleted":
                if ev["Stage Info"]["Stage ID"] in stage_owned:
                    tot.stages += 1
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                if sid not in stage_owned:
                    continue
                tm = ev.get("Task Metrics") or {}
                tot.tasks += 1
                run_ms = int(tm.get("Executor Run Time", 0))
                tot.executor_cpu_s += int(tm.get("Executor CPU Time", 0)) / 1e9
                tot.gc_s += int(tm.get("JVM GC Time", 0)) / 1e3
                tot.spill_bytes += int(tm.get("Memory Bytes Spilled", 0))
                tot.shuffle_write_bytes += int(
                    (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0))
                acc = _acc(ev.get("Task Info") or {})
                tot.python_worker_s += acc.get(_PY_RUN, 0) / 1e3
                tot.python_bytes_sent += acc.get(_PY_SENT, 0)
                tot.python_bytes_returned += acc.get(_PY_RET, 0)
                tot.stage_task_ms.setdefault(sid, []).append(run_ms)
    return tot
