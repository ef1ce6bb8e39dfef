"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Only the events the per-layer metrics need are kept: job submission
times, completed stages, and per-task times, shuffle writes, spills and
Python-worker SQL metrics. Times are epoch seconds.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

#: The SQL metrics of a Python-evaluating plan node (Spark 4.1's
#: ``PythonSQLMetrics``), by display name, and the field each adds to.
PYTHON_METRICS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_boot_ms",
    "data sent to Python workers": "python_sent",
}


@dataclass
class Task:
    launch: float
    finish: float
    shuffle_write: int = 0
    disk_spill: int = 0
    python_run_ms: int = 0
    python_boot_ms: int = 0
    python_sent: int = 0
    python_rows: int = 0  # rows the Python workers returned

    @property
    def duration(self) -> float:
        return self.finish - self.launch


@dataclass
class Stage:
    id: int
    submitted: float
    tasks: list[Task] = field(default_factory=list)

    def skew(self) -> float | None:
        """Longest task over median task time, for stages of 2+ tasks."""
        if len(self.tasks) < 2:
            return None
        med = statistics.median(t.duration for t in self.tasks)
        return max(t.duration for t in self.tasks) / med if med > 0 else None


@dataclass
class EventLog:
    jobs: dict[int, float] = field(default_factory=dict)  # id -> submitted
    stages: dict[int, Stage] = field(default_factory=dict)


def _files(path: str) -> list[str]:
    """The event log's files in write order: a plain file, or the
    ``eventlog_v2_*`` directory of rolled ``events_<n>_*`` files."""
    if os.path.isfile(path):
        return [path]
    files = [f for f in os.listdir(path) if f.startswith("events_")]
    files.sort(key=lambda f: int(re.match(r"events_(\d+)_", f).group(1)))
    return [os.path.join(path, f) for f in files]


def find_log(log_dir: str) -> str:
    """The single application log written under ``log_dir``."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise ValueError(f"expected one event log under {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


def _num(v) -> int:
    return int(v) if v not in (None, "") else 0


def _python_row_ids(metrics: list[dict], out: set[int]) -> None:
    """Add to ``out`` the accumulator ids of the output-row counts of
    Python-evaluating nodes. Spark lists a node's metrics together, the
    Python ones first and then its ``number of output rows``: that
    count is the rows the workers returned."""
    after_python = False
    for m in metrics:
        if m["name"] in PYTHON_METRICS or m["name"] == "data returned from Python workers":
            after_python = True
        elif after_python and m["name"] == "number of output rows":
            out.add(m["accumulatorId"])
            after_python = False
        else:
            after_python = False


def _plan_python_row_ids(plan: dict, out: set[int]) -> None:
    """:func:`_python_row_ids` over every node of a ``sparkPlanInfo`` tree."""
    _python_row_ids(plan.get("metrics", []), out)
    for child in plan.get("children", []):
        _plan_python_row_ids(child, out)


def _task(e: dict, python_rows: set[int]) -> Task:
    info, metrics = e["Task Info"], e.get("Task Metrics") or {}
    task = Task(
        launch=info["Launch Time"] / 1000,
        finish=info["Finish Time"] / 1000,
        shuffle_write=_num(
            metrics.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written")
        ),
        disk_spill=_num(metrics.get("Disk Bytes Spilled")),
    )
    for acc in info.get("Accumulables", []):
        field_name = PYTHON_METRICS.get(acc.get("Name"))
        if field_name:
            setattr(task, field_name, getattr(task, field_name) + _num(acc.get("Update")))
        elif acc.get("ID") in python_rows:
            task.python_rows += _num(acc.get("Update"))
    return task


def read(path: str) -> EventLog:
    log = EventLog()
    pending: dict[int, list[Task]] = {}
    python_rows: set[int] = set()
    for fn in _files(path):
        with open(fn, encoding="utf-8") as f:
            for line in f:
                # cheap prefix test: most plan-carrying events are unused
                head = line[:100]
                if "SparkListenerTaskEnd" in head:
                    e = json.loads(line)
                    pending.setdefault(e["Stage ID"], []).append(_task(e, python_rows))
                elif "Python workers" in line and (
                    "SparkListenerSQLExecutionStart" in head
                    or "SparkListenerSQLAdaptiveExecutionUpdate" in head
                ):
                    _plan_python_row_ids(json.loads(line)["sparkPlanInfo"], python_rows)
                elif "Python workers" in line and "SparkListenerSQLAdaptiveSQLMetricUpdates" in head:
                    # metrics of plan nodes AQE adds, as one flat list
                    _python_row_ids(json.loads(line)["sqlPlanMetrics"], python_rows)
                elif "SparkListenerJobStart" in head:
                    e = json.loads(line)
                    log.jobs[e["Job ID"]] = e["Submission Time"] / 1000
                elif "SparkListenerStageCompleted" in head:
                    info = json.loads(line)["Stage Info"]
                    sid = info["Stage ID"]
                    stage = log.stages.setdefault(
                        sid, Stage(sid, info.get("Submission Time", 0) / 1000)
                    )
                    stage.tasks.extend(pending.pop(sid, []))
    return log
