"""Reader for Spark's JSON event log (written with spark.eventLog.compress=false).

Every job is assigned to an operation through its job description: the
benchmark sets ``tsbench:<kind>:<cycle>`` before each call, and streaming
micro-batch jobs carry their query's ``runId``, which the benchmark's
StreamingQueryListener maps to the operation that started the query.
Stage accumulables give Spark's SQL metrics (scan time, Python worker
time and bytes); task-end events give task durations, executor run and
CPU time, and shuffle bytes.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator

from .stats import median

# plan nodes that hand rows to a Python worker
PY_NODES = frozenset(
    {
        "MapInPandas",
        "MapInArrow",
        "PythonMapInArrow",
        "ArrowEvalPython",
        "BatchEvalPython",
        "FlatMapGroupsInPandas",
        "FlatMapGroupsInArrow",
        "FlatMapCoGroupsInPandas",
        "AggregateInPandas",
        "WindowInPandas",
    }
)

# stage-accumulable (SQL metric) name -> field of OpStats.sql
SQL_METRICS = {
    "scan time": "scan_ms",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}

_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class Execution:
    """One SQL execution: its wall time and the nodes of its final plan."""

    id: int
    start_ms: int
    end_ms: int = 0
    nodes: list[str] = field(default_factory=list)
    scans: list[str] = field(default_factory=list)  # file-scan node strings
    writes: list[str] = field(default_factory=list)  # file-write node strings

    @property
    def seconds(self) -> float:
        return max(self.end_ms - self.start_ms, 0) / 1000.0


@dataclass
class OpStats:
    """What Spark recorded for the jobs of one operation."""

    jobs: int = 0
    executor_run_ms: float = 0.0
    jvm_cpu_ms: float = 0.0
    shuffle_bytes: float = 0.0
    stage_task_ms: dict[int, list[float]] = field(default_factory=dict)
    sql: Counter = field(default_factory=Counter)
    executions: list[Execution] = field(default_factory=list)

    @property
    def task_ms(self) -> list[float]:
        return [t for ts in self.stage_task_ms.values() for t in ts]

    def straggler_ratio(self) -> float:
        """Slowest over median task of the stage with the most task time."""
        if not self.stage_task_ms:
            return 0.0
        busiest = max(self.stage_task_ms.values(), key=sum)
        mid = median(busiest)
        return max(busiest) / mid if mid > 0 else 0.0


def log_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order; handles both the
    rolling layout (``eventlog_v2_<app>/events_<n>_<app>``) and single files."""
    paths: list[str] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            paths.extend(os.path.join(path, f) for f in parts)
        elif not name.startswith(".") and not name.endswith(".crc"):
            paths.append(path)
    return paths


def iter_events(log_dir: str) -> Iterator[dict]:
    for path in log_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def _read_plan(ex: Execution, plan: dict) -> None:
    ex.nodes, ex.scans, ex.writes = [], [], []
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        ex.nodes.append(name)
        if name.startswith("Scan "):
            ex.scans.append(node.get("simpleString", ""))
        elif name.startswith("Execute InsertInto"):
            ex.writes.append(node.get("simpleString", ""))
        stack.extend(node.get("children", []))


def summarize(
    events: Iterable[dict], label_of: Callable[[str], str | None]
) -> dict[str, OpStats]:
    """Group Spark's per-job, per-stage and per-task records by operation.

    ``label_of`` maps a job description to an operation label, or None
    for jobs the benchmark did not tag; those are ignored."""
    stats: dict[str, OpStats] = {}
    stage_label: dict[int, str] = {}
    execs: dict[int, Execution] = {}
    exec_label: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if kind == _SQL + "SparkListenerSQLExecutionStart":
            ex = Execution(e["executionId"], e["time"])
            _read_plan(ex, e["sparkPlanInfo"])
            execs[ex.id] = ex
        elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
            ex = execs.get(e["executionId"])
            if ex is not None:  # the latest plan replaces the initial one
                _read_plan(ex, e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            if e["executionId"] in execs:
                execs[e["executionId"]].end_ms = e["time"]
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            label = label_of(props.get("spark.job.description") or "")
            if label is None:
                continue
            op = stats.setdefault(label, OpStats())
            op.jobs += 1
            for sid in e.get("Stage IDs", []):
                stage_label.setdefault(sid, label)
            if "spark.sql.execution.id" in props:
                exec_label.setdefault(int(props["spark.sql.execution.id"]), label)
        elif kind == "SparkListenerTaskEnd":
            label = stage_label.get(e["Stage ID"])
            if label is None:
                continue
            op = stats[label]
            info = e["Task Info"]
            op.stage_task_ms.setdefault(e["Stage ID"], []).append(
                float(info["Finish Time"] - info["Launch Time"])
            )
            tm = e.get("Task Metrics") or {}
            op.executor_run_ms += tm.get("Executor Run Time", 0)
            op.jvm_cpu_ms += tm.get("Executor CPU Time", 0) / 1e6
            op.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            label = stage_label.get(info["Stage ID"])
            if label is None:
                continue
            for acc in info.get("Accumulables", []):
                name = SQL_METRICS.get(acc.get("Name"))
                if name is not None:
                    stats[label].sql[name] += float(acc.get("Value") or 0)
    for eid, label in exec_label.items():
        if eid in execs:
            stats[label].executions.append(execs[eid])
    return stats


def spark_metrics(ops: list[OpStats]) -> dict[str, float]:
    """The ``spark.*`` figures of one operation cycle (its ops combined)."""
    tasks = [t for op in ops for t in op.task_ms]
    sql: Counter = Counter()
    for op in ops:
        sql.update(op.sql)
    out = {f"spark.{name}": float(sql[name]) for name in SQL_METRICS.values()}
    out.update(
        {
            "spark.executor_run_ms": float(sum(op.executor_run_ms for op in ops)),
            "spark.jvm_cpu_ms": float(sum(op.jvm_cpu_ms for op in ops)),
            "spark.shuffle_bytes": float(sum(op.shuffle_bytes for op in ops)),
            "spark.jobs": float(sum(op.jobs for op in ops)),
            "spark.tasks": float(len(tasks)),
            "spark.task_max_ms": max(tasks, default=0.0),
            "spark.task_median_ms": median(tasks),
        }
    )
    return out
