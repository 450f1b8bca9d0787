"""The event-log reader on a small captured log.

``data/eventlog/rollup_pass.json`` holds the events Spark wrote for one
tagged rollup pass (three tiers, each forced by a count/sum aggregate)
over a 128-doc corpus at ``/data/corpus``, one tagged check job and one
untagged job; event kinds the reader ignores were dropped."""

from __future__ import annotations

import os

from tsbench import eventlog
from tsbench.harness import LABEL_PREFIX
from tsbench.metrics import PER_LAYER

LOG_DIR = os.path.join(os.path.dirname(__file__), "data", "eventlog")


def _label_of(desc: str) -> str | None:
    return desc[len(LABEL_PREFIX):] if desc.startswith(LABEL_PREFIX) else None


def _stats() -> dict[str, eventlog.OpStats]:
    return eventlog.summarize(eventlog.iter_events(LOG_DIR), _label_of)


def test_jobs_are_assigned_by_their_description():
    stats = _stats()
    assert set(stats) == {"rollup:0", "check-rollup:0"}
    assert stats["rollup:0"].jobs >= 3
    assert stats["check-rollup:0"].jobs >= 1


def test_rollup_pass_plan_counts():
    op = _stats()["rollup:0"]
    # one SQL execution per tier, each scanning the corpus; tiers 1 and 2
    # cross into Python through mapInPandas
    assert len(op.executions) == 3
    assert sum("/data/corpus" in s for ex in op.executions for s in ex.scans) == 3
    assert sum(n in eventlog.PY_NODES for ex in op.executions for n in ex.nodes) == 2
    assert all(ex.seconds > 0 for ex in op.executions)


def test_spark_metrics_names_and_values():
    op = _stats()["rollup:0"]
    m = eventlog.spark_metrics([op])
    assert set(m) == {name for name in PER_LAYER if name.startswith("spark.")}
    assert m["spark.jobs"] == op.jobs
    assert m["spark.tasks"] == len(op.task_ms) > 0
    assert m["spark.task_max_ms"] >= m["spark.task_median_ms"] > 0
    assert m["spark.executor_run_ms"] > 0
    assert m["spark.py_bytes_in"] > 0 and m["spark.py_bytes_out"] > 0
    assert op.straggler_ratio() >= 1.0
