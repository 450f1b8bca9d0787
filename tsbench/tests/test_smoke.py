"""Tiny-input runs of every workload through the command's own code path.

Each test launches Spark, so the module takes a minute or two:

    python3 -m pytest tsbench/tests -q
"""

from __future__ import annotations

import argparse
import json

import pytest

from tsbench import run
from tsbench.metrics import END_TO_END, PER_LAYER, SPEC
from tsbench.workloads import WORKLOADS, RollupScan

# shrinks every corpus to the 64-doc floor of Workload.__init__
TINY = 0.001


def _run(capsys, workload: str, trace: int) -> tuple[int, dict, dict]:
    args = argparse.Namespace(workload=workload, seed=5, seconds=0.1, trace=trace)
    rc = run.run_one(args, scale=TINY)
    lines = capsys.readouterr().out.strip().splitlines()
    return rc, json.loads("\n".join(lines[:-1])), json.loads(lines[-1])


def test_spec_lists_every_workload():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.NAMES) == list(WORKLOADS)
    for w in SPEC["workloads"]:
        assert WORKLOADS[w["name"]].why == w["why"]


@pytest.mark.parametrize(
    "workload,trace", [("rollup_scan", 1), ("kernel_query", 0), ("ingest_retain", 1)]
)
def test_workload_runs_clean_and_prints_the_spec_names(capsys, workload, trace):
    rc, report, last = _run(capsys, workload, trace)
    assert rc == 0, report["failures"]
    assert last["correct"] and last["failed"] == 0 and last["attempted"] >= 1
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    expected = PER_LAYER if trace else END_TO_END
    assert set(last["metrics"]) == set(expected)
    for name, m in last["metrics"].items():
        assert m["unit"] == expected[name][0]
    fig = report["end_to_end"]
    assert fig["op_failure_rate"]["value"] == 0.0
    assert all(m["n"] >= 1 for m in fig.values())
    layers = {k: m["value"] for k, m in last["metrics"].items()}
    if workload == "rollup_scan":
        # three tiers over one corpus scan each, two of them in Python
        assert layers["rollup.corpus_scans"] == 3
        assert layers["rollup.py_stages"] == 2
        assert layers["spark.jobs"] >= 3
        assert layers["trace.traced_cycle_s"] > 0
    if workload == "ingest_retain":
        # per bucket: the stats job, three tiers and the encoder read the
        # bucket; tiers 1 and 2 and the codec UDF cross into Python
        assert layers["rollup.corpus_scans"] == 5
        assert layers["rollup.py_stages"] == 3
        assert layers["codec.encode_s"] > 0
        assert layers["stream.batches"] == 2
        assert layers["stream.input_rows"] == report["inputs"]["docs"]


def test_injected_failure_raises_the_failure_rate(capsys, monkeypatch):
    expect = RollupScan.expect

    def wrong_expect(self, spark, inp):
        expect(self, spark, inp)
        inp.expected["token_sum"] += 1  # every pass now disagrees with its check

    monkeypatch.setattr(RollupScan, "expect", wrong_expect)
    rc, report, last = _run(capsys, "rollup_scan", 0)
    assert rc != 0
    assert not last["correct"]
    assert last["failed"] == last["attempted"] >= 1
    assert report["end_to_end"]["op_failure_rate"]["value"] == 1.0
    assert "agg_sum total" in report["failures"][0]
