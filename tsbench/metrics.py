"""Names, units and directions of every metric the benchmark prints.

The gated end-to-end metrics, the per-layer metrics and the run length
are read from BENCHMARK.json at the root of the checkout, so the command
and the file cannot disagree on them.  NAMED lists the per-operation
end-to-end figures every report prints beside the gated ones."""

from __future__ import annotations

import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# name -> (unit, better, bound).  The result line of every --trace 0 run.
END_TO_END: dict[str, tuple[str, str, float]] = {
    m["name"]: (m["unit"], m["better"], m["bound"]) for m in SPEC["end_to_end"]
}
# name -> (unit, better).  The result line of every --trace 1 run; a layer
# the workload does not exercise reports 0.
PER_LAYER: dict[str, tuple[str, str]] = {
    m["name"]: (m["unit"], m["better"]) for m in SPEC["per_layer"]
}
RUN_SECONDS: int = SPEC["run_seconds"]

# The end-to-end figure of each operation a user runs, as the report
# prints them: name -> (unit, operation kind whose successful measured
# runs are its samples).  The workload that runs the kind reports it.
NAMED: dict[str, tuple[str, str]] = {
    "rollup_points_per_s": ("points/s", "rollup"),
    "cluster_points_per_s": ("points/s", "cluster"),
    "match_points_per_s": ("points/s", "match"),
    "pipeline_points_per_s": ("points/s", "pipeline"),
    "retention_rows_per_s": ("rows/s", "retention"),
    "stream_points_per_s": ("points/s", "stream"),
    # micro-batch durations: every batch of every measured stream is a sample
    "stream_batch_s.p50": ("s", "stream"),
    "stream_batch_s.p75": ("s", "stream"),
}
