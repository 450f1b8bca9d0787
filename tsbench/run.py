#!/usr/bin/env python3
"""Benchmark command.

    python3 tsbench/run.py --workload rollup_scan --seed 1 --trace 0

Runs one workload (or ``all``, each in its own process) and prints a
report followed, as the last line, by one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the gated end-to-end metrics of BENCHMARK.json; ``--trace 1``
adds a traced phase and reports the per-layer metrics.  The report
before the last line always holds every end-to-end figure with its unit
and sample count.  Exits non-zero when any operation failed or produced
a wrong output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from tsbench.metrics import RUN_SECONDS  # noqa: E402

NAMES = ("rollup_scan", "kernel_query", "ingest_retain")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=NAMES + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument(
        "--seconds", type=float, default=RUN_SECONDS,
        help="length of the measured loop (default: run_seconds of BENCHMARK.json)",
    )
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def run_one(args, scale: float = 1.0) -> int:
    """One workload in this process; ``scale`` shrinks the inputs for the
    benchmark's own tests."""
    from tsbench import harness
    from tsbench.metrics import PER_LAYER

    work = os.path.join(ROOT, ".tsbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        r = harness.run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work, scale
        )
        fig = harness.figures(r)
        layers = harness.per_layer(r) if args.trace else None
        print(json.dumps(harness.report(r, fig, layers), indent=1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": m["value"], "unit": m["unit"]}
                   for k, m in harness.end_to_end(fig).items()}
    print(
        json.dumps(
            {"correct": r.failed == 0, "attempted": r.attempted, "failed": r.failed,
             "metrics": metrics}
        )
    )
    return 0 if r.failed == 0 else 1


def run_all(args) -> int:
    """Each workload in its own process, as the per-workload command runs;
    then one table of every workload's end-to-end figures."""
    figures, attempted, failed = {}, 0, 0
    for name in NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False).stdout
        print(out, end="")
        lines = out.strip().splitlines()
        try:
            rep, last = json.loads("\n".join(lines[:-1])), json.loads(lines[-1])
        except (ValueError, IndexError):
            failed += 1
            attempted += 1
            continue
        attempted += last["attempted"]
        failed += last["failed"]
        figures.update({f"{name}.{k}": v for k, v in rep["end_to_end"].items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": figures}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import tsc_spark  # noqa: F401
    except ImportError as e:
        print(f"tsbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())
