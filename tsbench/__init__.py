"""Benchmark harness for the tsc_spark engine (see tsbench/README.md).

Entry point: ``python3 tsbench/run.py --workload NAME --seed N --trace 0|1``."""
