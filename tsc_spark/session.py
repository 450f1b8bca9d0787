"""SparkSession builder tuned for the token-rollup engine.

Targets a 1000-executor cluster reading ~100 TB; in this sandbox runs on
local[N].  Knobs chosen so the same job scales by partition count only:

* AQE on (runtime coalescing + skew splitting replaces hand-tuned
  shuffle partition counts at every SF),
* Arrow-batched Python boundary (the clustering kernel is the only
  non-JVM operator; everything Catalyst-visible stays native),
* shuffle partitions default to cores in local mode, 2×cores estates
  on clusters via spark.sql.adaptive.coalescePartitions,
* local masters start Python workers from ``tsc_spark.pydaemon``: each
  task re-reads the directory of every archive on the worker path
  (``pyspark.zip``, the py4j zip, the spark-core jar), which cost more
  CPU than the rollup UDFs themselves; that daemon drops the archives
  whose contents are installed.  It stays local-only because a cluster
  executor may have no installed pyspark, and a ``--py-files`` zip need
  not be importable before its first task.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from .config import ARROW_MAX_RECORDS_PER_BATCH

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "tsc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    # Python workers inherit PYTHONPATH (not the driver's sys.path), so
    # pin the package root before the JVM starts — otherwise mapInPandas
    # stages fail with ModuleNotFoundError when the driver runs from a
    # different working directory.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # the thread count of local[N] and local[N,F] (F = max task failures);
        # local[*], local[*,F] and non-local masters size from the host
        m = re.fullmatch(r"local\[(\d+)(,\d+)?\]", master)
        n = int(m.group(1)) if m else os.cpu_count()
        shuffle_partitions = max(n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        # large token arrays: keep scan partitions at 128MB so executor
        # memory holds a few Arrow batches of heavy docs
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("TSC_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if re.fullmatch(r"local(\[.*\])?", master):
        builder = builder.config("spark.python.daemon.module", "tsc_spark.pydaemon")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
