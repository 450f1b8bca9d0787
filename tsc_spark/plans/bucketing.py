"""Bucketed co-located joins for repeated doc_id joins at corpus scale.

At 10^12 sequences every tokens↔rollup / tokens↔cluster join shuffles
both sides on doc_id unless the partitioning is persisted WITH the data.
Spark's bucketed tables do exactly that: ``bucketBy(N, "doc_id")`` at
write time records the hash-partitioning in the catalog, and any later
equi-join (or aggregation) on doc_id between tables with compatible
bucket counts runs with ZERO Exchange on the bucketed side(s) — the
scan itself reports the required hash distribution.

On a 1000-executor cluster this converts the hot join of the pipeline
(tokens joined back to per-tier rollups / cluster assignments, re-run
per retention sweep and per query) from two full-corpus shuffles into a
co-located sort-merge join whose only cost is the local sort — and with
``sortBy("doc_id")`` even that vanishes.

The reference has no analogue (single-process Julia holds everything in
RAM — /root/reference/src/polyphonic/polyphonic_cluster_manager.jl:1-40
keeps the whole cluster forest as in-memory manager state); this is the
Spark-native answer to the same "never re-pay data movement for a
stable key" concern its in-memory design sidesteps.

Used with the in-memory session catalog (no Hive metastore needed):
bucketing metadata lives for the session, data files persist at
``path``.  A cluster deployment would use the same API against a real
metastore/Iceberg catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = [
    "write_bucketed",
    "plan_nodes",
    "plan_exchanges",
    "plan_file_scans",
]


def write_bucketed(df: DataFrame, table: str, path: str, n_buckets: int = 32) -> None:
    """Persist ``df`` at ``path`` as table ``table``, bucketed and sorted
    by ``doc_id``.

    ``n_buckets`` should be sized like shuffle partitions at the target
    scale (cores × small multiple); both sides of a co-located join must
    use the SAME bucket count — record it once per layout, not per job.
    With matching bucket counts Catalyst plans the join of two such
    tables on ``doc_id`` (``spark.table(l).join(spark.table(r),
    "doc_id")``) WITHOUT any Exchange: each task reads bucket i of both
    tables and joins locally.  ``plan_exchanges`` asserts that property
    in tests.
    """
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "doc_id")
        .sortBy("doc_id")
        .option("path", path)
        .saveAsTable(table)
    )


def _walk_plan(node):
    """Yield every physical operator reachable from ``node``, descending
    through AQE wrappers: AdaptiveSparkPlanExec exposes the CURRENT
    physical plan via ``executedPlan()`` (= the final adaptive plan once
    an action ran, the initial plan before — callers asserting on
    adaptive re-planning must execute the DataFrame first), and
    QueryStageExec wrappers expose their materialized subtree via
    ``plan()``.  Tree walk per class name, not string matching — plan
    RENDERING changes across Spark versions; node class names are the
    stable surface."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        try:
            inner = node.executedPlan()
        except Exception:  # pre-4.x fallback accessor
            inner = node.initialPlan()
        yield from _walk_plan(inner)
        return
    if name.endswith("QueryStageExec"):
        yield from _walk_plan(node.plan())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _walk_plan(children.apply(i))


def plan_nodes(df: DataFrame) -> list[str]:
    """Physical-operator class names of ``df``'s (executed) plan.

    Under AQE the pre-execution plan is the INITIAL plan; run an action
    on ``df`` first when the assertion concerns runtime re-planning or
    exchange reuse."""
    plan = df._jdf.queryExecution().executedPlan()
    return [n.getClass().getSimpleName() for n in _walk_plan(plan)]


def plan_exchanges(df: DataFrame) -> int:
    """Number of SHUFFLE Exchange operators in the executed plan.

    BroadcastExchangeExec is excluded: replicating a small side is not
    the data movement bucketing exists to remove (and at the scale where
    bucketing matters, neither side broadcasts).  ReusedExchangeExec is
    excluded for the same reason — a reused exchange re-reads shuffle
    files already paid for."""
    return sum(1 for n in plan_nodes(df) if n == "ShuffleExchangeExec")


def plan_file_scans(df: DataFrame) -> int:
    """Number of file/table scan operators (FileSourceScanExec for
    parquet v1 reads, BatchScanExec for DSv2) in the executed plan.

    The subtree-reuse assertions use this: a self-join whose input was
    materialized (localCheckpoint/persist) before joining shows ZERO
    file scans in its final plan — both sides read the materialized
    RDD — where the unmaterialized version re-scans the source once per
    reference."""
    return sum(
        1
        for n in plan_nodes(df)
        if n in ("FileSourceScanExec", "BatchScanExec")
    )
