"""Shared operator plumbing: the partition spreader, the per-row
Python operator shell every per-doc kernel operator runs through, and
the bucket self-join both LSH operators pair candidates with."""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import HEAVY_DOC_TOKEN_THRESHOLD

__all__ = ["balance_for_kernel", "bucket_pairs", "ensure_min_partitions", "map_rows"]


def balance_for_kernel(df: DataFrame, parallelism: int, cost: Column) -> DataFrame:
    """Skew-aware partitioning for a per-doc kernel.

    Light rows hash-partition by doc_id (uniform, co-location friendly);
    heavy rows (``cost`` above ``HEAVY_DOC_TOKEN_THRESHOLD``: rare
    long-tail series whose kernel cost dominates) are spread round-robin
    so no partition holds two of them — salting the heavy keys (SURVEY
    §4) while keeping one doc per row."""
    heavy = df.filter(cost > HEAVY_DOC_TOKEN_THRESHOLD).repartition(parallelism)
    light = df.filter(cost <= HEAVY_DOC_TOKEN_THRESHOLD).repartition(parallelism, "doc_id")
    return light.unionByName(heavy)


def ensure_min_partitions(df: DataFrame, cost: Column | None = None) -> DataFrame:
    """Spread ``df`` over defaultParallelism partitions ONLY when the scan
    is under-partitioned.

    Small at-rest tables arrive as one split and would serialize every
    downstream narrow stage; a large scan (thousands of splits) already
    exceeds cluster parallelism, so it is returned unchanged and never
    pays a corpus-wide shuffle.  With a ``cost`` column the spread is
    ``balance_for_kernel``; without one it is round-robin."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    if cost is None:
        return df.repartition(target)
    return balance_for_kernel(df, target, cost)


def map_rows(
    df: DataFrame,
    cols: Sequence[str],
    make_fn: Callable[[], Callable[..., Iterable[tuple]]],
    schema: str,
    cost: Column | None = None,
) -> DataFrame:
    """The per-row Python operator shell: one shuffle-free, Arrow-batched
    ``mapInPandas`` over ``df[cols]`` (spread by ``ensure_min_partitions``).

    ``make_fn()`` runs once per task (worker-side imports, broadcast
    unpickle) and returns ``fn``; ``fn(*row)`` yields the output rows as
    tuples in ``schema`` order.  NULL rule: a row with a NULL in any
    non-key input column (all but ``cols[0]``) emits nothing.  A batch
    with no output rows yields no frame."""
    cols = list(cols)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fn = make_fn()
        for pdf in batches:
            pdf = pdf[pdf[cols[1:]].notna().all(axis=1)]
            rows = [out for row in zip(*(pdf[c] for c in cols)) for out in fn(*row)]
            if rows:
                # unlabelled columns: Spark assigns them to schema by position
                yield pd.DataFrame(rows)

    return ensure_min_partitions(df.select(*cols), cost).mapInPandas(run, schema)


def bucket_pairs(stacked: DataFrame, id_col: str, out_a: str, out_b: str) -> DataFrame:
    """Distinct id pairs ``(out_a < out_b)`` that share a bucket under
    the same key: ``stacked`` holds ``id_col`` plus the key columns
    (e.g. ``band, bucket``), one row per (id, key).

    The stacked table is materialized (lazy localCheckpoint) before the
    self-join: both join sides otherwise re-execute its upstream subtree
    (a corpus scan plus the hashing); it holds ids × keys rows — small —
    so checkpointing it is cheaper than one extra corpus pass."""
    keys = [c for c in stacked.columns if c != id_col]
    stacked = stacked.localCheckpoint(eager=False)
    return (
        stacked.alias("a")
        .join(stacked.alias("b"), keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias(out_a), F.col(f"b.{id_col}").alias(out_b))
        .distinct()
    )
