"""Distributed incremental subsequence clustering over the tokens table.

Spark-first design: each input row already carries a complete series
(``tokens: array<int>``), so clustering is **embarrassingly
row-parallel** — we use ``mapInPandas`` (Arrow-batched, no grouping, no
shuffle) instead of the groupBy+applyInPandas shape a row-per-point
layout would force.  The only shuffle in the whole pipeline is the
optional cost-balancing repartition for skewed corpora.

Kernel semantics: tsc_spark.kernel.manager (exact re-implementation of
/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:1099-1290;
analyse parameters per .../src/controllers/time_series_controller.jl:2228-2235).

Scale notes (100 TB / 1000 executors):
* no shuffle on the hot path — scan → narrow mapInPandas → write;
* Catalyst pushes column pruning into the parquet/Iceberg scan (only
  doc_id + tokens are read);
* per-doc cost is O(n_tok × clusters); a single huge doc is indivisible
  (the kernel is sequential per series — documented reference limit), so
  ``balance_for_kernel`` routes heavy docs round-robin to their own
  partitions and hash-partitions the rest, bounding straggler skew to
  max(single-doc cost).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_CONTEXTUAL_MIN_WIDTH,
    DEFAULT_MERGE_THRESHOLD_RATIO,
    HEAVY_DOC_TOKEN_THRESHOLD,
)

__all__ = [
    "balance_for_kernel",
    "auto_balance",
    "cluster_timeline",
    "cluster_timeline_poly",
    "cluster_tree",
]

TIMELINE_SCHEMA = (
    "doc_id string, window_size int, cluster_id string, indices array<int>"
)
TREE_SCHEMA = (
    "doc_id string, path array<int>, si array<int>, rep array<double>"
)


def balance_for_kernel(
    df: DataFrame,
    parallelism: int,
    heavy_threshold: int = HEAVY_DOC_TOKEN_THRESHOLD,
) -> DataFrame:
    """Skew-aware partitioning for the per-doc kernel.

    Light docs hash-partition by doc_id (uniform, co-location friendly);
    heavy docs (rare long-tail sequences, cost ~ n_tok × clusters) are
    spread round-robin so no partition holds two of them.  Equivalent to
    salting the heavy keys (SURVEY §4) while keeping one doc per row.
    """
    n_tok = F.col("n_tok") if "n_tok" in df.columns else F.size("tokens")
    heavy = df.filter(n_tok > heavy_threshold).repartition(parallelism)
    light = df.filter(n_tok <= heavy_threshold).repartition(parallelism, "doc_id")
    return light.unionByName(heavy)


def auto_balance(df: DataFrame) -> DataFrame:
    """Engage kernel balancing only when the scan is under-partitioned.

    Small at-rest tables arrive as one or two splits, serializing the
    per-doc kernel; a 100 TB scan has splits ≫ cores and must NOT pay a
    corpus-wide shuffle just to rebalance — so this is a no-op whenever
    the input already has ≥ defaultParallelism partitions."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:
        return df
    if current >= target:
        return df
    return balance_for_kernel(df, target)


def cluster_timeline(
    df: DataFrame,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
    balance_parallelism: int | None = None,
) -> DataFrame:
    """tokens table → timeline(doc_id, window_size, cluster_id, indices).

    The per-row invariant surface (FIXTURES.md §2.1): exact array
    equality against the oracle kernel.
    """
    mtr = float(merge_threshold_ratio)
    cmw = float(contextual_min_width)

    if balance_parallelism:
        df = balance_for_kernel(df, balance_parallelism)
    else:
        df = auto_balance(df)

    src = df.select("doc_id", "tokens")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.api import analyse_tokens

        for pdf in batches:
            out_doc, out_ws, out_cid, out_idx = [], [], [], []
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                mgr = analyse_tokens(toks, mtr, cmw)
                for ws, cid, inds in mgr.timeline():
                    out_doc.append(doc_id)
                    out_ws.append(ws)
                    out_cid.append(cid)
                    out_idx.append(inds)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "window_size": pd.Series(out_ws, dtype="int32"),
                    "cluster_id": out_cid,
                    "indices": out_idx,
                }
            )

    return src.mapInPandas(run, TIMELINE_SCHEMA)


POLY_TIMELINE_SCHEMA = TIMELINE_SCHEMA


def cluster_timeline_poly(
    df: DataFrame,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
    max_set_size: int = 4,
    point_distance_mode: str = "set",
    point_axis_ranges: tuple = (),
) -> DataFrame:
    """Polyphonic clustering over a chords table
    (doc_id, chords: array<array<double>>) — each timestep is a PolySet
    (reference data model, .../polyphonic_cluster_manager.jl:24-27).
    Same shuffle-free mapInPandas shape as the token path; the kernel is
    kernel.polymanager.PolyClusterManager (set distances, sorted-set
    averaging, exact singleton equivalence to the scalar kernel)."""
    mtr = float(merge_threshold_ratio)
    cmw = float(contextual_min_width)
    mss = int(max_set_size)
    mode = point_distance_mode
    axes = tuple(float(a) for a in point_axis_ranges)

    src = auto_balance(df).select("doc_id", "chords")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.polymanager import PolyClusterManager

        for pdf in batches:
            out_doc, out_ws, out_cid, out_idx = [], [], [], []
            for doc_id, chords in zip(pdf["doc_id"], pdf["chords"]):
                if len(chords) == 0:
                    continue
                mgr = PolyClusterManager(
                    [list(c) for c in chords],
                    mtr,
                    2,
                    True,
                    scale_mode="contextual_global_halves",
                    contextual_min_width=cmw,
                    max_set_size=mss,
                    point_distance_mode=mode,
                    point_axis_ranges=axes,
                )
                mgr.process_data()
                for ws, cid, inds in mgr.timeline():
                    out_doc.append(doc_id)
                    out_ws.append(ws)
                    out_cid.append(cid)
                    out_idx.append(inds)
            yield pd.DataFrame(
                {
                    "doc_id": out_doc,
                    "window_size": pd.Series(out_ws, dtype="int32"),
                    "cluster_id": out_cid,
                    "indices": out_idx,
                }
            )

    return src.mapInPandas(run, POLY_TIMELINE_SCHEMA)


def cluster_tree(
    df: DataFrame,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
    balance_parallelism: int | None = None,
) -> DataFrame:
    """tokens table → cluster_tree(doc_id, path, si, rep) (FIXTURES §2.2).

    ``rep`` floats are bit-equal to the oracle (same kernel, same
    summation order)."""
    mtr = float(merge_threshold_ratio)
    cmw = float(contextual_min_width)

    if balance_parallelism:
        df = balance_for_kernel(df, balance_parallelism)
    else:
        df = auto_balance(df)

    src = df.select("doc_id", "tokens")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.api import analyse_tokens

        for pdf in batches:
            out = {"doc_id": [], "path": [], "si": [], "rep": []}
            for doc_id, toks in zip(pdf["doc_id"], pdf["tokens"]):
                mgr = analyse_tokens(toks, mtr, cmw)
                for path, si, rep in mgr.tree():
                    out["doc_id"].append(doc_id)
                    out["path"].append(path)
                    out["si"].append(si)
                    out["rep"].append(rep)
            yield pd.DataFrame(out)

    return src.mapInPandas(run, TREE_SCHEMA)
