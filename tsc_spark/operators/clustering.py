"""Distributed incremental subsequence clustering over the tokens table.

Spark-first design: each input row already carries a complete series
(``tokens: array<int>``), so clustering is **embarrassingly
row-parallel** — every operator here is one call of the per-row shell
``_util.map_rows`` (Arrow-batched ``mapInPandas``, no grouping, no
shuffle) instead of the groupBy+applyInPandas shape a row-per-point
layout would force.  Shell NULL rule: a row whose series is NULL emits
nothing.  The only shuffle is the shell's cost-balancing spread of an
under-partitioned input.

Kernel semantics: tsc_spark.kernel.manager (exact re-implementation of
/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:1099-1290;
analyse parameters per .../src/controllers/time_series_controller.jl:2228-2235).

Scale notes (100 TB / 1000 executors):
* no shuffle on the hot path — scan → narrow mapInPandas → write;
* Catalyst pushes column pruning into the parquet/Iceberg scan (only
  doc_id + the series are read);
* per-doc cost is O(n_tok × clusters); a single huge doc is indivisible
  (the kernel is sequential per series — documented reference limit), so
  ``_util.balance_for_kernel`` routes heavy docs round-robin to their own
  partitions and hash-partitions the rest, bounding straggler skew to
  max(single-doc cost).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONTEXTUAL_MIN_WIDTH, DEFAULT_MERGE_THRESHOLD_RATIO
from ._util import map_rows

__all__ = ["cluster_timeline", "cluster_timeline_poly", "cluster_tree"]

TIMELINE_SCHEMA = (
    "doc_id string, window_size int, cluster_id string, indices array<int>"
)
TREE_SCHEMA = (
    "doc_id string, path array<int>, si array<int>, rep array<double>"
)


def _analyse(df: DataFrame, mtr: float, cmw: float, method: str, schema: str):
    """The scalar kernel over (doc_id, tokens); ``method`` names the
    manager's row method (``timeline`` or ``tree``) whose rows it emits."""
    mtr, cmw = float(mtr), float(cmw)

    def make():
        from ..kernel.api import analyse_tokens

        def fn(doc_id, toks):
            for row in getattr(analyse_tokens(toks, mtr, cmw), method)():
                yield (doc_id, *row)

        return fn

    return map_rows(df, ("doc_id", "tokens"), make, schema, F.size("tokens"))


def cluster_timeline(
    df: DataFrame,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
) -> DataFrame:
    """tokens table → timeline(doc_id, window_size, cluster_id, indices).

    The per-row invariant surface (FIXTURES.md §2.1): exact array
    equality against the oracle kernel.
    """
    return _analyse(
        df, merge_threshold_ratio, contextual_min_width, "timeline", TIMELINE_SCHEMA
    )


def cluster_timeline_poly(
    df: DataFrame,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
    max_set_size: int = 4,
) -> DataFrame:
    """Polyphonic clustering over a chords table
    (doc_id, chords: array<array<double>>) — each timestep is a PolySet
    (reference data model, .../polyphonic_cluster_manager.jl:24-27).
    Same shuffle-free shell as the token path; the kernel is
    kernel.polymanager.PolyClusterManager (set distances, sorted-set
    averaging, exact singleton equivalence to the scalar kernel).  An
    empty chords series emits nothing."""
    mtr = float(merge_threshold_ratio)
    cmw = float(contextual_min_width)
    mss = int(max_set_size)

    def make():
        from ..kernel.polymanager import PolyClusterManager

        def fn(doc_id, chords):
            if len(chords) == 0:
                return
            mgr = PolyClusterManager(
                [list(c) for c in chords],
                mtr,
                2,
                True,
                scale_mode="contextual_global_halves",
                contextual_min_width=cmw,
                max_set_size=mss,
            )
            mgr.process_data()
            for row in mgr.timeline():
                yield (doc_id, *row)

        return fn

    return map_rows(
        df, ("doc_id", "chords"), make, TIMELINE_SCHEMA, F.size("chords")
    )


def cluster_tree(
    df: DataFrame,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
) -> DataFrame:
    """tokens table → cluster_tree(doc_id, path, si, rep) (FIXTURES §2.2).

    ``rep`` floats are bit-equal to the oracle (same kernel, same
    summation order)."""
    return _analyse(
        df, merge_threshold_ratio, contextual_min_width, "tree", TREE_SCHEMA
    )
