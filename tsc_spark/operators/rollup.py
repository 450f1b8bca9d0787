"""Tiered continuous aggregates (1×/8×/64× downsample) with gap-fill.

The genuinely new aggregation mandated by the north rule on top of the
reference's clustering (the reference's analogue is the per-series point
stream grouped by synthetic time, its scripts/seed_influx.jl:
575-598).  Apart from the Arrow crossings of the strided tiers,
everything here is native DataFrame API — Catalyst sees every operator,
so AQE handles partial aggregation, shuffle sizing and skew.

Design for 100 TB:
* every tier is a SHUFFLE-FREE per-row transform over the token arrays:
  a doc's windows never cross rows, so no tier pays a shuffle.
  ``rollup_arrays`` is the one window-row implementation (posexplode
  for tier-0, ``rollup_batch``'s numpy ``reduceat`` over ``mapInArrow``
  for tiers 1/2), run by ``tiered_rollups`` and the streaming tier; the
  batch pipeline runs ``doc_tier_structs`` over the same numpy core;
* its rows (``_WINDOW_SCHEMA``) are the tier-row form of
  ``tiered_rollups``, the stream sink and ``plans.pipeline.read_tier``,
  and ``point_windows`` builds the one-point windows of tier 0;
* the batch store holds tiers 1/2 doc-major, in the doc's own row of
  the bucket table (``_TIER_STRUCT``: one struct per doc and tier
  holding its window arrays): ``doc_tier_structs`` builds both from a
  batch's token lists, tier 2 reduced from the tier-1 partials, and
  ``window_rows`` explodes them back to ``_WINDOW_SCHEMA``;
* ``rollup_points(explode_points(...))`` is the explode+groupBy oracle
  the array path is tested against;
* gap-fill, for sparse point streams only, generates the expected
  window grid with ``sequence`` + explode and left-joins actuals: both
  sides are partitioned by doc_id, so AQE plans a co-partitioned join
  without a broadcast of big data.  Its output alone carries the
  ``gapfilled`` flag.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DEFAULT_CONTEXTUAL_MIN_WIDTH, TIER_STRIDES

__all__ = [
    "explode_points",
    "rollup_points",
    "rollup_arrays",
    "rollup_batch",
    "doc_tier_structs",
    "window_rows",
    "point_windows",
    "tiered_rollups",
    "gapfill",
    "gapfill_locf",
    "contextual_width",
    "combined_window_scores",
    "series_stats",
]


def explode_points(tokens_df: DataFrame) -> DataFrame:
    """tokens table → dense point stream (doc_id, point_index, token).

    Equivalent of the reference's per-point rows keyed by series tag +
    point_index field (scripts/seed_influx.jl:589-596)."""
    return tokens_df.select(
        "doc_id",
        F.posexplode("tokens").alias("point_index", "token"),
    )


def rollup_points(points: DataFrame, stride: int, tier: int) -> DataFrame:
    """Aggregate a (doc_id, point_index, token) stream into tier windows.

    Deterministic reducers only (count/min/max/sum) so rolled-up points
    are exactly reproducible at any parallelism."""
    return (
        points.groupBy(
            "doc_id",
            F.floor(F.col("point_index") / F.lit(stride)).cast("long").alias("window_idx"),
        )
        .agg(
            F.count("token").alias("agg_count"),
            F.min("token").alias("agg_min"),
            F.max("token").alias("agg_max"),
            F.sum("token").alias("agg_sum"),
        )
        .withColumn("tier", F.lit(tier))
    )


_WINDOW_SCHEMA = (
    "doc_id string, window_idx long, agg_count long, "
    "agg_min int, agg_max int, agg_sum long, tier int"
)
_AGGS = ("agg_count", "agg_min", "agg_max", "agg_sum")
# tiers 1/2 at rest: one struct per doc and tier, element k of its
# arrays is window ``first_window_idx + k`` of the doc (plans.pipeline)
_TIER_STRUCT = (
    "struct<first_window_idx: bigint, agg_count: array<bigint>, "
    "agg_min: array<int>, agg_max: array<int>, agg_sum: array<bigint>>"
)


def _windows(tokens: pa.ListArray, stride: int, keep: int | None = None) -> tuple:
    """``(doc, window_idx, count, min, max, sum, has_nulls)`` numpy arrays,
    one entry per window of the token lists, doc-major.

    Window bounds come straight from the list offsets: doc ``d`` spans
    ``values[offsets[d]:offsets[d + 1]]`` and its window ``k`` is
    ``[start + k*stride, min(start + (k+1)*stride, end))``.  One
    ``reduceat`` per reducer runs over the interleaved ``[start, end)``
    pairs and keeps every other result, so gaps between docs (NULL
    arrays, sliced batches) are never summed into a window.  NULL and
    empty arrays yield no windows, like tier-0's ``n_tok > 0`` filter.
    NULL elements are skipped like SQL aggregates skip them: ``count``
    counts the present values, the other reducers run over them, and a
    window of NULLs alone has count 0 and the reducers' identities.
    Only a batch holding NULL elements pays for that masking.  ``keep``
    cuts each doc to its last ``keep`` windows (the retention keep-last
    horizon, operators.retention.retention_sweep) before any reduction
    runs; ``None`` keeps every window."""
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    valid = tokens.is_valid().to_numpy(zero_copy_only=False)
    starts, ends = offsets[:-1], offsets[1:]
    n_win = -(-np.where(valid, ends - starts, 0) // stride)
    doc = np.repeat(np.arange(len(tokens)), n_win)
    win_idx = np.arange(doc.size) - np.repeat(np.cumsum(n_win) - n_win, n_win)
    if keep is not None:
        cut = win_idx >= n_win[doc] - keep
        doc, win_idx = doc[cut], win_idx[cut]
    win_start = starts[doc] + win_idx * stride
    win_end = np.minimum(win_start + stride, ends[doc])
    bounds = np.empty(2 * doc.size, dtype=np.int64)
    bounds[0::2], bounds[1::2] = win_start, win_end
    # the last window ends where the values are cut, so its end index
    # (which may equal len(values), out of reduceat's range) is dropped
    values = tokens.values.slice(0, win_end.max(initial=0))
    bounds = bounds[:-1]
    count = win_end - win_start
    if values.null_count:
        # each reducer sees NULLs as its identity
        present = values.is_valid().to_numpy(zero_copy_only=False)
        count = np.add.reduceat(present, bounds, dtype=np.int64)[0::2]
        info = np.iinfo(values.type.to_pandas_dtype())
        lo, hi, total = (
            values.fill_null(v).to_numpy() for v in (info.max, info.min, 0)
        )
    else:
        lo = hi = total = values.to_numpy()
    return (
        doc,
        win_idx,
        count,
        np.minimum.reduceat(lo, bounds)[0::2],
        np.maximum.reduceat(hi, bounds)[0::2],
        np.add.reduceat(total, bounds, dtype=np.int64)[0::2],
        values.null_count > 0,
    )


def rollup_batch(
    batch: pa.RecordBatch, stride: int, tier: int, keep: int | None = None
) -> pa.RecordBatch:
    """``_WINDOW_SCHEMA`` rows of one ``(doc_id, tokens)`` Arrow batch, one
    per ``_windows`` window; a count-0 window has NULL aggregates."""
    doc, win_idx, count, lo, hi, total, nulls = _windows(batch.column(1), stride, keep)
    empty = count == 0 if nulls else None
    return pa.RecordBatch.from_arrays(
        [batch.column(0).take(doc), win_idx, count]
        + [pa.array(v, mask=empty) for v in (lo, hi, total)]
        + [np.full(doc.size, tier, dtype=np.int32)],
        names=[f.split()[0] for f in _WINDOW_SCHEMA.split(", ")],
    )


def doc_tier_structs(tokens: pa.ListArray) -> tuple[pa.StructArray, pa.StructArray]:
    """Tiers 1 and 2 of each token list, doc-major: element ``d`` of each
    ``_TIER_STRUCT`` array holds doc ``d``'s ``rollup_batch`` windows as
    list elements (empty lists for a doc without windows).  Tier 2 is
    reduced from the tier-1 partials (sum of counts, min of mins, max of
    maxes, sum of sums); a count-0 partial holds the reducers'
    identities, so it is exact."""
    doc, win_idx, count, lo, hi, total, nulls = _windows(tokens, TIER_STRIDES[1])
    tiers = []
    for tier in (1, 2):
        if tier == 2:
            first = np.flatnonzero(win_idx % (TIER_STRIDES[2] // TIER_STRIDES[1]) == 0)
            doc = doc[first]
            count, total = (np.add.reduceat(v, first) for v in (count, total))
            lo, hi = np.minimum.reduceat(lo, first), np.maximum.reduceat(hi, first)
        offsets = pa.array(np.searchsorted(doc, np.arange(len(tokens) + 1)).astype(np.int32))
        empty = count == 0 if nulls else None
        tiers.append(pa.StructArray.from_arrays(
            [pa.array(np.zeros(len(tokens), dtype=np.int64))]
            + [pa.ListArray.from_arrays(offsets, pa.array(count))]
            + [pa.ListArray.from_arrays(offsets, pa.array(v, mask=empty)) for v in (lo, hi, total)],
            names=["first_window_idx", *_AGGS],
        ))
    return tiers[0], tiers[1]


def window_rows(doc_tiers_df: DataFrame, *passthrough: str) -> DataFrame:
    """``_WINDOW_SCHEMA`` rows, then the ``passthrough`` columns, of
    doc-major tier rows (``doc_id``, ``tier`` and a ``_TIER_STRUCT``'s
    fields): element ``k`` of a row's arrays is window
    ``first_window_idx + k``."""
    return doc_tiers_df.select(
        "doc_id", "first_window_idx", "tier", *passthrough,
        F.posexplode(F.arrays_zip(*_AGGS)).alias("pos", "w"),
    ).select(
        "doc_id",
        (F.col("first_window_idx") + F.col("pos")).alias("window_idx"),
        *[F.col("w")[c].alias(c) for c in _AGGS],
        "tier",
        *passthrough,
    )


def rollup_arrays(
    tokens_df: DataFrame, stride: int, tier: int, keep: int | None = None
) -> DataFrame:
    """Shuffle-free tier rollup straight from the token arrays.

    A doc's points live in ONE row, so tier windows never cross rows and
    the whole rollup is a narrow per-row transform.  Stride 1 is a plain
    ``posexplode`` (the windows ARE the points).  Larger strides run
    ``rollup_batch`` as ``mapInArrow``: the token arrays reach Python as
    one values buffer plus offsets, never as per-doc objects, and every
    window is reduced by numpy ``reduceat``.  The plan is stateless, so
    the same call serves batch tables and append-mode streams.  Emits
    rows identical to ``rollup_points(explode_points(df), stride, tier)``
    (the point-stream path kept for sparse/deleted streams).  ``keep``
    emits only each doc's last ``keep`` windows, i.e. the rows
    ``retention_sweep`` keeps from them under ``{tier: keep}``.
    """
    if stride > 1:
        return tokens_df.select("doc_id", "tokens").mapInArrow(
            lambda batches: (rollup_batch(b, stride, tier, keep) for b in batches),
            _WINDOW_SCHEMA,
        )
    points = tokens_df.filter(F.col("n_tok") > 0).select(
        "doc_id", "n_tok", F.posexplode("tokens").alias("window_idx", "token")
    )
    if keep is not None:
        points = points.filter(F.col("window_idx") >= F.col("n_tok") - keep)
    return point_windows(points, tier)


def point_windows(points: DataFrame, tier: int, *passthrough: str) -> DataFrame:
    """Tier rows of one-point windows from ``(doc_id, window_idx, token)``
    rows, in ``_WINDOW_SCHEMA`` order followed by the ``passthrough``
    columns.  A NULL token gives a count-0 window with NULL aggregates."""
    token = F.col("token")
    return points.select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        token.isNotNull().cast("long").alias("agg_count"),
        token.alias("agg_min"),
        token.alias("agg_max"),
        token.cast("long").alias("agg_sum"),
        F.lit(tier).alias("tier"),
        *passthrough,
    )


def _expected_grid(tokens_df: DataFrame, stride: int) -> DataFrame:
    """One row per expected window: ceil(n_tok / stride) windows per doc
    (docs with n_tok == 0 have no expected windows)."""
    n_win = F.ceil(F.col("n_tok") / F.lit(stride)).cast("long")
    return (
        tokens_df.select("doc_id", n_win.alias("n_win"))
        .filter(F.col("n_win") > 0)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(0).cast("long"), F.col("n_win") - 1)).alias(
                "window_idx"
            ),
        )
    )


def gapfill(
    rollup: DataFrame, tokens_df: DataFrame, stride: int, tier: int
) -> DataFrame:
    """Left-join the expected window grid with actual rollup windows.

    Missing windows are emitted with agg_count=0 and NULL min/max/sum,
    gapfilled=true (the LOCF carry-forward is the separate, composable
    ``gapfill_locf`` operator).  Dense token arrays have no gaps by
    construction; gaps appear for sparse point streams (deletes,
    retention-expired segments)."""
    grid = _expected_grid(tokens_df, stride)
    joined = grid.join(rollup, ["doc_id", "window_idx"], "left")
    return joined.select(
        "doc_id",
        F.lit(tier).alias("tier"),
        "window_idx",
        F.coalesce(F.col("agg_count"), F.lit(0)).alias("agg_count"),
        "agg_min",
        "agg_max",
        "agg_sum",
        F.col("agg_count").isNull().alias("gapfilled"),
    )


def gapfill_locf(filled: DataFrame) -> DataFrame:
    """Carry the previous non-gap window's aggregates forward into gaps
    (last-observation-carried-forward), per doc in window order."""
    w = (
        Window.partitionBy("doc_id", "tier")
        .orderBy("window_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "doc_id",
        "tier",
        "window_idx",
        "agg_count",
        F.last("agg_min", ignorenulls=True).over(w).alias("agg_min"),
        F.last("agg_max", ignorenulls=True).over(w).alias("agg_max"),
        F.last("agg_sum", ignorenulls=True).over(w).alias("agg_sum"),
        "gapfilled",
    )


def tiered_rollups(tokens_df: DataFrame) -> dict[int, DataFrame]:
    """Full tier-0/1/2 rollup set from a tokens table, ``{tier:
    DataFrame}`` of ``rollup_arrays`` rows.

    tier-0 = stride 1 (raw points as windows), tier-1 = 8×, tier-2 = 64×.
    All tiers are shuffle-free ``rollup_arrays`` plans: tier-0 is the
    native posexplode (windows ARE the points); tiers 1/2 use the
    Arrow-vectorized ``reduceat`` path, which beat a JVM higher-order-
    function plan ~1.4× and explode+groupBy ~2× (no shuffle, no per-row
    Python).  Dense token arrays have no gaps, so no window is
    gap-filled; sparse point streams (deletes, retention-expired ranges)
    use ``rollup_points`` + ``gapfill`` instead."""
    return {tier: rollup_arrays(tokens_df, TIER_STRIDES[tier], tier) for tier in (0, 1, 2)}


def contextual_width(tokens_df: DataFrame) -> DataFrame:
    """Per-doc contextual value width over the full series.

    Reference update_value_width! (/root/reference/src/polyphonic/
    polyphonic_cluster_manager.jl:1063-1094): width = |mean(values >=
    mean) − mean(values <= mean)| clamped below by the reference's
    contextual_min_width (config.DEFAULT_CONTEXTUAL_MIN_WIDTH);
    degenerate width becomes 1.0.  All-native and per-row; the mean is
    materialized as a column BEFORE the half filters so the filter
    lambdas bind a row attribute — inlining the aggregate expression
    into the lambda re-evaluates it per array element (O(n²))."""
    toks = F.transform(F.col("tokens"), lambda t: t.cast("double"))
    staged = tokens_df.select("doc_id", toks.alias("vals")).withColumn(
        "data_mean",
        F.when(
            F.size("vals") > 0,
            F.aggregate("vals", F.lit(0.0), lambda a, x: a + x) / F.size("vals"),
        ).otherwise(F.lit(0.0)),
    )

    def half_mean(cmp):
        half = F.filter(F.col("vals"), cmp)
        return F.when(
            F.size(half) > 0,
            F.aggregate(half, F.lit(0.0), lambda a, x: a + x) / F.size(half),
        ).otherwise(F.lit(0.0))

    staged = staged.withColumn(
        "lower_half_avg", half_mean(lambda x: x <= F.col("data_mean"))
    ).withColumn("upper_half_avg", half_mean(lambda x: x >= F.col("data_mean")))
    delta = F.greatest(
        F.abs(F.col("upper_half_avg") - F.col("lower_half_avg")),
        F.lit(DEFAULT_CONTEXTUAL_MIN_WIDTH),
    )
    width = F.when(delta <= 0.0, F.lit(1.0)).otherwise(delta)
    return staged.select(
        "doc_id",
        F.round("data_mean", 6).alias("data_mean"),
        F.round("lower_half_avg", 6).alias("lower_half_avg"),
        F.round("upper_half_avg", 6).alias("upper_half_avg"),
        F.round(width, 6).alias("value_width"),
    )


def combined_window_scores(rollup_df: DataFrame) -> DataFrame:
    """normalize_scores + combine_complexity_metric_scores, relationally.

    The generation scorer's full pipeline (reference controller
    :2095-2156) over rollup windows: four per-doc min-max-normalized
    metrics — sum (complex when larger), count (smaller), max (larger),
    min (smaller) — each weighted by the unique-count reliability
    (0 / 0.2 / 1), combined as the reliability-weighted mean with unit
    metric weights.  Mirrors kernel.scoring exactly; all-native window
    functions (one shuffle on doc_id).

    Also emits the sum metric's own ``norm_score`` (the undirected
    min-max value; the degenerate all-equal case fills 0.5, like the
    reference's fill(0.5, ...), controller :2105-2109) and its
    ``reliability`` weight.  Expects dense windows (raw rollup or
    LOCF-filled): a NULL metric from un-filled gap rows would propagate
    to a NULL score."""
    w = Window.partitionBy("doc_id")

    def metric(col):
        c = F.col(col).cast("double")
        vmin = F.min(c).over(w)
        vmax = F.max(c).over(w)
        nuniq = F.size(F.collect_set(c).over(w))
        norm = F.when(vmax > vmin, (c - vmin) / (vmax - vmin)).otherwise(F.lit(0.5))
        rel = (
            F.when(nuniq <= 1, F.lit(0.0))
            .when(nuniq == 2, F.lit(0.2))
            .otherwise(F.lit(1.0))
        )
        return norm, rel

    d_norm, d_rel = metric("agg_sum")
    q_norm, q_rel = metric("agg_count")
    c_norm, c_rel = metric("agg_max")
    u_norm, u_rel = metric("agg_min")
    # count and min are complex when SMALLER: their direction flips
    scores = (
        d_norm * d_rel
        + (F.lit(1.0) - q_norm) * q_rel
        + c_norm * c_rel
        + (F.lit(1.0) - u_norm) * u_rel
    )
    denom = d_rel + q_rel + c_rel + u_rel
    combined = F.when(denom > 0.0, scores / denom).otherwise(F.lit(0.0))
    return rollup_df.select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        F.round(d_norm, 6).alias("norm_score"),
        d_rel.alias("reliability"),
        F.round(combined, 6).alias("combined_score"),
    )


def series_stats(tokens_df: DataFrame) -> DataFrame:
    """Per-series stats scan (reference _fetch_series_stats*,
    /root/reference/src/controllers/time_series_controller.jl:648-691):
    series list + point counts, computed without exploding (F.size)."""
    return tokens_df.select(
        "doc_id",
        "source",
        F.size("tokens").alias("point_count"),
    )
