"""Retention / TTL enforcement over the tiered rollup layout.

The north rule's third leg (rollup + downsample + **retention**).
Reference analogue: InfluxDB retention-policy expiry (the reference's
``scripts/seed_influx.jl:152-177``).  Here retention is an explicit,
scalable engine operator:

* policy = per-tier ``keep_last`` horizon, in that tier's own windows,
  counted back from each series' newest window (per-doc ``window_idx``
  is the engine's time axis);
* ``retention_sweep`` → surviving window rows (the logical view);
  finding each doc's newest window takes an Exchange, a Sort and a
  Window over ``(doc_id, tier)`` (PLANS.md ``retention_plan``).  It is
  the oracle of the stored sweep, ``apply_retention``;
* ``retention_plan``  → per-(tier, doc, segment) ``drop`` / ``keep`` /
  ``rewrite`` action: with a date/bucket-partitioned layout, ``drop``
  segments are metadata-only partition drops and only boundary
  segments are rewritten, which is what keeps a 100 TB sweep cheap;
* ``apply_retention`` → sweeps the bucketed pipeline layout
  (plans.pipeline) per bucket: one scan of the bucket table, one narrow
  ``mapInArrow`` pass that keeps the tail of every list in each doc row
  (``_keep_tail`` over the decoded blob of tier 0 and the window arrays
  of tiers 1/2; no Exchange, Sort or Window), one write and one swap,
  with window and token counts from one ``Observation`` pair — and
  records the sweep in each bucket manifest.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..codecs import decode, encode
from ..plans.pipeline import _commit_manifest, _dir_bytes, _hidden_sibling, _manifest_path
from ..plans.pipeline import _write_encoded, swap_in_dir  # layout owner
from .rollup import _AGGS

__all__ = [
    "DEFAULT_RETENTION_POLICY",
    "with_expiry_flags",
    "retention_sweep",
    "retention_plan",
    "apply_retention",
]


# keep raw windows briefly, rolled-up tiers progressively longer —
# the classic downsample-and-expire ladder (tier0 raw / tier1 8x / tier2 64x)
DEFAULT_RETENTION_POLICY: dict[int, int] = {0: 64, 1: 16, 2: 8}


def _keep_last_expr(policy: dict[int, int]) -> F.Column:
    expr = F.lit(None).cast("long")
    for tier, keep in sorted(policy.items(), reverse=True):
        expr = F.when(F.col("tier") == tier, F.lit(int(keep))).otherwise(expr)
    return expr


def with_expiry_flags(rollup_df: DataFrame, policy: dict[int, int]) -> DataFrame:
    """Attach ``expired`` per row: window older than the tier horizon
    counted back from the doc's newest window of that tier.

    Rows from tiers absent from the policy are retained forever."""
    w = Window.partitionBy("doc_id", "tier")
    keep = _keep_last_expr(policy)
    horizon = F.max("window_idx").over(w) - keep + 1
    return rollup_df.withColumn(
        "expired",
        F.when(keep.isNull(), F.lit(False)).otherwise(F.col("window_idx") < horizon),
    )


def retention_sweep(rollup_df: DataFrame, policy: dict[int, int] | None = None) -> DataFrame:
    """Surviving rollup rows under the policy (the post-TTL logical view)."""
    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    return with_expiry_flags(rollup_df, pol).filter(~F.col("expired")).drop("expired")


def retention_plan(
    rollup_df: DataFrame,
    policy: dict[int, int] | None = None,
    segment_size: int = 8,
) -> DataFrame:
    """Segment-level sweep plan: (tier, doc_id, segment) → action.

    ``segment`` models the physical file/partition grain
    (``window_idx // segment_size``).  Fully-expired segments are
    ``drop`` (manifest-only delete at scale), untouched segments are
    ``keep``, and only boundary segments are ``rewrite`` — the plan IS
    the cost model: bytes rewritten ∝ number of ``rewrite`` rows."""
    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    flagged = with_expiry_flags(rollup_df, pol)
    seg = F.floor(F.col("window_idx") / F.lit(int(segment_size))).cast("long")
    agg = (
        flagged.groupBy("tier", "doc_id", seg.alias("segment"))
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.col("expired").cast("long")).alias("n_expired"),
        )
    )
    action = (
        F.when(F.col("n_expired") == 0, F.lit("keep"))
        .when(F.col("n_expired") == F.col("n_windows"), F.lit("drop"))
        .otherwise(F.lit("rewrite"))
    )
    return agg.select(
        "tier", "doc_id", "segment", "n_windows", "n_expired", action.alias("action")
    )


def _keep_tail(lists: pa.ListArray, keep: int) -> pa.ListArray:
    """The last ``keep`` elements of each list (a shorter list whole, a
    NULL list NULL): one ``take`` over the values."""
    offsets = lists.offsets.to_numpy().astype(np.int64)
    kept = np.minimum(np.diff(offsets), keep)
    ends = np.cumsum(kept)
    return pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], ends)).astype(np.int32)),
        lists.values.take(np.arange(kept.sum()) + np.repeat(offsets[1:] - ends, kept)),
        mask=lists.is_null(),
    )


def _sweep_batch(batch: pa.RecordBatch, policy: dict[int, int]) -> pa.RecordBatch:
    """A batch of stored bucket rows (plans.pipeline ``_STORED_ROW``) cut
    to the policy: each blob to its last ``policy[0]`` tokens, each tier
    struct's arrays to their last ``policy[t]`` windows with
    ``first_window_idx`` moved past the cut; a tier the policy omits
    stays whole.  ``n_before``/``n_after`` count each blob's stored
    tokens before and after its cut."""
    columns = dict(zip(batch.schema.names, batch.columns))
    lens = kept = np.zeros(len(batch), dtype=np.int64)
    if 0 in policy and "encoded" in columns:
        tokens = decode(columns["encoded"])
        lens = np.diff(tokens.offsets.to_numpy().astype(np.int64))
        kept = np.minimum(lens, policy[0])
        columns["encoded"] = encode(_keep_tail(tokens, policy[0]))
    for tier in (1, 2):
        if tier in policy:
            first, *aggs = columns[f"tier{tier}"].flatten()
            cut = np.maximum(np.diff(aggs[0].offsets.to_numpy()) - policy[tier], 0)
            columns[f"tier{tier}"] = pa.StructArray.from_arrays(
                [pa.array(first.to_numpy(zero_copy_only=False) + cut)]
                + [_keep_tail(a, policy[tier]) for a in aggs],
                names=["first_window_idx", *_AGGS],
            )
    return pa.RecordBatch.from_arrays(
        [*columns.values(), pa.array(lens), pa.array(kept)],
        names=[*columns, "n_before", "n_after"],
    )


def apply_retention(
    spark,
    base_dir: str,
    policy: dict[int, int] | None = None,
    buckets: list[int] | None = None,
) -> list[dict]:
    """Execute the sweep over the bucketed pipeline layout, bucket by
    bucket.

    Per bucket: one scan of the bucket table, one ``mapInArrow``
    (``_sweep_batch``) that cuts each row's blob to its last
    ``policy[0]`` tokens (without tier 0 in the policy, or without
    blobs, the raw archive stays whole) and its tier-1/2 arrays to their
    last ``policy[t]`` windows, one write (one file per 128 MiB swept,
    in doc_id order) and one swap; and a ``retention`` record (policy,
    per-tier windows before/after from one ``Observation`` pair, 0/0
    for a tier without windows, on-disk bytes of the swept table)
    appended to the bucket manifest."""
    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    with open(os.path.join(base_dir, "_ingest.json")) as f:
        n_buckets = json.load(f)["n_buckets"]
    todo = buckets if buckets is not None else range(n_buckets)

    results = []
    for bucket in todo:
        mpath = _manifest_path(base_dir, bucket)
        if not os.path.exists(mpath):
            continue
        record = {
            "bucket": bucket,
            "policy": {str(k): v for k, v in pol.items()},
            "tiers": {},
        }
        path = os.path.join(base_dir, "encoded", f"bucket={bucket}")
        record["bytes"] = {}
        if os.path.isdir(path):
            windows = [F.sum(F.size(f"tier{t}.agg_count")).alias(str(t)) for t in (1, 2)]
            tokens = [F.sum(c).alias(c) for c in ("n_before", "n_after")]
            before, after = Observation(), Observation()
            stored = spark.read.parquet(path).observe(before, *windows)
            counts = [StructField(name, LongType()) for name in ("n_before", "n_after")]
            swept = stored.mapInArrow(
                lambda batches: (_sweep_batch(b, pol) for b in batches),
                StructType(stored.schema.fields + counts),
            ).observe(after, *windows, *tokens)
            # one file per 128 MiB swept, its rows in doc_id order (sorted
            # doc_ids compress ~3x better); coalesce and sort stay inside
            # the task, so the sweep moves no row between tasks
            n_files = 1 + _dir_bytes(path) // (128 << 20)
            tmp = _hidden_sibling(path, "sweep_tmp")
            _write_encoded(
                swept.drop("n_before", "n_after").coalesce(n_files).sortWithinPartitions("doc_id"),
                tmp,
            )
            swap_in_dir(path, tmp)  # crash-recoverable, see swap_in_dir
            b, a = before.get, after.get
            pairs = {"0": (a["n_before"], a["n_after"])} if 0 in pol and "encoded" in stored.columns else {}
            pairs.update({str(t): (b[str(t)], a[str(t)]) for t in (1, 2) if t in pol})
            record["tiers"] = {k: {"rows_before": int(x or 0), "rows_after": int(y or 0)}
                               for k, (x, y) in pairs.items()}
            record["bytes"]["encoded"] = _dir_bytes(path)
        with open(mpath) as f:
            manifest = json.load(f)
        manifest.setdefault("retention", []).append(record)
        _commit_manifest(mpath, manifest)
        results.append(record)
    return results
