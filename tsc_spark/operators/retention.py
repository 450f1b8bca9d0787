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
  the oracle of ``keep_last``;
* ``retention_plan``  → per-(tier, doc, segment) ``drop`` / ``keep`` /
  ``rewrite`` action: with a date/bucket-partitioned layout, ``drop``
  segments are metadata-only partition drops and only boundary
  segments are rewritten, which is what keeps a 100 TB sweep cheap;
* ``keep_last`` → the same cut over the doc-major stored tiers: a
  ``slice`` per row, narrow (no Exchange, Sort or Window);
* ``apply_retention`` → sweeps the bucketed pipeline layout
  (plans.pipeline) per bucket — its tier 1/2 directory by ``keep_last``
  in one uncached pass, tier 0 (the DoD ``encoded`` table) in one narrow
  decode → tail → encode ``mapInArrow`` pass, row counts from
  ``Observation``s — and records the sweep in each bucket manifest.
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
from ..plans.pipeline import _TIER_STORE_SCHEMA, _write_encoded, swap_in_dir  # layout owner
from .rollup import _AGGS

__all__ = [
    "DEFAULT_RETENTION_POLICY",
    "with_expiry_flags",
    "retention_sweep",
    "retention_plan",
    "keep_last",
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


def keep_last(tiers_df: DataFrame, policy: dict[int, int]) -> DataFrame:
    """``retention_sweep`` over doc-major tier rows (``rollup.doc_tiers``
    with a ``tier`` of the policy): each row's window arrays are cut to
    their last ``keep`` elements and ``first_window_idx`` moves past the
    cut; a row left without windows is dropped, and the rows of a tier
    absent from the policy are kept whole.  Narrow per row."""
    n = F.size("agg_count")
    cut = F.greatest(n - F.coalesce(_keep_last_expr(policy), n), F.lit(0))
    return tiers_df.select(
        "doc_id",
        (F.col("first_window_idx") + cut).alias("first_window_idx"),
        *[F.slice(c, cut + 1, n - cut).alias(c) for c in _AGGS],
        "tier",
    ).filter(F.size("agg_count") > 0)


def _keep_tail(batch: pa.RecordBatch, keep: int) -> pa.RecordBatch:
    """An ``encoded`` batch with every blob cut to its last ``keep``
    tokens, plus each doc's stored token count before and after the cut."""
    tokens = decode(batch.column("encoded"))
    offsets = tokens.offsets.to_numpy().astype(np.int64)
    lens = np.diff(offsets)
    kept = np.minimum(lens, keep)
    tail = pa.ListArray.from_arrays(
        pa.array(np.concatenate(([0], np.cumsum(kept))).astype(np.int32)),
        tokens.values.take(np.arange(kept.sum()) + np.repeat(offsets[1:] - np.cumsum(kept), kept)),
        mask=tokens.is_null(),
    )
    names = batch.schema.names
    columns = [encode(tail) if name == "encoded" else col for name, col in zip(names, batch.columns)]
    return pa.RecordBatch.from_arrays(
        columns + [pa.array(lens), pa.array(kept)], names=names + ["n_before", "n_after"]
    )


def _trim_encoded(spark, path: str, tmp: str, keep: int) -> dict:
    """Cut every blob under ``path`` to its last ``keep`` tokens (written
    to ``tmp``, then swapped in); returns the tier-0 rows before/after."""
    stored = spark.read.parquet(path)
    counts = [StructField(name, LongType()) for name in ("n_before", "n_after")]
    counted = Observation()
    trimmed = stored.mapInArrow(
        lambda batches: (_keep_tail(b, keep) for b in batches),
        StructType(stored.schema.fields + counts),
    ).observe(counted, F.sum("n_before").alias("rows_before"), F.sum("n_after").alias("rows_after"))
    _write_encoded(trimmed.drop("n_before", "n_after"), tmp)
    swap_in_dir(path, tmp)  # crash-recoverable, see swap_in_dir
    return {k: int(v or 0) for k, v in counted.get.items()}


def apply_retention(
    spark,
    base_dir: str,
    policy: dict[int, int] | None = None,
    buckets: list[int] | None = None,
) -> list[dict]:
    """Execute the sweep over the bucketed pipeline layout, bucket by
    bucket.

    Per bucket: cut each ``encoded`` blob to its last ``policy[0]``
    tokens (``_trim_encoded``; without tier 0 in the policy the raw
    archive stays whole); ``keep_last`` the bucket's tier directory in
    one scan (a tier the policy omits is rewritten unchanged) and swap
    the survivors in (one file per tier and 128 MiB swept, in doc_id
    order); and append a ``retention`` record (policy, per-tier windows
    before/after from ``Observation``s, 0/0 for a tier without rows,
    on-disk bytes of every swept directory) to the bucket manifest."""
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
        encoded = os.path.join(base_dir, "encoded", f"bucket={bucket}")
        if 0 in pol and os.path.isdir(encoded):
            tmp = _hidden_sibling(encoded, "sweep_tmp")
            record["tiers"]["0"] = _trim_encoded(spark, encoded, tmp, pol[0])
        rollup = os.path.join(base_dir, "rollup", f"bucket={bucket}")
        tiers = [t for t in sorted(pol) if t > 0]
        if tiers and os.path.isdir(rollup):
            size = F.size("agg_count")
            counts = [F.sum(F.when(F.col("tier") == t, size)).alias(str(t)) for t in tiers]
            before, after = Observation(), Observation()
            # below rollup/, bucket is no partition (it reads NULL): keep_last drops it
            stored = spark.read.schema(_TIER_STORE_SCHEMA).parquet(rollup).observe(before, *counts)
            # one file per tier and 128 MiB swept, its rows in doc_id order
            # (sorted doc_ids compress ~3x better); coalesce and sort stay
            # inside the task, so the sweep moves no row between tasks, and
            # the tier-major order is the one partitionBy("tier") needs
            n_files = 1 + _dir_bytes(rollup) // (128 << 20)
            survivors = keep_last(stored, pol).observe(after, *counts)
            tmp = _hidden_sibling(rollup, "sweep_tmp")
            survivors = survivors.coalesce(n_files).sortWithinPartitions("tier", "doc_id")
            survivors.write.partitionBy("tier").mode("overwrite").parquet(tmp)
            swap_in_dir(rollup, tmp)  # crash-recoverable, see swap_in_dir
            windows = {k: (n, after.get[k]) for k, n in before.get.items()}
            record["tiers"].update({k: {"rows_before": int(b or 0), "rows_after": int(a or 0)}
                                    for k, (b, a) in windows.items()})
        swept = {"rollup": rollup, "encoded": encoded}
        record["bytes"] = {k: _dir_bytes(d) for k, d in swept.items() if os.path.isdir(d)}
        with open(mpath) as f:
            manifest = json.load(f)
        manifest.setdefault("retention", []).append(record)
        _commit_manifest(mpath, manifest)
        results.append(record)
    return results
