"""Resumable ingest → tier-0/1/2 pipeline with per-partition lineage.

The unit of work and of checkpointing is a **doc-hash bucket**:
``bucket = pmod(xxhash64(doc_id), n_buckets)``.  Ingest writes the corpus
once, hive-partitioned by bucket; every later stage reads a single
bucket directory (partition pruning — no re-scan of the other 100 TB /
n_buckets).  After a bucket's outputs are committed, a manifest JSON
records its lineage (doc_id range, doc/point counts, per-tier window
watermarks) and per-bucket metrics; a resumed run skips every bucket
with a manifest — the file-level equivalent of
``source LEFT ANTI JOIN done_partitions`` (SURVEY §2.3).

A bucket is stored as one table, ``encoded/bucket=b``, with one row per
doc (``_STORED_ROW``): the doc's delta-of-delta blob (always: it is the
only stored copy of the raw points), its
``codec_version``, ``n_tok`` and ``source``, plus a ``tier1`` and a
``tier2`` struct holding that tier's windows doc-major
(``operators.rollup.doc_tier_structs``: ``first_window_idx`` and the
window arrays).  One ``mapInArrow`` over the bucket scan emits the whole
row and one write stores it; retention cuts the blob and the arrays of
the same row in one pass (operators.retention).  Each raw value is
stored once: the blob is tier 0, and ``read_tier(spark, base, 0)``
rebuilds its rows; retention trims each blob to its last ``keep``
tokens while ``n_tok`` keeps the series length.  ``read_tier`` of tier
1 or 2 explodes that tier's struct back to ``rollup_arrays``' rows, the
rows the stream sink (streaming.rollup_stream) appends, so batch and
stream tier tables read with one schema.  The ``encoded`` column is
written without parquet column statistics: a min/max over DoD blobs
prunes nothing, and parquet-mr would store the largest whole blob in
every file footer.  Each manifest records the on-disk bytes of every
output directory the bucket wrote.

``_ingest.json`` stamps the layout version (``_LAYOUT_VERSION``);
``run_pipeline``, ``read_tier`` and ``operators.retention.apply_retention``
read it through ``_ingested_buckets``, which refuses a base dir of
another layout instead of misreading it.  No layout is migrated: an
older base dir is re-run through ``ingest`` and ``run_pipeline``.

At cluster scale, buckets map to independent jobs that can be retried /
scheduled separately; n_buckets is chosen so one bucket ≈ a few hundred
GB.  In the sandbox the same code runs with small buckets.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..codecs import encode
from ..codecs.deltadelta import CODEC_VERSION
from ..config import DEFAULT_MERGE_THRESHOLD_RATIO, TIER_STRIDES
from ..functions.codec_udfs import decode_tokens_table
from ..operators.clustering import cluster_timeline
from ..operators.rollup import _TIER_STRUCT, doc_tier_structs, point_windows, window_rows

__all__ = [
    "ingest", "run_pipeline", "read_tier", "swap_in_dir", "recover_swapped_dir",
    "pipeline_metrics",
]

# the layout ``ingest`` stamps in _ingest.json: one table per bucket
# whose rows hold the blob and tiers 1/2.  Version 1 was stamped both on
# base dirs whose tiers sit in other tables, which no reader here reads,
# and on the first dirs of this layout, so it is refused as a whole
_LAYOUT_VERSION = 2

# a bucket's stored row: the encoded columns, then tiers 1/2 doc-major
_STORED_ROW = (
    "doc_id string, encoded binary, codec_version int, n_tok int, source string, "
    f"tier1 {_TIER_STRUCT}, tier2 {_TIER_STRUCT}"
)


def _ingested_buckets(base_dir: str) -> int:
    """``n_buckets`` of an ingested base dir; raises ``ValueError`` when
    its ``_ingest.json`` stamps another layout than ``_LAYOUT_VERSION``."""
    with open(os.path.join(base_dir, "_ingest.json")) as f:
        meta = json.load(f)
    if meta.get("version") != _LAYOUT_VERSION:
        raise ValueError(
            f"{base_dir} holds layout version {meta.get('version')}, not "
            f"{_LAYOUT_VERSION}; re-run ingest and run_pipeline into a fresh base dir"
        )
    return meta["n_buckets"]


def _manifest_dir(base_dir: str) -> str:
    return os.path.join(base_dir, "_checkpoints")


def _manifest_path(base_dir: str, bucket: int) -> str:
    return os.path.join(_manifest_dir(base_dir), f"bucket={bucket:05d}.json")


def _dir_bytes(path: str) -> int:
    """On-disk bytes of the data files under ``path`` (Hadoop ``.crc``
    checksum files are not data and are skipped)."""
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _dirs, files in os.walk(path)
        for name in files
        if not name.endswith(".crc")
    )


def _write_encoded(encoded_df: DataFrame, path: str) -> None:
    """Write a bucket table without column statistics on the blobs
    (a per-column parquet-mr setting: ``doc_id`` keeps its own)."""
    encoded_df.write.mode("overwrite").option(
        "parquet.column.statistics.enabled#encoded", "false"
    ).parquet(path)


def _doc_rows(batch: pa.RecordBatch) -> pa.RecordBatch:
    """``_STORED_ROW`` rows of one ``(doc_id, tokens, n_tok, source)``
    batch."""
    tokens = batch.column("tokens")
    version = pa.array(np.full(len(batch), CODEC_VERSION, dtype=np.int32))
    return pa.RecordBatch.from_arrays(
        [batch.column("doc_id"), encode(tokens), version,
         batch.column("n_tok"), batch.column("source"), *doc_tier_structs(tokens)],
        names=["doc_id", "encoded", "codec_version", "n_tok", "source", "tier1", "tier2"],
    )


def _hidden_sibling(path: str, suffix: str) -> str:
    """The ``.``-prefixed sibling ``.<name>.<suffix>`` of ``path`` that
    names every sweep temp dir and swap backup: Spark's file index skips
    it at any depth, so a reader of the parent table never takes it for
    a partition (``_``-prefixed names are skipped only without ``=``,
    and ``bucket=0`` holds one)."""
    head, name = os.path.split(os.path.normpath(path))
    return os.path.join(head, f".{name}.{suffix}")


def recover_swapped_dir(path: str) -> None:
    """Crash recovery for ``swap_in_dir``: if a previous swap died
    between its two renames, ``path`` is missing and the backup holds
    the data — restore it.  A stale backup alongside an intact ``path``
    means the swap completed; drop it."""
    old = _hidden_sibling(path, "swap_old")
    if os.path.isdir(old):
        if not os.path.isdir(path):
            os.rename(old, path)  # the interrupted swap's data, restored
        else:
            shutil.rmtree(old)


def swap_in_dir(path: str, tmp: str) -> None:
    """Replace directory ``path`` with fully-written ``tmp`` via
    rename-to-backup + rename-in + drop-backup.

    Not truly atomic (POSIX has no two-directory exchange): a crash
    between the renames leaves ``path`` missing and the data in the
    backup — which ``recover_swapped_dir`` (called here on entry, and
    callable at startup) restores, so the failure mode is "sweep didn't
    happen", never data loss or a permanently wedged sink."""
    recover_swapped_dir(path)
    old = _hidden_sibling(path, "swap_old")
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _commit_manifest(mpath: str, manifest: dict) -> None:
    """Write ``manifest`` to ``mpath`` atomically (tmp file + rename)."""
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, mpath)


def ingest(
    spark: SparkSession,
    tokens_df: DataFrame,
    base_dir: str,
    n_buckets: int = 8,
) -> str:
    """One-pass bucketed ingest: corpus hive-partitioned by doc-hash.

    This is the only full scan of the raw corpus; all later stages are
    partition-pruned per bucket."""
    out = os.path.join(base_dir, "tokens_bucketed")
    # repartition by (bucket, doc_id) with >= cores partitions: keeps the
    # single full-corpus scan writing in parallel (repartition("bucket")
    # alone would cap write tasks at n_buckets — one task serializing a
    # whole bucket at the target bucket size of hundreds of GB) while
    # partitionBy still routes rows to their bucket directory
    write_parallelism = max(n_buckets, spark.sparkContext.defaultParallelism)
    (
        tokens_df.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
        )
        .repartition(write_parallelism, "bucket", "doc_id")
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(out)
    )
    meta = {"n_buckets": n_buckets, "version": _LAYOUT_VERSION}
    os.makedirs(base_dir, exist_ok=True)
    with open(os.path.join(base_dir, "_ingest.json"), "w") as f:
        json.dump(meta, f)
    return out


def _process_bucket(
    spark: SparkSession,
    base_dir: str,
    bucket: int,
    merge_threshold_ratio: float,
    with_timeline: bool,
) -> dict:
    t0 = time.time()
    # the blob and tiers 1/2 are in every bucket row, so only the
    # optional output is named
    outputs = ["timeline"] if with_timeline else []
    bucket_dir = os.path.join(base_dir, "tokens_bucketed", f"bucket={bucket}")
    # a hash-empty bucket (partitionBy only creates directories for
    # buckets that received docs) commits zero stats and no outputs, so
    # the run completes and resume doesn't retry it forever
    stats = {"docs": 0, "points": 0, "doc_min": None, "doc_max": None, "max_n_tok": 0}
    written = {}
    if os.path.isdir(bucket_dir):
        # manifest stats ride on the bucket scan: the Observation sits
        # below every operator's filters and is filled by the first
        # write, so no separate stats job re-reads it
        stats_obs = Observation()
        df = spark.read.parquet(bucket_dir).observe(
            stats_obs,
            F.count("*").alias("docs"),
            F.sum("n_tok").alias("points"),
            F.min("doc_id").alias("doc_min"),
            F.max("doc_id").alias("doc_max"),
            F.max("n_tok").alias("max_n_tok"),
        )
        # the whole stored row from one pass: the blob (tier 0) and tiers 1/2
        rows = df.select("doc_id", "tokens", F.col("n_tok").cast("int"), "source").mapInArrow(
            lambda batches: map(_doc_rows, batches), _STORED_ROW
        )
        written["encoded"] = os.path.join(base_dir, "encoded", f"bucket={bucket}")
        _write_encoded(rows, written["encoded"])
        stats = stats_obs.get
        if with_timeline:
            written["timeline"] = os.path.join(base_dir, "timeline", f"bucket={bucket}")
            cluster_timeline(df, merge_threshold_ratio).write.mode("overwrite").parquet(
                written["timeline"]
            )

    # every doc's windows run 0..ceil(n_tok/s)-1 with no gap, so the
    # per-tier watermark derives from max(n_tok) — no re-read of the
    # just-written parquet
    max_n_tok = int(stats["max_n_tok"] or 0)
    points = int(stats["points"] or 0)
    elapsed = time.time() - t0
    return {
        "bucket": bucket,
        "docs": int(stats["docs"]),
        "points": points,
        "doc_id_range": [stats["doc_min"], stats["doc_max"]],
        "watermarks": {
            f"tier{tier}_max_window_idx": -(-max_n_tok // stride) - 1
            for tier, stride in TIER_STRIDES.items()
        },
        "merge_threshold_ratio": merge_threshold_ratio,
        "outputs": outputs,
        "bytes": {name: _dir_bytes(path) for name, path in written.items()},
        "wall_seconds": round(elapsed, 3),
        "points_per_sec": round(points / elapsed, 1) if elapsed > 0 else None,
        "completed_at_epoch": time.time(),
    }


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    resume: bool = True,
    with_timeline: bool = True,
    with_encoded: bool = True,
    buckets: list[int] | None = None,
) -> list[dict]:
    """Process every (remaining) bucket; returns the manifests written.

    Every bucket row stores its raw tier: ``with_encoded`` accepts only
    ``True`` (the benchmark's call passes it) and ``False`` raises.
    ``resume=True`` skips buckets whose checkpoint manifest exists, so a
    killed run restarts without duplicate work."""
    if not with_encoded:
        raise ValueError("every bucket row stores its raw tier: with_encoded must be True")
    n_buckets = _ingested_buckets(base_dir)
    os.makedirs(_manifest_dir(base_dir), exist_ok=True)

    requested = {"timeline"} if with_timeline else set()
    todo = buckets if buckets is not None else range(n_buckets)
    written = []
    for bucket in todo:
        mpath = _manifest_path(base_dir, bucket)
        if resume and os.path.exists(mpath):
            # skip only when the earlier run produced every output this
            # run asks for (a with_timeline=False run's manifest must not
            # suppress the timeline a later with_timeline=True run wants)
            with open(mpath) as f:
                done = set(json.load(f)["outputs"])
            if requested <= done:
                continue
        else:
            done = set()
        # the bucket row table is rewritten whole; an earlier timeline
        # is left on disk as it was, so the union stays valid
        manifest = _process_bucket(spark, base_dir, bucket, merge_threshold_ratio, with_timeline)
        manifest["outputs"] = sorted(set(manifest["outputs"]) | done)
        _commit_manifest(mpath, manifest)  # manifest == bucket done
        written.append(manifest)
    return written


def read_tier(spark: SparkSession, base_dir: str, tier: int) -> DataFrame:
    """All buckets of one tier as ``tiered_rollups`` emits it
    (``rollup_arrays`` rows), plus the ``bucket`` partition column.

    Tiers 1/2 explode each doc's ``tier1``/``tier2`` struct
    (``window_rows``); the stored schema is passed, so the dtypes do not
    depend on the files, and a tier without windows reads as an empty
    table.  Tier 0 is rebuilt from the blobs
    by ``point_windows``: one row per decoded token, whose
    ``window_idx`` is its position plus ``n_tok - size(tokens)``, so a
    blob that retention cut to its tail keeps its indices.  A base dir
    of another layout raises ``ValueError`` (``_ingested_buckets``)."""
    _ingested_buckets(base_dir)
    stored = spark.read.schema(f"{_STORED_ROW}, bucket int").parquet(
        os.path.join(base_dir, "encoded")
    )
    if tier:
        tiers = stored.select("doc_id", f"tier{tier}.*", F.lit(tier).alias("tier"), "bucket")
        return window_rows(tiers, "bucket")
    decoded = decode_tokens_table(stored)
    points = decoded.select(
        "doc_id", "bucket", (F.col("n_tok") - F.size("tokens")).alias("offset"),
        F.posexplode("tokens").alias("pos", "token"),
    ).withColumn("window_idx", F.col("pos") + F.col("offset"))
    return point_windows(points, 0, "bucket")


def pipeline_metrics(base_dir: str) -> list[dict]:
    """All per-bucket manifests (lineage + metrics), bucket-ordered."""
    mdir = _manifest_dir(base_dir)
    out = []
    if not os.path.isdir(mdir):
        return out
    for name in sorted(os.listdir(mdir)):
        if name.endswith(".json"):
            with open(os.path.join(mdir, name)) as f:
                out.append(json.load(f))
    return out
