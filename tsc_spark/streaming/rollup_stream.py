"""Structured Streaming tier: incremental token ingest → rollup.

The batch rollup operator (operators.rollup.rollup_arrays — posexplode
for tier-0, the Arrow ``reduceat`` crossing for tiers 1/2) is stateless
and narrow — windows live inside one row — so the exact same plan runs
under ``readStream`` with no watermark and no stateful operator: each
micro-batch's docs roll up independently and append to the tier sink.
Checkpointing gives exactly-once file-source progress, which is the
streaming twin of the batch pipeline's per-bucket manifests
(plans.pipeline).

For event-time data (the events table), ``windowed_event_counts`` shows
the watermarked tumbling-window aggregation shape: late rows beyond the
watermark are dropped, state is bounded.

Reference analogue: incremental point append `add_data_point_permanently!`
(/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:514-517) —
the reference re-clusters per appended point in memory; our streaming
tier appends whole docs per micro-batch and rolls them up incrementally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..config import TIER_STRIDES
from ..operators.rollup import rollup_arrays

__all__ = [
    "TOKENS_SCHEMA",
    "stream_tokens",
    "stream_rollup",
    "run_rollup_stream",
    "run_rollup_stream_with_retention",
    "windowed_event_counts",
]

TOKENS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType(), False), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False),
    ]
)


def stream_tokens(spark: SparkSession, src_dir: str, max_files: int = 64) -> DataFrame:
    """File-source token stream: picks up new parquet files per batch.

    ``maxFilesPerTrigger`` bounds micro-batch size (backpressure — the
    analogue of the reference's write-window throttle,
    /root/reference/scripts/seed_influx.jl:546-573)."""
    return (
        spark.readStream.schema(TOKENS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )


def stream_rollup(stream_df: DataFrame, tier: int) -> DataFrame:
    """Tier rollup of a token stream — the batch operator verbatim.

    Stateless narrow plan (``mapInArrow`` over ``rollup_batch`` for
    tiers 1/2) → append mode, no watermark, no state store; the rows
    equal the batch rollup of the same docs."""
    return rollup_arrays(stream_df, TIER_STRIDES[tier], tier)


def run_rollup_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    tier: int = 1,
) -> None:
    """Drain all currently-available files into the tier sink, exactly
    once across restarts (checkpointed file-source offsets), then stop.

    ``availableNow`` = incremental batch: repeated invocations process
    only files added since the last run — the streaming counterpart of
    the batch pipeline's resume-from-manifest."""
    q = (
        stream_rollup(stream_tokens(spark, src_dir), tier)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(
    events_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts over an event-time stream.

    Late events beyond the watermark are dropped and window state is
    evicted once the watermark passes — bounded state at any scale."""
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_rollup_stream_with_retention(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    tier: int = 1,
    policy: dict[int, int] | None = None,
    max_files: int = 64,
) -> None:
    """Streaming ingest → tier rollup → retention sweep per micro-batch.

    The north rule's retention leg in the streaming tier: each
    micro-batch rolls its docs up with the batch operator
    (operators.rollup.rollup_arrays), sweeps ``sink ∪ batch windows``
    with the TTL sweep (operators.retention.retention_sweep — per-doc
    keep-last horizon) into a tmp dir, and swaps that in as the new sink
    (retention.swap_in_dir, crash-recoverable): one write per
    micro-batch, and the sink never holds an unswept batch.  At cluster
    scale the sweep degenerates to partition drops over a
    window-partitioned sink (see retention_plan's drop/keep/rewrite
    split); the sandbox executor rewrites the whole tier, which is the
    same logical result.
    foreachBatch is at-least-once on retries, so the handler is made
    idempotent with a committed-batch marker: a replayed batch_id that
    already committed is skipped, and a batch that fails before its swap
    left the sink untouched, so its replay is exact.  The residual
    window — a crash between the swap and the marker write — replays a
    batch whose windows are already in the sink and duplicates them
    once; exactly-once needs a transactional sink.
    """
    import os

    from ..operators.retention import (
        DEFAULT_RETENTION_POLICY,
        recover_swapped_dir,
        retention_sweep,
        swap_in_dir,
    )

    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    marker = out_dir + ".last_batch"
    tmp = out_dir + ".sweep_tmp"
    recover_swapped_dir(out_dir)  # heal an interrupted swap from a crash

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(marker):
            with open(marker) as f:
                if int(f.read().strip() or -1) >= batch_id:
                    return  # replayed batch that already committed
        windows = rollup_arrays(batch_df, TIER_STRIDES[tier], tier)
        if os.path.isdir(out_dir):
            windows = spark.read.parquet(out_dir).unionByName(windows)
        retention_sweep(windows, pol).write.mode("overwrite").parquet(tmp)
        swap_in_dir(out_dir, tmp)
        mtmp = marker + ".tmp"
        with open(mtmp, "w") as f:
            f.write(str(batch_id))
        os.replace(mtmp, marker)

    q = (
        stream_tokens(spark, src_dir, max_files=max_files)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
