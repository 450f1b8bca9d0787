"""Structured Streaming tier: incremental token ingest → rollup → sink.

The batch rollup operator (operators.rollup.rollup_arrays — posexplode
for tier-0, the Arrow ``reduceat`` crossing for tiers 1/2) is stateless
and narrow — windows live inside one row — so the exact same plan runs
under ``readStream`` with no watermark and no stateful operator.  The
retention keep-last cut is applied inside that rollup (``keep``), so
each micro-batch's docs are rolled up, cut to their tier horizon and
appended to a parquet sink once: no re-read of the sink, no shuffle.
The checkpoint plus the sink's ``_spark_metadata`` log make the append
exactly-once — the streaming twin of the batch pipeline's per-bucket
manifests (plans.pipeline).

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
from ..operators.retention import DEFAULT_RETENTION_POLICY
from ..operators.rollup import rollup_arrays

__all__ = [
    "TOKENS_SCHEMA",
    "stream_tokens",
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
    """Drain every available source file into the tier sink, then stop.

    Each micro-batch runs the batch rollup with the tier's keep-last cut
    (``rollup_arrays(..., keep=policy[tier])``) and appends the result
    to a parquet sink; a tier absent from ``policy`` is kept whole
    (as in retention.with_expiry_flags), so ``policy={}`` is the plain
    tier stream.  ``availableNow`` makes this an incremental batch:
    repeated invocations process only files added since the last run.

    Exactly-once: the checkpoint replays an uncommitted batch, and the
    file sink skips any batch id its ``_spark_metadata`` log already
    holds; reads list only committed files.

    Contract: the cut is per arrival.  A doc's windows are cut within
    the micro-batch that carries its token row, and the sink is never
    re-swept, so the sink equals ``retention_sweep`` of the batch tier
    when each doc_id arrives once.  A doc_id that arrives again in a
    later micro-batch is a new arrival: the sink holds each arrival's
    keep-last windows, once per arrival.
    """
    pol = DEFAULT_RETENTION_POLICY if policy is None else policy
    q = (
        rollup_arrays(
            stream_tokens(spark, src_dir, max_files=max_files),
            TIER_STRIDES[tier],
            tier,
            pol.get(tier),
        )
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
