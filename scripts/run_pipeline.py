#!/usr/bin/env python
"""spark-submit entry point for the ingest → tier-0/1/2 pipeline.

Usage (cluster):
  spark-submit --py-files tsc_spark.zip scripts/run_pipeline.py \
      --input /data/tokens.parquet --base-dir /data/rollups \
      --buckets 256 [--resume] [--no-timeline] [--no-encoded]

Usage (sandbox smoke):
  python scripts/run_pipeline.py --synth-docs 10000 --base-dir /tmp/rollups

The pipeline is resumable: re-running with --resume skips every bucket
whose checkpoint manifest exists (plans.pipeline), so a preempted run
continues without duplicate work.  Per-bucket lineage + metrics land in
<base-dir>/_checkpoints/ and are printed as a summary on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="tokens parquet path or Iceberg catalog table")
    ap.add_argument("--input-format", default=None,
                    choices=["parquet", "iceberg", "table"],
                    help="force the --input format (default: infer — path "
                         "separators mean parquet, otherwise a catalog table)")
    ap.add_argument("--snapshot-id", type=int, default=None,
                    help="Iceberg time-travel: read this snapshot of --input")
    ap.add_argument("--as-of-timestamp", type=int, default=None,
                    help="Iceberg time-travel: read --input as of this epoch-"
                         "SECONDS instant (converted internally per path)")
    ap.add_argument("--synth-docs", type=int, default=0,
                    help="generate a deterministic synthetic corpus instead of --input")
    ap.add_argument("--base-dir", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--merge-threshold", type=float, default=0.3)
    ap.add_argument("--resume", action="store_true", default=True)
    ap.add_argument("--no-resume", dest="resume", action="store_false")
    ap.add_argument("--no-timeline", dest="timeline", action="store_false", default=True)
    ap.add_argument("--no-encoded", dest="encoded", action="store_false", default=True,
                    help="no raw tier: store no DoD blob, the only stored copy of "
                         "the raw points (tier 0), in the bucket rows")
    ap.add_argument("--retention", default=None, metavar="T0,T1,T2",
                    help="apply a TTL sweep after processing: per-tier keep-last "
                         "window counts, e.g. 64,16,8 (operators.retention)")
    ap.add_argument("--master", default=None,
                    help="override master (default: env SPARK_GRAFT_CPUS local)")
    args = ap.parse_args()

    from tsc_spark.config import processing_time_s
    from tsc_spark.plans.pipeline import ingest, pipeline_metrics, run_pipeline
    from tsc_spark.session import get_spark

    spark = get_spark("tsc_pipeline", master=args.master)
    t_run = time.time()
    # per-stage processing_time stamps — the reference stamps every compute
    # response with processingTime (time_series_controller.jl:2240,2320)
    stages: list[dict] = []
    try:
        if not os.path.exists(os.path.join(args.base_dir, "_ingest.json")):
            if args.synth_docs:
                from tsc_spark.sources.synth import synth_tokens_distributed

                tokens = synth_tokens_distributed(spark, args.synth_docs)
            elif args.input:
                from tsc_spark.sources.tokens import read_tokens

                tokens = read_tokens(
                    spark,
                    args.input,
                    fmt=args.input_format,
                    snapshot_id=args.snapshot_id,
                    as_of_timestamp=args.as_of_timestamp,
                )
            else:
                ap.error("one of --input / --synth-docs is required for a fresh run")
            t0 = time.time()
            ingest(spark, tokens, args.base_dir, n_buckets=args.buckets)
            stages.append({"stage": "ingest",
                           "processing_time": processing_time_s(t0)})

        t0 = time.time()
        written = run_pipeline(
            spark,
            args.base_dir,
            merge_threshold_ratio=args.merge_threshold,
            resume=args.resume,
            with_timeline=args.timeline,
            with_encoded=args.encoded,
        )
        stages.append({"stage": "rollup",
                       "processing_time": processing_time_s(t0)})
        retention_records = []
        if args.retention:
            from tsc_spark.operators.retention import apply_retention

            keeps = [int(v) for v in args.retention.split(",")]
            policy = {tier: keep for tier, keep in enumerate(keeps)}
            t0 = time.time()
            retention_records = apply_retention(spark, args.base_dir, policy)
            stages.append({"stage": "retention",
                           "processing_time": processing_time_s(t0)})

        all_manifests = pipeline_metrics(args.base_dir)
        done_points = sum(m["points"] for m in all_manifests)
        done_secs = sum(m["wall_seconds"] for m in all_manifests)
        print(json.dumps({
            "buckets_processed_now": len(written),
            "buckets_total_done": len(all_manifests),
            "points_total": done_points,
            "wall_seconds_total": round(done_secs, 3),
            "points_per_sec_aggregate": round(done_points / done_secs, 1) if done_secs else None,
            "retention_buckets_swept": len(retention_records),
            "stages": stages,
            "processingTime": processing_time_s(t_run),
        }))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
