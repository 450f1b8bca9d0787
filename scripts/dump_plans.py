#!/usr/bin/env python
"""Dump `.explain("formatted")` for the flagship queries into PLANS.md.

Plan-shape evidence for the 100 TB design review: pushed filters /
pruned schemas on parquet scans, broadcast vs shuffle join choices,
whole-stage-codegen spans, and the absence of cartesian products.

Usage:  python scripts/dump_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_QUERIES = [
    "rollup_tier2",
    "query_matches",
    "cluster_timeline",
    "lsh_dedup_pairs",
    "dedup_groups",
    "near_dup_embeddings",
    "ann_topk_ivf",
    "asof_join",
    "window_matches",
    "retention_plan",
    "text_stats",
    "chord_roughness",
    "ngram_jaccard",
    "bucketed_rollup_join",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or DEFAULT_QUERIES

    import __spark_entry__ as entry
    from tsc_spark.session import get_spark

    spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
    qs = entry.queries()
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Generated by `python scripts/dump_plans.py {sf_dir}` "
        "(Spark `.explain('formatted')`).  What to look for: "
        "`PushedFilters`/`ReadSchema` on every parquet scan (pushdown + "
        "pruning), `BroadcastHashJoin` only on genuinely small sides, "
        "no `CartesianProduct` anywhere, and wide `WholeStageCodegen` "
        "spans around the native expression work.",
        "",
    ]
    written = 0
    try:
        for name in names:
            if name not in qs:
                print(f"unknown query skipped: {name}", file=sys.stderr)
                continue
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out.append(f"## {name}\n\n```\n{buf.getvalue().rstrip()}\n```\n")
            written += 1
            if name == "bucketed_rollup_join":
                # the query returns a parquet snapshot of its result; the
                # join it snapshots reads the two bucketed tables it just
                # wrote, and that plan is the zero-Exchange evidence.
                # Broadcast is off for it: at gate scale both sides would
                # broadcast, which is not the corpus-scale plan
                key = "spark.sql.autoBroadcastJoinThreshold"
                prev = spark.conf.get(key)
                spark.conf.set(key, "-1")
                buf = io.StringIO()
                try:
                    with redirect_stdout(buf):
                        spark.table("tsc_bq_tokens").join(
                            spark.table("tsc_bq_rollup"), "doc_id"
                        ).explain("formatted")
                finally:
                    spark.conf.set(key, prev)
                out.append(
                    "## bucketed_rollup_join (the bucketed join before the "
                    "snapshot, broadcast off: SortMergeJoin, no Exchange)"
                    f"\n\n```\n{buf.getvalue().rstrip()}\n```\n"
                )
                written += 1
            if name == "dedup_groups":
                # at gate scale the CC hybrid finishes the small graph on
                # the driver, so the default plan is just an ExistingRDD
                # scan of the finished labels; force the distributed
                # pointer-jump loop too — THAT plan is the 100 TB path
                from tsc_spark.operators.dedup import _cc_round, dedup_components

                ddf = dedup_components(
                    qs["lsh_dedup_pairs"](spark, sf_dir), local_threshold=None
                )
                buf = io.StringIO()
                with redirect_stdout(buf):
                    ddf.explain("formatted")
                out.append(
                    "## dedup_groups (distributed pointer-jump CC, "
                    "`local_threshold=None` — the at-scale path)"
                    f"\n\n```\n{buf.getvalue().rstrip()}\n```\n"
                )
                written += 1
                # both full-query plans above end at an ExistingRDD scan
                # because every round materializes via localCheckpoint
                # (lineage truncation IS the design); the at-scale
                # evidence is the constant-size PER-ROUND job the loop
                # repeats O(log diameter) times — dump it directly
                lab = spark.createDataFrame(
                    [("a", "a"), ("b", "b")], "doc_id string, comp string"
                ).localCheckpoint()
                e2 = spark.createDataFrame(
                    [("a", "b"), ("b", "a"), ("a", "a"), ("b", "b")],
                    "src string, dst string",
                )
                buf = io.StringIO()
                with redirect_stdout(buf):
                    _cc_round(e2, lab).explain("formatted")
                out.append(
                    "## dedup_groups per-round body (`_cc_round`: "
                    "neighbor-min + double pointer jump — the "
                    "constant-size job repeated O(log diameter) times; "
                    "inputs are checkpointed RDDs at runtime)"
                    f"\n\n```\n{buf.getvalue().rstrip()}\n```\n"
                )
                written += 1
    finally:
        spark.stop()
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({written} queries)")


if __name__ == "__main__":
    main()
