"""The three benchmark workloads: inputs, operations and output checks.

Every input comes from ``sources.synth.synth_tokens_distributed`` with
the run's seed.  Doc lengths depend only on the doc index, so every seed
gives the same sizes and only the token values change.  Each workload
runs a fixed sequence of operations (one *cycle*) in a closed loop;
every operation's output is checked, outside its timed region.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from tsc_spark.codecs import decode_dod
from tsc_spark.config import TIER_STRIDES
from tsc_spark.kernel.api import analyse_tokens
from tsc_spark.kernel.matching import build_query_seed, match_series
from tsc_spark.operators.clustering import cluster_timeline
from tsc_spark.operators.matching import query_matches
from tsc_spark.operators.retention import DEFAULT_RETENTION_POLICY, apply_retention
from tsc_spark.operators.rollup import tiered_rollups
from tsc_spark.plans.pipeline import ingest, read_tier, run_pipeline
from tsc_spark.sources.synth import synth_tokens_distributed
from tsc_spark.streaming.rollup_stream import run_rollup_stream_with_retention

from .eventlog import PY_NODES, OpStats
from .host import dir_bytes
from .stats import median, percentile


@dataclass
class Inputs:
    """One generated input set, plus the expected values the checks use."""

    dir: str
    corpus_dir: str
    seed: int
    docs: int
    points: int = 0
    expected: dict = field(default_factory=dict)


@dataclass
class Op:
    """One timed call into the engine, and what its check found."""

    kind: str
    cycle: int
    points: int = 0
    seconds: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the whole process tree during the call
    error: str | None = None
    info: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return self.error is None


def _corpus(spark, n_docs: int, seed: int, files: int, path: str) -> None:
    synth_tokens_distributed(spark, n_docs, seed=seed, partitions=files).write.parquet(path)


def _window_sums(df, policy: dict[int, int] | None = None) -> dict:
    """Per tier: windows Σceil(n_tok/stride), and with ``policy`` the
    keep-last survivors Σmin(ceil(n_tok/stride), keep)."""
    cols = []
    for tier, stride in TIER_STRIDES.items():
        n_win = F.ceil(F.col("n_tok") / F.lit(stride))
        cols.append(F.sum(n_win).alias(f"windows{tier}"))
        if policy is not None:
            cols.append(F.sum(F.least(n_win, F.lit(policy[tier]))).alias(f"kept{tier}"))
    return df.agg(*cols).collect()[0].asDict()


class Workload:
    name = ""
    why = ""
    kinds: tuple[str, ...] = ()
    docs = 0
    warmup_cycles = 0  # untimed cycles before the measured loop

    def __init__(self, scale: float = 1.0):
        self.n_docs = max(int(self.docs * scale), 64)

    def generate(self, spark, out_dir: str, seed: int, cores: int) -> Inputs:
        raise NotImplementedError

    def expect(self, spark, inp: Inputs) -> None:
        """Fill ``inp.points`` and ``inp.expected`` (untimed)."""
        raise NotImplementedError

    def cycle(self, run, inp: Inputs, k: int) -> None:
        """Run one cycle of operations through ``run.op``."""
        raise NotImplementedError

    def stored_bytes(self, ops: list[Op], inp: Inputs) -> float:
        """On-disk bytes of the tables the workload stores."""
        return float(dir_bytes(inp.corpus_dir))

    def stage_metrics(self, ops: list[Op], inp: Inputs) -> dict[str, float]:
        """Per-operation throughputs and the layer spans the benchmark timed."""
        return {}

    def spark_layer_metrics(self, stats: dict[str, OpStats], inp: Inputs) -> dict[str, float]:
        """Layer figures derived from the event log of the traced cycles."""
        return {}


def _by_kind(ops: list[Op], kind: str) -> list[Op]:
    return [op for op in ops if op.kind == kind and op.ok]


def _rate(ops: list[Op], amount) -> float:
    """Median over ops of amount(op) per second."""
    return median([amount(op) / op.seconds for op in ops if op.seconds > 0])


# --------------------------------------------------------------- rollup_scan


class RollupScan(Workload):
    name = "rollup_scan"
    why = "read path: corpus scan and the two mapInPandas crossings of the tier rollups; the kernels do no work"
    kinds = ("rollup",)
    docs = 4_000
    warmup_cycles = 2  # the second pass still compiles

    def generate(self, spark, out_dir, seed, cores):
        corpus = os.path.join(out_dir, "corpus")
        _corpus(spark, self.n_docs, seed, 2 * cores, corpus)
        return Inputs(out_dir, corpus, seed, self.n_docs)

    def expect(self, spark, inp):
        df = spark.read.parquet(inp.corpus_dir)
        row = df.agg(
            F.sum("n_tok").alias("points"),
            F.sum(F.size("tokens")).alias("sizes"),
            # token sum through the JVM's own array aggregate, not the
            # rollup code under test
            F.sum(F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)).alias(
                "token_sum"
            ),
        ).collect()[0]
        inp.points = int(row["points"])
        inp.expected = {"token_sum": int(row["token_sum"]), "sizes": int(row["sizes"])}
        inp.expected.update(_window_sums(df))

    def cycle(self, run, inp, k):
        df = run.spark.read.parquet(inp.corpus_dir)

        def do():
            info = {}
            for tier, tdf in sorted(tiered_rollups(df).items()):
                t0 = time.perf_counter()
                # the aggregate is the sink: it forces every window of the
                # tier and yields the sums the check needs
                row = tdf.agg(F.count("*"), F.sum("agg_sum")).collect()[0]
                info[f"tier{tier}_s"] = time.perf_counter() - t0
                info[f"windows{tier}"] = int(row[0])
                info[f"sum{tier}"] = int(row[1] or 0)
            return info

        def check(info):
            exp = inp.expected
            problems = []
            if exp["sizes"] != inp.points:
                problems.append("n_tok disagrees with the token array sizes")
            for tier in TIER_STRIDES:
                if info[f"windows{tier}"] != exp[f"windows{tier}"]:
                    problems.append(
                        f"tier {tier}: {info[f'windows{tier}']} windows, "
                        f"expected {exp[f'windows{tier}']}"
                    )
                if info[f"sum{tier}"] != exp["token_sum"]:
                    problems.append(
                        f"tier {tier}: agg_sum total {info[f'sum{tier}']}, "
                        f"expected {exp['token_sum']}"
                    )
            return problems

        run.op("rollup", k, inp.points, do, check)

    def stage_metrics(self, ops, inp):
        rollups = _by_kind(ops, "rollup")
        out = {"rollup_points_per_s": _rate(rollups, lambda op: op.points)}
        for tier in TIER_STRIDES:
            out[f"rollup.tier{tier}_s"] = median([op.info[f"tier{tier}_s"] for op in rollups])
        return out

    def spark_layer_metrics(self, stats, inp):
        passes = [s for label, s in stats.items() if label.startswith("rollup:")]
        return _scan_counts(passes, per=1)


def _scan_counts(ops: list[OpStats], per: int) -> dict[str, float]:
    """Median over ops of file scans and Python crossings, per ``per`` units.
    Every file scan of these operations reads the corpus (or a bucket of it)."""
    scans, pys = [], []
    for op in ops:
        scans.append(sum(len(ex.scans) for ex in op.executions) / per)
        pys.append(sum(n in PY_NODES for ex in op.executions for n in ex.nodes) / per)
    return {"rollup.corpus_scans": median(scans), "rollup.py_stages": median(pys)}


# -------------------------------------------------------------- kernel_query


QUERY_LEN = 12
# an irregular window (like the uniform-token docs) keeps the matching cost
# similar from seed to seed; a ramp or motif query matches nearly every doc
# of its kind
QUERY_MIN_DISTINCT = 8


def _kernel_expect(docs: dict[str, list[int]], rng, n_short: int, n_long: int) -> dict:
    """Query drawn from ``docs``, a doc sample (short docs plus one long-tail
    doc), and the driver-side kernel results for the sample."""
    ids = sorted(docs)
    windows = [
        (d, s)
        for d in ids
        if len(docs[d]) <= 64
        for s in range(0, len(docs[d]) - QUERY_LEN + 1, QUERY_LEN)
        if len(set(docs[d][s : s + QUERY_LEN])) >= QUERY_MIN_DISTINCT
    ]
    qd, qs = windows[int(rng.integers(len(windows)))]
    query = docs[qd][qs : qs + QUERY_LEN]
    short = [d for d in ids if len(docs[d]) <= 64]
    long_ = [d for d in ids if 64 < len(docs[d]) <= 768]
    sample = list(rng.choice(short, min(n_short, len(short)), replace=False))
    sample += list(rng.choice(long_, min(n_long, len(long_)), replace=False)) if long_ else []
    sample = sorted(str(d) for d in sample)
    seed_mgr = build_query_seed(query)
    return {
        "query": query,
        "sample": sample,
        "timeline": {
            d: sorted((ws, cid, tuple(idx)) for ws, cid, idx in analyse_tokens(docs[d]).timeline())
            for d in sample
        },
        "matches": {d: sorted(match_series(seed_mgr, docs[d])[0]) for d in sample},
    }


def _timeline_rows(timeline_df, sample: list[str]) -> dict:
    """Row count and the sample docs' timelines, in one job."""
    row = timeline_df.agg(
        F.count("*"),
        F.collect_list(
            F.when(
                F.col("doc_id").isin(sample),
                F.struct("doc_id", "window_size", "cluster_id", "indices"),
            )
        ),
    ).collect()[0]
    got = {d: [] for d in sample}
    for r in row[1]:
        got[r["doc_id"]].append((r["window_size"], r["cluster_id"], tuple(r["indices"])))
    return {"rows": int(row[0]), "timeline": got}


def _match_rows(matches_df, sample: list[str]) -> dict:
    """Row count, matched-doc count and the sample docs' matches, in one job."""
    row = matches_df.agg(
        F.count("*"),
        F.countDistinct("doc_id"),
        F.collect_list(
            F.when(
                F.col("doc_id").isin(sample),
                F.struct("doc_id", "q_start", "db_start", "window_size"),
            )
        ),
    ).collect()[0]
    got = {d: [] for d in sample}
    for r in row[2]:
        got[r["doc_id"]].append((r["q_start"], r["db_start"], r["window_size"]))
    return {"rows": int(row[0]), "docs_matched": int(row[1]), "matches": got}


def _sample_problems(got: dict, exp: dict, key: str) -> list[str]:
    bad = [d for d in exp["sample"] if sorted(got[d]) != exp[key][d]]
    return [f"{key} differ from the driver-side kernel for {bad[:5]}"] if bad else []


class KernelQuery(Workload):
    name = "kernel_query"
    why = "Python-CPU-bound per-doc clustering and query-matching kernels over a long-tailed corpus; little rollup work"
    kinds = ("cluster", "match")
    docs = 128
    warmup_cycles = 1
    sample_short = 49
    sample_long = 1

    def generate(self, spark, out_dir, seed, cores):
        corpus = os.path.join(out_dir, "corpus")
        # one file, like a small at-rest table: auto_balance spreads it
        # over the cores with balance_for_kernel
        _corpus(spark, self.n_docs, seed, 1, corpus)
        return Inputs(out_dir, corpus, seed, self.n_docs)

    def expect(self, spark, inp):
        rows = spark.read.parquet(inp.corpus_dir).select("doc_id", "tokens").collect()
        docs = {r["doc_id"]: [int(t) for t in r["tokens"]] for r in rows}
        inp.points = sum(len(t) for t in docs.values())
        rng = np.random.default_rng([inp.seed, 1])
        inp.expected = _kernel_expect(docs, rng, self.sample_short, self.sample_long)

    def cycle(self, run, inp, k):
        df = run.spark.read.parquet(inp.corpus_dir)
        exp = inp.expected

        def do_cluster():
            return _timeline_rows(cluster_timeline(df), exp["sample"])

        def do_match():
            return _match_rows(query_matches(run.spark, df, exp["query"]), exp["sample"])

        def check(key):
            return lambda info: _sample_problems(info.pop(key), exp, key)

        if run.op("cluster", k, inp.points, do_cluster, check("timeline")):
            run.op("match", k, inp.points, do_match, check("matches"))

    def stage_metrics(self, ops, inp):
        clusters, matches = _by_kind(ops, "cluster"), _by_kind(ops, "match")
        return {
            "cluster_points_per_s": _rate(clusters, lambda op: op.points),
            "clustering.timeline_rows": median([op.info["rows"] for op in clusters]),
            "match_points_per_s": _rate(matches, lambda op: op.points),
            "matching.match_rows": median([op.info["rows"] for op in matches]),
            "matching.docs_matched_frac": median(
                [op.info["docs_matched"] / inp.docs for op in matches]
            ),
        }

    def spark_layer_metrics(self, stats, inp):
        clusters = [s for label, s in stats.items() if label.startswith("cluster:")]
        return {
            "clustering.balance_shuffle_bytes": median([s.shuffle_bytes for s in clusters]),
            "clustering.straggler_ratio": median([s.straggler_ratio() for s in clusters]),
        }


# ------------------------------------------------------------- ingest_retain


def _fingerprint(df) -> tuple[int, int]:
    """(rows, order-free hash total) over the rollup window columns."""
    h = F.xxhash64(
        "doc_id",
        F.col("window_idx").cast("long"),
        F.col("agg_count").cast("long"),
        F.col("agg_min").cast("int"),
        F.col("agg_max").cast("int"),
        F.col("agg_sum").cast("long"),
    )
    row = df.agg(F.count("*"), F.sum(h.cast("decimal(38,0)"))).collect()[0]
    return int(row[0]), int(row[1] or 0)


class IngestRetain(Workload):
    name = "ingest_retain"
    why = "write path: bucketed ingest, tier and DoD-encoded writes, retention rewrites and the streaming tier"
    kinds = ("ingest", "pipeline", "retention", "stream")
    docs = 600
    files = 4
    buckets = 1
    files_per_batch = 2
    # no untimed cycle: a pipeline run is a job launched into a fresh
    # session, so the first pass's plan compilation is part of its cost
    warmup_cycles = 0
    stream_tier = 1
    decode_sample = 20  # docs whose encoded tokens are decoded and compared

    def generate(self, spark, out_dir, seed, cores):
        corpus = os.path.join(out_dir, "corpus")
        # the same files feed the batch ingest and, one trigger at a
        # time, the stream
        _corpus(spark, self.n_docs, seed, self.files, corpus)
        return Inputs(out_dir, corpus, seed, self.n_docs)

    def expect(self, spark, inp):
        df = spark.read.parquet(inp.corpus_dir)
        row = df.agg(F.count("*"), F.sum("n_tok")).collect()[0]
        inp.points = int(row[1])
        exp = {"docs": int(row[0])}
        exp.update(_window_sums(df, DEFAULT_RETENTION_POLICY))
        ids = sorted(r["doc_id"] for r in df.select("doc_id").collect())
        rng = np.random.default_rng([inp.seed, 2])
        # a seeded sample that always holds one long-tail doc (every 64th)
        sample = {str(d) for d in rng.choice(ids, min(self.decode_sample, len(ids)), replace=False)}
        sample.add(ids[min(63, len(ids) - 1)])
        rows = df.where(F.col("doc_id").isin(sorted(sample))).select("doc_id", "tokens").collect()
        exp["tokens"] = {r["doc_id"]: [int(t) for t in r["tokens"]] for r in rows}
        inp.expected = exp

    def cycle(self, run, inp, k):
        spark = run.spark
        exp = inp.expected
        base = os.path.join(inp.dir, f"cycle{k}")
        bucketed = os.path.join(base, "tokens_bucketed")

        def do_ingest():
            ingest(spark, spark.read.parquet(inp.corpus_dir), base, self.buckets)
            return {}

        def check_ingest(info):
            n = spark.read.parquet(bucketed).count()
            return [] if n == exp["docs"] else [f"ingest wrote {n} docs, expected {exp['docs']}"]

        def do_pipeline():
            manifests = run_pipeline(spark, base, with_timeline=False, with_encoded=True)
            return {
                "bucket_s": [m["wall_seconds"] for m in manifests],
                "docs": sum(m["docs"] for m in manifests),
                "points": sum(m["points"] for m in manifests),
            }

        def check_pipeline(info):
            problems = []
            if (info["docs"], info["points"]) != (exp["docs"], inp.points):
                problems.append(
                    f"manifests record {info['docs']} docs / {info['points']} points, "
                    f"expected {exp['docs']} / {inp.points}"
                )
            enc = spark.read.parquet(os.path.join(base, "encoded"))
            decoded = {
                r["doc_id"]: decode_dod(bytes(r["encoded"])).tolist()
                for r in enc.where(F.col("doc_id").isin(list(exp["tokens"]))).collect()
            }
            bad = [d for d, toks in exp["tokens"].items() if decoded.get(d) != toks]
            if bad:
                problems.append(f"decoding {bad[:5]} does not give back their tokens")
            row = enc.agg(F.sum(F.length("encoded")), F.sum("n_tok")).collect()[0]
            info["bytes_per_token"] = row[0] / row[1]
            return problems

        def do_retention():
            records = apply_retention(spark, base)
            info = {}
            for tier in TIER_STRIDES:
                for field_ in ("rows_before", "rows_after"):
                    info[f"{field_}{tier}"] = sum(r["tiers"][str(tier)][field_] for r in records)
            return info

        def check_retention(info):
            problems = []
            for tier in TIER_STRIDES:
                for field_, key in (("rows_before", "windows"), ("rows_after", "kept")):
                    if info[f"{field_}{tier}"] != exp[f"{key}{tier}"]:
                        problems.append(
                            f"tier {tier} {field_} {info[f'{field_}{tier}']}, "
                            f"expected {exp[f'{key}{tier}']}"
                        )
            info["bytes_rewritten"] = dir_bytes(os.path.join(base, "rollup"))
            return problems

        def do_stream():
            run_rollup_stream_with_retention(
                spark,
                inp.corpus_dir,
                os.path.join(base, "sink"),
                os.path.join(base, "checkpoint"),
                tier=self.stream_tier,
                max_files=self.files_per_batch,
            )
            return {}

        def check_stream(info):
            batches = run.stream_batches(f"stream:{k}")
            info["batch_s"] = [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches]
            info["input_rows"] = sum(b["numInputRows"] for b in batches)
            sink = _fingerprint(spark.read.parquet(os.path.join(base, "sink")))
            batch = _fingerprint(read_tier(spark, base, self.stream_tier))
            info["sink_rows"] = sink[0]
            info["stored_bytes"] = dir_bytes(os.path.join(base, "rollup")) + dir_bytes(
                os.path.join(base, "encoded")
            )
            problems = []
            if sink != batch:
                problems.append(
                    f"stream sink {sink} differs from the batch retention sweep {batch}"
                )
            if info["input_rows"] != exp["docs"]:
                problems.append(f"stream read {info['input_rows']} docs, expected {exp['docs']}")
            return problems

        steps = (
            ("ingest", inp.points, do_ingest, check_ingest),
            ("pipeline", inp.points, do_pipeline, check_pipeline),
            ("retention", inp.points, do_retention, check_retention),
            ("stream", inp.points, do_stream, check_stream),
        )
        for kind, points, do, check in steps:
            if not run.op(kind, k, points, do, check):
                break
        shutil.rmtree(base, ignore_errors=True)

    def stage_metrics(self, ops, inp):
        ingests, pipes = _by_kind(ops, "ingest"), _by_kind(ops, "pipeline")
        rets, streams = _by_kind(ops, "retention"), _by_kind(ops, "stream")
        batch_s = [s for op in streams for s in op.info["batch_s"]]
        firsts = [op.info["batch_s"][: max(len(op.info["batch_s"]) // 4, 1)] for op in streams]
        lasts = [op.info["batch_s"][-max(len(op.info["batch_s"]) // 4, 1) :] for op in streams]
        bucket_s = [s for op in pipes for s in op.info["bucket_s"]]
        rows_before = lambda op: sum(op.info[f"rows_before{t}"] for t in TIER_STRIDES)  # noqa: E731
        # ingest and run_pipeline of the same cycle are one write pass
        ingest_s = {op.cycle: op.seconds for op in ingests}
        pipe_s = [ingest_s[op.cycle] + op.seconds for op in pipes]
        return {
            "pipeline_points_per_s": median([inp.points / s for s in pipe_s if s > 0]),
            "pipeline.ingest_s": median([op.seconds for op in ingests]),
            "pipeline.bucket_s.p50": median(bucket_s),
            "pipeline.bucket_s.max": max(bucket_s, default=0.0),
            "codec.bytes_per_token": median([op.info["bytes_per_token"] for op in pipes]),
            "retention_rows_per_s": _rate(rets, rows_before),
            "retention.sweep_s": median([op.seconds for op in rets]),
            "retention.rows_before": median([rows_before(op) for op in rets]),
            "retention.rows_after": median(
                [sum(op.info[f"rows_after{t}"] for t in TIER_STRIDES) for op in rets]
            ),
            "retention.bytes_rewritten": median([op.info["bytes_rewritten"] for op in rets]),
            "stream_points_per_s": _rate(streams, lambda op: op.points),
            "stream_batch_s.p50": percentile(batch_s, 50),
            "stream_batch_s.p75": percentile(batch_s, 75),
            "stream.batches": median([len(op.info["batch_s"]) for op in streams]),
            "stream.input_rows": median([op.info["input_rows"] for op in streams]),
            "stream.sink_rows": median([op.info["sink_rows"] for op in streams]),
            "stream.batch_s.max": max(batch_s, default=0.0),
            "stream.batch_growth": median(
                [median(b) / median(a) for a, b in zip(firsts, lasts) if median(a) > 0]
            ),
        }

    def stored_bytes(self, ops, inp):
        # tier and encoded tables after retention, measured each cycle
        return median([op.info["stored_bytes"] for op in _by_kind(ops, "stream")])

    def spark_layer_metrics(self, stats, inp):
        pipes = [s for label, s in stats.items() if label.startswith("pipeline:")]
        out = _scan_counts(pipes, per=self.buckets)

        def write_s(part: str) -> float:
            """Median over cycles of the wall time of executions writing ``part``."""
            return median(
                [sum(ex.seconds for ex in s.executions if any(part in w for w in ex.writes))
                 for s in pipes]
            )

        for tier in TIER_STRIDES:
            out[f"rollup.tier{tier}_s"] = write_s(f"/rollup/tier={tier}/")
        out["codec.encode_s"] = write_s("/encoded/")
        return out


WORKLOADS = {w.name: w for w in (RollupScan, KernelQuery, IngestRetain)}
