"""Runs one workload: set-up, the measured closed loop, the optional
traced phase, and the summary the command prints.

One client, closed loop: each operation is submitted only after the
previous one returned.  Spark runs on ``local[<host cores>]``.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from tsc_spark.config import ARROW_MAX_RECORDS_PER_BATCH
from tsc_spark.session import get_spark
from tsc_spark.sources.synth import synth_tokens_distributed

from . import eventlog
from .host import RssSampler, descendants, host_cores, tree_cpu_s, versions, wait_for_exit
from .metrics import END_TO_END, NAMED, PER_LAYER
from .stats import median, timing_summary
from .workloads import WORKLOADS, Inputs, Op, Workload

SETUP_REPEATS = 3
PROBE_ROWS = 10_000_000
LABEL_PREFIX = "tsbench:"


class StreamListener(StreamingQueryListener):
    """Collects micro-batch progress per query run, keyed by the
    operation that started the query."""

    def __init__(self):
        super().__init__()
        self.label: str | None = None
        self.run_label: dict[str, str] = {}
        self.progress: dict[str, list[dict]] = {}
        self._ended: dict[str, threading.Event] = {}

    def onQueryStarted(self, event):
        run_id = str(event.runId)
        self.run_label[run_id] = self.label or ""
        self.progress[run_id] = []
        self._ended.setdefault(run_id, threading.Event())

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        self.progress.setdefault(p["runId"], []).append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self._ended.setdefault(str(event.runId), threading.Event()).set()

    def batches(self, label: str, timeout_s: float = 30.0) -> list[dict]:
        """Progress of every query the operation ``label`` ran, once each has ended."""
        out = []
        for run_id, lab in list(self.run_label.items()):
            if lab == label:
                self._ended[run_id].wait(timeout_s)
                out.extend(self.progress[run_id])
        return out


@dataclass
class Setup:
    start_s: float
    warmup_s: float
    generate_s: float

    @property
    def total_s(self) -> float:
        return self.start_s + self.warmup_s + self.generate_s


class Runner:
    """Times calls into the engine and records every operation."""

    def __init__(self, spark: SparkSession, listener: StreamListener):
        self.spark = spark
        self.listener = listener
        self.ops: list[Op] = []

    def op(self, kind: str, k: int, points: int, do, check) -> bool:
        """Run ``do`` timed, then ``check`` on its result; record an Op.
        Returns whether the operation succeeded and its output is correct."""
        sc = self.spark.sparkContext
        op = Op(kind, k, points)
        self.listener.label = f"{kind}:{k}"
        sc.setJobDescription(f"{LABEL_PREFIX}{kind}:{k}")
        c0, t0 = tree_cpu_s(), time.perf_counter()
        try:
            op.info = do()
            op.seconds = time.perf_counter() - t0
            op.cpu_s = tree_cpu_s() - c0
            sc.setJobDescription(f"{LABEL_PREFIX}check-{kind}:{k}")
            problems = check(op.info)
            if problems:
                op.error = "; ".join(problems)
        except Exception:  # a failed call is a failed operation, never a crash
            op.seconds = time.perf_counter() - t0
            op.error = traceback.format_exc(limit=3)
        finally:
            sc.setJobDescription(None)
            self.listener.label = None
        self.ops.append(op)
        return op.ok

    def stream_batches(self, label: str) -> list[dict]:
        return self.listener.batches(label)


@dataclass
class Result:
    workload: Workload
    seed: int
    cores: int
    inputs: Inputs
    setups: list[Setup]
    probe_mrows_per_s: float
    ops: list[Op]  # warm-up, measured and baseline cycles of the untraced phase
    measured_cycles: list[int]
    peak_rss_bytes: int
    baseline_cycle: int | None = None  # untraced cycle the traced ones are compared with
    traced_ops: list[Op] = field(default_factory=list)
    spark_ops: dict = field(default_factory=dict)
    parse_s: float = 0.0

    @property
    def attempted(self) -> int:
        return len(self.ops) + len(self.traced_ops)

    @property
    def failed(self) -> int:
        return sum(not op.ok for op in self.ops + self.traced_ops)


def _spark_conf(work: str, event_dir: str | None) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                # the default zstd codec needs the zstandard module to read back
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_dir,
            }
        )
    return conf


def start_session(cores: int, work: str, event_dir: str | None = None):
    """The engine's SparkSession; the first call launches the JVM.  With
    ``event_dir`` a running session is stopped first, so that the new one
    writes an event log."""
    if event_dir is not None:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    spark = get_spark(
        "tsbench", master=f"local[{cores}]", extra_conf=_spark_conf(work, event_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def attach_listener(spark) -> StreamListener:
    listener = StreamListener()
    spark.streams.addListener(listener)
    return listener


def shutdown() -> None:
    """Stop Spark, end the JVM and wait for it and every Python worker."""
    from pyspark import SparkContext

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    children = descendants()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_for_exit(children)


def _warmup(spark) -> None:
    """Start the Python workers and compile the scan path: one small job
    through the synthetic source."""
    synth_tokens_distributed(spark, 256, seed=0).agg(F.sum("n_tok")).collect()


def _probe(spark) -> float:
    """Host speed for context, in Mrows/s of sum(sqrt(id)) on all cores."""
    t0 = time.perf_counter()
    spark.range(PROBE_ROWS).select(F.sum(F.sqrt("id"))).collect()
    return PROBE_ROWS / (time.perf_counter() - t0) / 1e6


def _loop(wl: Workload, run: Runner, inp: Inputs, seconds: float, first: int) -> list[int]:
    """Measured closed loop: cycles until the next would overrun ``seconds``
    (at least one).  Returns the measured cycle numbers."""
    cycles: list[int] = []
    t_start = time.perf_counter()
    k = first
    while True:
        t0 = time.perf_counter()
        wl.cycle(run, inp, k)
        cycles.append(k)
        k += 1
        last = time.perf_counter() - t0
        if time.perf_counter() - t_start + last > seconds:
            return cycles


def run_workload(
    name: str,
    seed: int,
    seconds: float,
    trace: bool,
    work: str,
    scale: float = 1.0,
) -> Result:
    wl = WORKLOADS[name](scale)
    cores = host_cores()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        # set-up repeated SETUP_REPEATS times; the first get_spark launches
        # the JVM, later ones return the running session
        setups: list[Setup] = []
        inp = None
        for i in range(SETUP_REPEATS):
            if inp is not None:
                shutil.rmtree(inp.dir, ignore_errors=True)
            t0 = time.perf_counter()
            spark = start_session(cores, work)
            t1 = time.perf_counter()
            _warmup(spark)
            t2 = time.perf_counter()
            inp = wl.generate(spark, os.path.join(work, f"inputs{i}"), seed, cores)
            setups.append(Setup(t1 - t0, t2 - t1, time.perf_counter() - t2))
        # host speed is context for the per-layer figures only
        probe = _probe(spark) if trace else 0.0
        wl.expect(spark, inp)
        listener = attach_listener(spark)

        run = Runner(spark, listener)
        with RssSampler() as rss:
            for k in range(wl.warmup_cycles):
                wl.cycle(run, inp, k)
            cycles = _loop(wl, run, inp, seconds, wl.warmup_cycles)
        result = Result(wl, seed, cores, inp, setups, probe, run.ops, cycles, rss.peak_bytes)

        if trace:
            # one more untraced cycle right before the traced ones: the
            # measured cycles may be cold, the traced ones run in a warm JVM
            result.baseline_cycle = cycles[-1] + 1
            wl.cycle(run, inp, result.baseline_cycle)
            event_dir = os.path.join(work, "eventlog")
            spark = start_session(cores, work, event_dir)
            listener = attach_listener(spark)
            _warmup(spark)
            traced = Runner(spark, listener)
            _loop(wl, traced, inp, seconds, result.baseline_cycle + 1)
            result.traced_ops = traced.ops
            run_label = dict(listener.run_label)
            spark.stop()  # closes the event log
            t0 = time.perf_counter()

            def label_of(desc: str) -> str | None:
                if desc.startswith(LABEL_PREFIX):
                    return desc[len(LABEL_PREFIX):]
                for run_id, lab in run_label.items():
                    if run_id in desc:
                        return lab
                return None

            result.spark_ops = eventlog.summarize(eventlog.iter_events(event_dir), label_of)
            result.parse_s = time.perf_counter() - t0
        return result
    finally:
        shutdown()


# ------------------------------------------------------------------- summary


def _cycle_seconds(ops: list[Op], cycles: list[int], kinds, cpu: bool = False) -> list[float]:
    """Wall (or CPU) seconds of every cycle whose operations all succeeded."""
    out = []
    for k in cycles:
        done = [op for op in ops if op.cycle == k]
        if len(done) == len(kinds) and all(op.ok for op in done):
            out.append(sum(op.cpu_s if cpu else op.seconds for op in done))
    return out


def figures(r: Result) -> dict[str, dict]:
    """Every end-to-end figure of the run, each {value, unit, n}: the
    whole-cycle throughput, set-up, memory, stored bytes, failures, and
    the per-operation figures of NAMED that this workload runs."""
    measured = [op for op in r.ops if op.cycle in r.measured_cycles]
    ok = [op for op in measured if op.ok]
    cycle_s = _cycle_seconds(measured, r.measured_cycles, r.workload.kinds)
    cycle_cpu_s = _cycle_seconds(measured, r.measured_cycles, r.workload.kinds, cpu=True)
    values = {
        "points_per_s": ("points/s", median([r.inputs.points / s for s in cycle_s]), len(cycle_s)),
        "points_per_cpu_s": (
            "points/cpu-s", median([r.inputs.points / s for s in cycle_cpu_s if s > 0]), len(cycle_cpu_s)
        ),
        "setup_s": ("s", median([s.total_s for s in r.setups]), len(r.setups)),
        "peak_rss_mb": ("MB", r.peak_rss_bytes / 2**20, 1),
        "stored_bytes_per_point": (
            "bytes", r.workload.stored_bytes(ok, r.inputs) / r.inputs.points, 1
        ),
        "op_failure_rate": ("ratio", r.failed / r.attempted if r.attempted else 0.0, r.attempted),
    }
    stage = r.workload.stage_metrics(ok, r.inputs)
    for name, (unit, kind) in NAMED.items():
        if kind not in r.workload.kinds:
            continue
        runs = [op for op in ok if op.kind == kind]
        n = sum(len(op.info["batch_s"]) for op in runs) if name.startswith("stream_batch_s") else len(runs)
        values[name] = (unit, stage[name], n)
    return {name: {"value": float(v), "unit": unit, "n": n} for name, (unit, v, n) in values.items()}


def end_to_end(fig: dict[str, dict]) -> dict[str, dict]:
    """The gated metrics of BENCHMARK.json, out of ``figures``."""
    return {name: fig[name] for name in END_TO_END}


def per_layer(r: Result) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not run reports 0."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    s = r.setups
    out["session.jvm_launch_s"] = s[0].start_s
    out["session.start_s"] = median([x.start_s for x in s])
    out["session.warmup_s"] = median([x.warmup_s for x in s])
    out["inputs.generate_s"] = median([x.generate_s for x in s])
    out["host.probe_mrows_per_s"] = r.probe_mrows_per_s
    measured = [op for op in r.ops if op.cycle in r.measured_cycles]
    out.update(r.workload.stage_metrics(measured, r.inputs))
    out["op_failure_rate"] = r.failed / r.attempted if r.attempted else 0.0
    if r.spark_ops:
        cycles = sorted({op.cycle for op in r.traced_ops})
        per_cycle = [
            eventlog.spark_metrics(
                [st for label, st in r.spark_ops.items() if label.endswith(f":{k}")
                 and not label.startswith("check-")]
            )
            for k in cycles
        ]
        for name in per_cycle[0] if per_cycle else ():
            out[name] = median([m[name] for m in per_cycle])
        out.update(r.workload.spark_layer_metrics(r.spark_ops, r.inputs))
        untraced = _cycle_seconds(r.ops, [r.baseline_cycle], r.workload.kinds)
        traced = _cycle_seconds(r.traced_ops, cycles, r.workload.kinds)
        out["trace.untraced_cycle_s"] = median(untraced)
        out["trace.traced_cycle_s"] = median(traced)
        if out["trace.untraced_cycle_s"] > 0:
            out["trace.overhead_frac"] = out["trace.traced_cycle_s"] / out["trace.untraced_cycle_s"] - 1
        out["trace.parse_s"] = r.parse_s
    return {k: float(v) for k, v in out.items()}


def report(r: Result, fig: dict, layers: dict | None) -> dict:
    """Everything a reader needs to interpret the run (printed before the result line)."""
    spark = r.spark_ops
    return {
        "workload": r.workload.name,
        "why": r.workload.why,
        "seed": r.seed,
        "cores": r.cores,
        "master": f"local[{r.cores}]",
        "loop": "closed, 1 client",
        "inputs": {"docs": r.inputs.docs, "points": r.inputs.points},
        "versions": versions(),
        "arrow_max_records_per_batch": ARROW_MAX_RECORDS_PER_BATCH,
        "setups": [dict(vars(x), total_s=x.total_s) for x in r.setups],
        "host_probe_mrows_per_s": r.probe_mrows_per_s,
        "end_to_end": fig,
        "attempted": r.attempted,
        "failed": r.failed,
        "failures": [f"{op.kind}:{op.cycle}: {op.error}" for op in r.ops + r.traced_ops if not op.ok],
        "op_seconds": {
            kind: timing_summary(
                [op.seconds for op in r.ops if op.kind == kind and op.ok
                 and op.cycle in r.measured_cycles]
            )
            for kind in r.workload.kinds
        },
        "per_layer": layers,
        "spark_by_op": (
            {label: eventlog.spark_metrics([st]) for label, st in sorted(spark.items())}
            if spark else None
        ),
    }
