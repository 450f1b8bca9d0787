"""Distributed complexity-guided generation (scalar + polyphonic).

The reference serves one generation request at a time over HTTP
(/root/reference/src/controllers/time_series_controller.jl:2251-2331
scalar, :2761-4600 polyphonic); each request is inherently serial
step-to-step but requests are independent, so the Spark shape is a
requests DataFrame → the per-row shell ``_util.map_rows`` (one
``mapInPandas``): 10k generation requests fan out across executors with
no driver-side loop; an under-partitioned requests table is spread
round-robin.  Shell NULL rule: a request with a NULL field emits
nothing.  Polyphonic payloads travel as JSON strings (one column) so the
arbitrarily-nested request surface needs no Spark schema.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ._util import map_rows

__all__ = [
    "requests_df",
    "generate_tokens_distributed",
    "generate_polyphonic_distributed",
    "POLY_RECORD_COLS",
    "flatten_poly_result",
]

POLY_RECORD_COLS = [
    "request", "step", "stream", "notes", "vol", "brightness", "noise",
    "harmonicity", "attack", "decay_sustain", "release", "chord_range",
    "density", "sustain", "legato", "generated",
]


def flatten_poly_result(name: str, res: dict):
    """Flatten one generate_polyphonic result into POLY_RECORD_COLS
    tuples (notes as list[int]).  Shared by the distributed operator and
    the fixture oracle so the record layout can never drift between
    them."""
    base = res["initial_context_steps"]
    for step_idx, step in enumerate(res["results"]):
        for s_idx, st in enumerate(step):
            yield (
                name,
                step_idx,
                s_idx,
                [int(v) for v in st[0]],
                float(st[1]), float(st[2]), float(st[3]), float(st[4]),
                float(st[5]), float(st[6]), float(st[7]),
                int(st[8]),
                float(st[9]), float(st[10]), float(st[11]),
                step_idx >= base,
            )

REQUEST_SCHEMA = (
    "request string, first_elements array<int>, complexity_targets array<double>, "
    "merge_threshold_ratio double, range_min int, range_max int"
)
RESULT_SCHEMA = "request string, series array<int>"


def requests_df(spark: SparkSession, requests) -> DataFrame:
    """Build the requests table from (name, first, targets, mtr, lo, hi)
    tuples."""
    rows = [
        (
            str(name),
            [int(v) for v in first],
            [float(t) for t in targets],
            float(mtr),
            int(lo),
            int(hi),
        )
        for name, first, targets, mtr, lo, hi in requests
    ]
    return spark.createDataFrame(rows, REQUEST_SCHEMA)


def generate_tokens_distributed(spark_or_df, requests=None) -> DataFrame:
    """Run every generation request in parallel on executors.

    Accepts either (spark, request_tuples) or a prebuilt requests
    DataFrame.  One request per output row; per-request work runs in the
    per-row shell.
    """
    if requests is not None:
        df = requests_df(spark_or_df, requests)
    else:
        df = spark_or_df

    def make():
        from ..kernel.api import generate_tokens

        def fn(name, first, targets, mtr, lo, hi):
            result, _mgr = generate_tokens(
                [int(v) for v in first],
                [float(t) for t in targets],
                float(mtr),
                int(lo),
                int(hi),
            )
            yield name, [int(v) for v in result]

        return fn

    cols = (
        "request",
        "first_elements",
        "complexity_targets",
        "merge_threshold_ratio",
        "range_min",
        "range_max",
    )
    return map_rows(df, cols, make, RESULT_SCHEMA)


POLY_RESULT_SCHEMA = (
    "request string, step int, stream int, notes array<int>, vol double, "
    "brightness double, noise double, harmonicity double, attack double, "
    "decay_sustain double, release double, chord_range int, density double, "
    "sustain double, legato double, generated boolean"
)


def generate_polyphonic_distributed(spark: SparkSession, requests) -> DataFrame:
    """(name, payload_dict) requests → one row per (step, stream).

    Each executor task runs the full per-request orchestration
    (kernel.polygen.generate_polyphonic); rows carry the strict 12-field
    stream record flattened to typed columns plus a ``generated`` flag
    separating the echoed initial context from generated steps."""
    rows = [(str(name), json.dumps(payload)) for name, payload in requests]
    df = spark.createDataFrame(rows, "request string, payload string")

    def make():
        from ..kernel.polygen import generate_polyphonic

        def fn(name, payload):
            res = generate_polyphonic(json.loads(payload))
            yield from flatten_poly_result(name, res)

        return fn

    return map_rows(df, ("request", "payload"), make, POLY_RESULT_SCHEMA)
