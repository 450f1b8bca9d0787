"""Canonical string renderings for driver-hashable query outputs.

The driver's correctness canonicalizer hashes pandas frames and cannot
sort rows containing Python lists, so every query surfaces array columns
as deterministic strings:

* int arrays  → native ``array_join`` CSV (DuckDB twin:
  ``COALESCE(array_to_string(col, ','), '')``) — stays in codegen;
* double arrays → ``fmt_double_arr`` (Arrow-batched pandas_udf using
  Python ``repr``, the shortest round-trip rendering) so fixture oracles
  generated by the same Python code are bit-identical.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

__all__ = ["fmt_double_seq", "fmt_double_arr", "csv_int_arr"]


def fmt_double_seq(vals) -> str:
    """The one shared rendering for a sequence of doubles (used by both
    the Spark UDF below and fixture-oracle generation)."""
    return ",".join(repr(float(x)) for x in vals)


def _fmt(s: pd.Series) -> pd.Series:
    return s.map(fmt_double_seq)


def fmt_double_arr(col) -> F.Column:
    """Built per call, like ``codec_udfs.encode_tokens_udf``: a UDF
    object keeps the accumulator of the SparkContext it first ran under."""
    return F.pandas_udf(_fmt, StringType())(col)


def csv_int_arr(col) -> F.Column:
    """Native CSV rendering of an int array column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.transform(c, lambda x: x.cast("string")), ",")
