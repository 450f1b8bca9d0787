"""Arrow codec UDFs (array<int> ↔ binary) over the batch DoD codec.

Each is a scalar ``arrow_udf``: a column crosses the JVM↔Python boundary
as one Arrow array per batch (an ``ArrowEvalPython`` plan node) and
``tsc_spark.codecs.encode``/``decode`` transform the whole array in one
vectorized pass — no per-doc Python, no pandas. A NULL doc stays NULL, and
so does a NULL token element."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, BinaryType, IntegerType

from ..codecs import decode, encode
from ..codecs.deltadelta import CODEC_VERSION

__all__ = [
    "encode_tokens_udf",
    "decode_tokens_udf",
    "decode_tokens_table",
]


def _encode(tokens: pa.Array) -> pa.Array:
    return encode(tokens)


def _decode(blob: pa.Array) -> pa.Array:
    return decode(blob).cast(pa.list_(pa.int32()))


# built per call: a UDF object keeps the accumulator of the SparkContext
# it first ran under, and each task of a later context fails to update it
def encode_tokens_udf(col) -> Column:
    return arrow_udf(_encode, BinaryType())(col)


def decode_tokens_udf(col) -> Column:
    return arrow_udf(_decode, ArrayType(IntegerType()))(col)


def decode_tokens_table(encoded_df: DataFrame) -> DataFrame:
    """Decode a stored bucket table (plans.pipeline): the ``encoded`` and
    ``codec_version`` columns become ``tokens``, the others pass through.

    After a retention sweep (operators.retention.apply_retention) a blob
    holds only the retained tail of its doc, so ``tokens`` is that tail
    while ``n_tok`` still counts the whole series.

    Validates ``codec_version`` (the column the pipeline stamps exactly
    so decoding can be gated): an unknown version raises a clear
    error instead of silently mis-decoding with the wrong layout."""
    if "codec_version" in encoded_df.columns:
        version_ok = F.when(
            F.col("codec_version") == CODEC_VERSION, F.col("encoded")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unsupported codec_version "),
                    F.col("codec_version").cast("string"),
                    F.lit(f" (decoder supports {CODEC_VERSION})"),
                )
            )
        )
    else:
        version_ok = F.col("encoded")
    return encoded_df.withColumn("tokens", decode_tokens_udf(version_ok)).drop(
        "encoded", "codec_version"
    )
