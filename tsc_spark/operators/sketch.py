"""Deterministic sketches: KMV distinct-count and stable hash sampling.

Production sketch libraries (HLL++, theta) are approximate AND
non-portable bit-for-bit across engines; these md5-derived variants
keep the sketch property (bounded state per group, mergeable, one pass)
while staying exactly reproducible in ANSI SQL — the same trade the
dedup/minhash family makes (operators.dedup).  At production scale,
swap the hash for xxhash64; the plan shapes are unchanged.

* ``kmv_distinct`` — k-minimum-values cardinality estimate per group:
  keep the k smallest value hashes; with the hash space [0, 2^32), the
  estimator is (k−1) · 2^32 / kth_min (exact count when fewer than k
  distinct values were seen).  State per group = k longs.
* ``stable_sample`` — consistent fractional sampling by hash
  threshold: the same row is in or out of the sample on every engine,
  every run, any partitioning — the eval-holdout property random
  sampling lacks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _h32

__all__ = ["kmv_distinct", "stable_sample"]

_HASH_SPACE = float(1 << 32)
# md5 hash seeds of the two sketches; the driver's DuckDB oracles
# (__spark_entry__) hash with the same seeds
_KMV_SEED, _SAMPLE_SEED = 5, 17


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str] | str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """(group, n_in_sketch, estimate) — KMV cardinality per group.

    One distinct pass → per-group TopK by hash (window rank, AQE-
    friendly) → closed-form estimate.  The shuffle carries distinct
    (group, value) pairs once; sketch state is k rows per group."""
    groups = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    hashed = (
        df.select(*groups, value_col)
        .distinct()
        .select(*groups, _h32(F.col(value_col).cast("string"), _KMV_SEED).alias("h"))
        # proper KMV tracks distinct HASH values: two distinct inputs
        # whose 32-bit hashes collide count once (matches the SQL twin)
        .distinct()
    )
    w = Window.partitionBy(*groups).orderBy("h")
    topk = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= int(k)
    )
    agg = topk.groupBy(*groups).agg(
        F.count("*").alias("n_in_sketch"), F.max("h").alias("kth_min")
    )
    estimate = F.when(
        F.col("n_in_sketch") < int(k), F.col("n_in_sketch").cast("double")
    ).otherwise(
        F.round((F.lit(float(k - 1)) * F.lit(_HASH_SPACE)) / F.col("kth_min"), 1)
    )
    return agg.select(
        *groups,
        F.col("n_in_sketch").cast("long").alias("n_in_sketch"),
        estimate.alias("distinct_estimate"),
    )


def stable_sample(df: DataFrame, id_col: str, fraction: float) -> DataFrame:
    """Deterministic ~fraction sample: keep rows whose id hash falls
    under fraction·2^32.  Engine-portable and stable under reruns and
    repartitioning."""
    threshold = int(float(fraction) * _HASH_SPACE)
    return df.filter(_h32(F.col(id_col).cast("string"), _SAMPLE_SEED) < threshold)
