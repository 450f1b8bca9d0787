"""As-of join — most recent right row at-or-before each left row.

The canonical timeseries-engine join Spark lacks natively.  Implemented
as the scalable union-and-carry plan, never a range cross product:

  union(left, right) → ONE shuffle on the key → per-key sort by
  (time, side) → LOCF of the right payload → keep left rows.

Cost is a single repartition+sort of |L|+|R| rows (exactly what a
sort-merge join would pay), state per key is one carried payload — so
the plan holds at any scale and AQE skew-splits hot keys.  Ties:
right rows at the identical timestamp are visible to the left row
(inclusive at-or-before, matching DuckDB/kdb ASOF semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["asof_join", "range_join"]


def range_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    time_col: str,
    tolerance_seconds: float,
) -> DataFrame:
    """All (left, right) pairs with |t_left − t_right| ≤ tolerance,
    per key — the bounded-interval variant of the as-of join.  Right
    columns other than the keys appear with an ``_r`` suffix.

    Scalable shape: each left row is replicated into its time bucket
    and the two neighbours (bucket = floor(epoch/tolerance)), the join
    is a pure equi-join on (key, bucket), and the exact |Δt| filter
    prunes the neighbours — candidate fan-out is bounded by the per-
    bucket density, never |L|·|R|.  This is the standard interval-
    binning rewrite Spark's optimizer does not apply on its own."""
    keys = [on] if isinstance(on, str) else list(on)
    tol = float(tolerance_seconds)
    if tol <= 0.0:
        # epoch/0.0 would NULL every bucket and silently return nothing;
        # |Δt| <= 0 means exact-timestamp pairs — a plain equi-join
        if tol < 0.0:
            raise ValueError("tolerance_seconds must be >= 0")
        r_payload = [c for c in right.columns if c not in keys and c != time_col]
        rhs0 = right.select(
            *keys,
            F.col(time_col),
            *[F.col(c).alias(f"{c}_r") for c in r_payload],
        )
        return left.join(rhs0, keys + [time_col])
    l_epoch = F.col(time_col).cast("timestamp").cast("double")

    lhs = left.withColumn("_l_epoch", l_epoch).withColumn(
        "_bucket",
        F.explode(
            F.array(
                F.floor(F.col("_l_epoch") / tol) - 1,
                F.floor(F.col("_l_epoch") / tol),
                F.floor(F.col("_l_epoch") / tol) + 1,
            )
        ),
    )
    r_payload = [c for c in right.columns if c not in keys]
    rhs = right.select(
        *keys,
        F.col(time_col).cast("timestamp").cast("double").alias("_r_epoch"),
        F.floor(
            F.col(time_col).cast("timestamp").cast("double") / tol
        ).alias("_bucket"),
        *[F.col(c).alias(f"{c}_r") for c in r_payload if c != time_col],
    )
    joined = lhs.join(rhs, keys + ["_bucket"]).filter(
        F.abs(F.col("_l_epoch") - F.col("_r_epoch")) <= tol
    )
    return joined.drop("_bucket", "_l_epoch", "_r_epoch")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    time_col: str,
) -> DataFrame:
    """Left rows + the latest right payload at-or-before their time.

    The payload is every right column that is neither a key nor the
    time column; it appears on the output with an ``_asof`` suffix
    (plus ``<time_col>_asof`` for the matched right timestamp).
    Left rows with no prior right row carry NULLs (left-outer
    semantics).  The matched right row is carried as ONE struct, so the
    output is always the intact latest row — never a per-column mix of
    different right rows (a right row whose payload value is NULL still
    "wins" and yields NULL, matching DuckDB/kdb ASOF).  NULL-timestamp
    right rows never match (ASOF is a time comparison); NULL-timestamp
    left rows carry NULLs.  Like DuckDB, right timestamps are assumed
    unique per key — pre-aggregate ties (e.g. max_by) for determinism."""
    keys = [on] if isinstance(on, str) else list(on)
    payload_cols = [c for c in right.columns if c not in keys and c != time_col]
    ldt = dict(left.dtypes)

    rhs = right.filter(F.col(time_col).isNotNull()).select(
        *keys,
        F.col(time_col),
        F.lit(0).alias("_asof_side"),
        F.struct(
            F.col(time_col).alias("ts"),
            *[F.col(c).alias(c) for c in payload_cols],
        ).alias("_r"),
    )
    for c in left.columns:
        if c not in keys and c != time_col:
            rhs = rhs.withColumn(c, F.lit(None).cast(ldt[c]))

    r_type = rhs.schema["_r"].dataType
    lhs = left.withColumn("_asof_side", F.lit(1)).withColumn(
        "_r", F.lit(None).cast(r_type)
    )

    u = lhs.unionByName(rhs.select(*lhs.columns))
    # right rows sort BEFORE left rows at the same timestamp → inclusive
    # at-or-before; NULL left timestamps sort first (Spark asc default),
    # before every non-null right row, so they carry NULL
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col(time_col).asc(), F.col("_asof_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_carry", F.last("_r", ignorenulls=True).over(w))
    out = carried.filter(F.col("_asof_side") == 1).select(
        "*",
        *[F.col(f"_carry.{c}").alias(f"{c}_asof") for c in payload_cols],
        F.col("_carry.ts").alias(f"{time_col}_asof"),
    )
    return out.drop("_asof_side", "_r", "_carry")
