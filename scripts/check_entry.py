"""Local mimic of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row count,
column names and order-insensitive values.

Usage: python scripts/check_entry.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from tsc_spark.session import get_spark

TABLES = ["events", "documents", "embeddings"]


def norm_val(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(norm_val(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out, key=repr)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    # point fixture-oracle generation at the sf under test (the driver
    # itself runs at the default, sf0.01)
    os.environ["TSC_ORACLE_SF_DIR"] = sf_dir

    # override to prove parallelism invariance: the same oracles must
    # match at ANY core/partition count (e.g. TSC_CHECK_CPUS=32, or '*'
    # for all cores — non-numeric specs keep the default 8 shuffle
    # partitions rather than crashing before the gate starts)
    cpus = os.environ.get("TSC_CHECK_CPUS", "8")
    spark = get_spark(
        "check_entry",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 8,
    )
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    unknown = only - set(queries)
    if unknown:
        print("unknown query names:", sorted(unknown))
        sys.exit(2)
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            spark_rows = df.collect()
            spark_cols = df.columns
        except Exception as e:
            failures.append(name)
            print(f"[SPARK-ERR ] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"[ROWS-ONLY ] {name}: {len(spark_rows)} rows")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = [c.lower() for c in rel.columns]
            duck_rows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"[DUCK-ERR  ] {name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        sc, sr = norm_rows([c.lower() for c in spark_cols], [tuple(r) for r in spark_rows])
        dc, dr = norm_rows(duck_cols, duck_rows)
        if sc != dc:
            failures.append(name)
            print(f"[COLS-DIFF ] {name}: spark={sc} duck={dc}")
            continue
        if len(sr) != len(dr):
            failures.append(name)
            print(f"[COUNT-DIFF] {name}: spark={len(sr)} duck={len(dr)}")
            print("  spark sample:", sr[:3])
            print("  duck  sample:", dr[:3])
            continue
        if sr != dr:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
            print(f"[VALS-DIFF ] {name}: first diffs {diff}")
            continue
        print(f"[OK        ] {name}: {len(sr)} rows")

    print()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("all checked queries match")


if __name__ == "__main__":
    main()
