"""Deterministic synthetic `tokens` table (FIXTURES.md §1).

tokens(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)

Fully deterministic (seeded rng, index-derived lengths); mirrors the
reference corpus model of phrase series keyed by series_id
(/root/reference/scripts/seed_influx.jl:534-536,575-598).
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "EDGE_DOCS",
    "synth_tokens",
    "synth_tokens_table",
    "synth_tokens_distributed",
    "synth_tokens_skewed",
]

# hand-written edge docs (FIXTURES.md §1, with reference citations there)
EDGE_DOCS: list[tuple[str, list[int], str]] = [
    ("edge_empty", [], "edge"),
    ("edge_one", [5], "edge"),
    ("edge_two", [5, 7], "edge"),
    ("edge_const", [3] * 16, "edge"),
    ("edge_warmup", [0, 1, 3, 2, 4, 5, 3, 1], "edge"),
    ("edge_docsA", [60, 62, 64, 65, 67], "edge"),
    ("edge_neg", [-4, -2, 0, -4, -2, 0], "edge"),
    ("edge_alt", [0, 24, 0, 24, 0, 24, 0, 24], "edge"),
]

_SOURCES = ["web", "code", "books", "longtail"]


def _doc_tokens(i: int, rng: np.random.Generator, n_tok: int) -> np.ndarray:
    """Token mix designed to produce real cluster structure (FIXTURES §1)."""
    kind = i % 4
    if kind == 0:
        # repeated motif with jitter every 3rd repetition
        motif = rng.integers(0, 24, size=5)
        reps = n_tok // 5 + 1
        arr = np.tile(motif, reps)[:n_tok].astype(np.int64)
        for r in range(2, reps, 3):
            lo, hi = r * 5, min((r + 1) * 5, n_tok)
            if lo >= n_tok:
                break
            arr[lo:hi] = np.clip(arr[lo:hi] + rng.integers(-1, 2, size=hi - lo), 0, 23)
        return arr
    if kind == 1:
        # ramp with plateaus
        base = np.repeat(np.arange(0, 24), 3)
        reps = n_tok // base.size + 1
        return np.tile(base, reps)[:n_tok].astype(np.int64)
    if kind == 2:
        # constant runs with step changes (max==min normalization branch)
        levels = rng.integers(0, 24, size=max(n_tok // 6 + 1, 1))
        return np.repeat(levels, 6)[:n_tok].astype(np.int64)
    return rng.integers(0, 24, size=n_tok).astype(np.int64)


def synth_tokens(n_docs: int = 200, include_edges: bool = True, seed: int = 42):
    """Yield (doc_id, tokens list[int], source) deterministically."""
    rng = np.random.default_rng(seed)
    rows: list[tuple[str, list[int], str]] = []
    for i in range(n_docs):
        if i % 64 == 63:
            # skew heavy-hitter (exercises salting, SURVEY §4)
            n_tok = 512 + (i % 7) * 256
            source = "longtail"
        else:
            n_tok = 8 + (i * 37) % 57
            source = _SOURCES[i % 4]
        toks = _doc_tokens(i, rng, n_tok)
        rows.append((f"doc{i:08d}", [int(t) for t in toks], source))
    if include_edges:
        rows.extend(EDGE_DOCS)
    return rows


def synth_tokens_table(spark, n_docs: int = 200, include_edges: bool = True, seed: int = 42):
    """Deterministic tokens DataFrame with the north-rule schema."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("n_tok", IntegerType(), False),
            StructField("source", StringType(), False),
        ]
    )
    rows = [(d, t, len(t), s) for d, t, s in synth_tokens(n_docs, include_edges, seed)]
    return spark.createDataFrame(rows, schema)


def synth_tokens_distributed(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed deterministic tokens table for bench-scale corpora.

    Unlike ``synth_tokens`` (one sequential rng, driver-side), every doc
    seeds its own rng from ``(seed, i)``, so output is bit-identical at
    any parallelism / partitioning — the property the scaling-efficiency
    benchmark depends on (same input at local[N] and local[4N]).
    Generation runs inside ``mapInPandas`` over ``spark.range`` so the
    corpus never materializes on the driver.
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("n_tok", IntegerType(), False),
            StructField("source", StringType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, toks, lens, srcs = [], [], [], []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng([seed, i])
                if i % 64 == 63:
                    n_tok = 512 + (i % 7) * 256
                    source = "longtail"
                else:
                    n_tok = 8 + (i * 37) % 57
                    source = _SOURCES[i % 4]
                arr = _doc_tokens(i, rng, n_tok)
                ids.append(f"doc{i:08d}")
                toks.append(arr.astype(np.int32))
                lens.append(n_tok)
                srcs.append(source)
            yield pd.DataFrame(
                {"doc_id": ids, "tokens": toks, "n_tok": lens, "source": srcs}
            )

    rng_parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n_docs, numPartitions=rng_parts).mapInPandas(gen, schema)


def synth_tokens_skewed(
    spark,
    n_docs: int,
    heavy_docs: int = 16,
    heavy_len: int = 8192,
    seed: int = 42,
    partitions: int | None = None,
):
    """Adversarially skewed deterministic corpus: ``heavy_docs`` heavy
    hitters of ``heavy_len`` tokens among ``n_docs`` ordinary docs.

    The per-doc clustering kernel's cost grows superlinearly with
    sequence length (measured ~quadratic on uniform tokens: 2k 0.35 s,
    8k 3.2 s, 16k 13.7 s), so a handful of 10⁴-token docs dominates a
    corpus of 10²-token docs — the skew shape ``balance_for_kernel``
    exists for.  Heavy docs draw UNIFORM tokens over the vocab: the
    patterned ``_doc_tokens`` walk is so self-similar that at 4k+
    tokens its cluster forest explodes (>9 min/doc measured) — that
    measures kernel pathology, not partitioning skew.  Per-doc seeded
    rng: bit-identical output at any parallelism, which the skew bench
    relies on when comparing partitioning strategies over the identical
    input."""
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("tokens", ArrayType(IntegerType(), False), False),
            StructField("n_tok", IntegerType(), False),
            StructField("source", StringType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids, toks, lens, srcs = [], [], [], []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng([seed, 77, i])
                if i < heavy_docs:
                    n_tok, source = int(heavy_len), "heavy"
                    arr = rng.integers(0, 24, n_tok)
                else:
                    n_tok, source = 8 + (i * 37) % 57, _SOURCES[i % 4]
                    arr = _doc_tokens(i, rng, n_tok)
                ids.append(f"doc{i:08d}")
                toks.append(arr.astype(np.int32))
                lens.append(n_tok)
                srcs.append(source)
            yield pd.DataFrame(
                {"doc_id": ids, "tokens": toks, "n_tok": lens, "source": srcs}
            )

    rng_parts = partitions or max(spark.sparkContext.defaultParallelism, 8)
    return spark.range(0, n_docs, numPartitions=rng_parts).mapInPandas(gen, schema)
