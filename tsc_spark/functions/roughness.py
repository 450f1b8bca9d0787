"""Sethares roughness as native Spark SQL expressions (no UDF).

The pair kernel (reference dissonance_models.jl:22-29, constants
config.jl:93-98) is closed-form, so a melodic-roughness scan over token
sequences stays entirely inside whole-stage codegen: map tokens to
frequencies, score adjacent pairs, sum per doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.dissonance import (
    AMP_EPS,
    SETHARES_A,
    SETHARES_B,
    SETHARES_D_MAX,
    SETHARES_S1,
    SETHARES_S2,
)
from ..operators._util import ensure_min_partitions

__all__ = [
    "token_to_freq_col",
    "pair_roughness_col",
    "adjacent_roughness",
    "chord_roughness",
]

# tokens live in [0, 24); anchor token 0 at MIDI 48 (C3) so the corpus
# spans two octaves around middle C
TOKEN_MIDI_OFFSET = 48


def token_to_freq_col(tok) -> F.Column:
    """440·2^((token+offset−69)/12) as a native column expression."""
    return F.lit(440.0) * F.pow(
        F.lit(2.0), (tok + F.lit(TOKEN_MIDI_OFFSET - 69)) / F.lit(12.0)
    )


def pair_roughness_col(f1, f2) -> F.Column:
    """sethares1993_pair with unit amplitudes, f ordering handled here."""
    lo = F.least(f1, f2)
    hi = F.greatest(f1, f2)
    x = (F.lit(SETHARES_D_MAX) / (F.lit(SETHARES_S1) * lo + F.lit(SETHARES_S2))) * (hi - lo)
    return F.exp(-F.lit(SETHARES_A) * x) - F.exp(-F.lit(SETHARES_B) * x)


def chord_roughness(
    chords_df: DataFrame,
    n_partials: int = 8,
    amp_base: float = 0.88,
) -> DataFrame:
    """Full harmonic-stack chord roughness, relationally (no UDF).

    Input: (doc_id, notes array<int> MIDI, vol double).  Each note
    contributes ``n_partials`` partials at f0·p with amp (vol/|notes|)·
    base^p (reference dissonance_stm_manager.jl:114-139); total
    roughness is Σ over partial pairs of the Sethares kernel
    (dissonance.jl:19-64).  One ``select`` over the input (spread by
    ``ensure_min_partitions``), no join: the doc's audible partials
    become an array column, and a nested ``aggregate`` sums every pair
    ``i < j`` of it — at most ``(4·n_partials choose 2)`` pairs per doc
    (chord size ≤ 4), a fixed constant per row at any corpus scale.  Each pair is scored with
    ``pair_roughness_col``'s ``least``/``greatest`` ordering; an
    equal-frequency pair contributes exactly 0 (x = 0), so the sum is
    the one over strictly ordered pairs.  Chords with fewer than two
    audible notes score exactly 0 (reference dissonance_current's n < 2
    gate)."""
    n_notes = F.size("notes")
    amp = F.col("vol") / n_notes

    def note_partials(midi):
        f0 = F.lit(440.0) * F.pow(F.lit(2.0), (midi.cast("double") - F.lit(69.0)) / F.lit(12.0))
        return F.transform(
            F.sequence(F.lit(1), F.lit(int(n_partials))),
            lambda p: F.struct(
                (f0 * p).alias("f"), (amp * F.pow(F.lit(float(amp_base)), p)).alias("a")
            ),
        )

    # note-level (amp) and partial-level (a) audibility gates of dissonance()
    audible = F.filter(
        F.flatten(F.transform("notes", note_partials)),
        lambda q: q["f"].isNotNull() & (q["a"] >= F.lit(AMP_EPS)),
    )
    parts = F.col("parts")

    def pairs_from(i):
        # Σ over the pairs (i, j > i) of the doc's partials
        head = parts[i]
        return F.aggregate(
            F.slice(parts, i + 2, F.size(parts)),
            F.lit(0.0),
            lambda acc, q: acc + (head["a"] * q["a"]) * pair_roughness_col(head["f"], q["f"]),
        )

    raw = F.aggregate(
        F.sequence(F.lit(0), F.size(parts) - 2), F.lit(0.0), lambda acc, i: acc + pairs_from(i)
    )
    # parts is a column of its own, so the pair lambdas read it instead
    # of rebuilding the partials per element
    return ensure_min_partitions(chords_df).select(
        "doc_id",
        n_notes.cast("long").alias("n_notes"),
        F.when((n_notes >= 2) & (amp > F.lit(AMP_EPS)), audible).alias("parts"),
    ).select(
        "doc_id",
        F.round(F.when(F.size(parts) >= 2, raw).otherwise(F.lit(0.0)), 6).alias("roughness"),
        "n_notes",
    )


def adjacent_roughness(tokens_df: DataFrame) -> DataFrame:
    """Per-doc melodic roughness: Σ sethares(f_i, f_{i+1}) over adjacent
    token pairs — a JVM-only narrow aggregation (one scan, no shuffle,
    no Python)."""
    freqs = F.transform(F.col("tokens"), lambda t: token_to_freq_col(t.cast("double")))
    pairs = F.when(
        F.size(F.col("tokens")) >= 2,
        F.zip_with(
            F.slice(freqs, 1, F.greatest(F.size(freqs) - 1, F.lit(0))),
            F.slice(freqs, 2, F.greatest(F.size(freqs) - 1, F.lit(0))),
            pair_roughness_col,
        ),
    ).otherwise(F.array().cast("array<double>"))
    total = F.aggregate(pairs, F.lit(0.0), lambda acc, d: acc + d)
    return tokens_df.select(
        "doc_id",
        F.round(total, 6).alias("roughness"),
        F.size("tokens").cast("long").alias("n_pairs_plus_one"),
    )
