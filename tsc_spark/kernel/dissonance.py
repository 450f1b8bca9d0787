"""Psychoacoustic roughness kernel: Sethares (1993) dissonance, harmonic
partials, STM memory interference, Hungarian assignment.

Semantics mirror the reference exactly (constants and control flow):
* sethares1993_pair — /root/reference/src/polyphonic/dissonance_models.jl:22-29,
  constants /root/reference/src/config.jl:93-98
* dissonance — /root/reference/src/polyphonic/dissonance.jl:19-64
  (amp >= 1e-6 filter, freq-asc stable sort, ordered i<j pair sum)
* midi_to_freq / partial stacking / STM interference —
  /root/reference/src/polyphonic/dissonance_stm_manager.jl:110-190
* hungarian_min_assignment —
  /root/reference/src/polyphonic/multi_stream_manager.jl:900-961
  (the standard potentials/augmenting-path Hungarian; deterministic
  index-based tie epsilon documented at ...:1150-1160)

Generation-side math (driver/UDF scale: n ≤ streams × partials ≈ 32),
so ordered sequential accumulation is used to keep float summation
deterministic and reproducible.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = [
    "SETHARES_A",
    "SETHARES_B",
    "SETHARES_D_MAX",
    "SETHARES_S1",
    "SETHARES_S2",
    "AMP_EPS",
    "N_PARTIALS",
    "AMP_PROFILE_BASE",
    "STM_MEMORY_SPAN",
    "STM_PRUNE_THRESHOLD",
    "midi_to_freq",
    "sethares1993_pair",
    "dissonance",
    "harmonic_partials",
    "dissonance_current",
    "StmManager",
    "hungarian_min_assignment",
]

# /root/reference/src/config.jl:93-98
SETHARES_A = 3.5
SETHARES_B = 5.75
SETHARES_D_MAX = 0.24
SETHARES_S1 = 0.0207
SETHARES_S2 = 18.96
# /root/reference/src/config.jl:28-37
A4_FREQ = 440.0
MIDI_A4 = 69
STEPS_PER_OCTAVE = 12
AMP_EPS = 1e-6
# /root/reference/src/config.jl:86-91
STM_MEMORY_SPAN = 1.5
STM_MEMORY_WEIGHT = 1.0
N_PARTIALS = 8
AMP_PROFILE_BASE = 0.88
STM_PRUNE_THRESHOLD = 0.01


def midi_to_freq(midi: int) -> float:
    """440 · 2^((m−69)/12) (reference ...stm_manager.jl:110-112)."""
    return A4_FREQ * 2.0 ** ((float(midi) - float(MIDI_A4)) / float(STEPS_PER_OCTAVE))


def sethares1993_pair(f1: float, f2: float, a1: float, a2: float) -> float:
    """Roughness of one partial pair, f1 <= f2
    (reference dissonance_models.jl:22-29)."""
    s = SETHARES_D_MAX / (SETHARES_S1 * f1 + SETHARES_S2)
    x = s * (f2 - f1)
    return (a1 * a2) * (math.exp(-SETHARES_A * x) - math.exp(-SETHARES_B * x))


def dissonance(freqs, amps) -> float:
    """Total roughness of a partial collection
    (reference dissonance.jl:19-64): drop amps < 1e-6, stable-sort by
    freq asc, sum pair contributions in i<j order."""
    freqs = np.asarray(freqs, dtype=np.float64)
    amps = np.asarray(amps, dtype=np.float64)
    if freqs.size < 2 or freqs.size != amps.size:
        return 0.0
    keep = amps >= AMP_EPS
    f = freqs[keep]
    a = amps[keep]
    if f.size < 2:
        return 0.0
    order = np.argsort(f, kind="stable")
    f = f[order]
    a = a[order]
    total = 0.0
    for i in range(f.size - 1):
        for j in range(i + 1, f.size):
            total += sethares1993_pair(float(f[i]), float(f[j]), float(a[i]), float(a[j]))
    return total


def harmonic_partials(
    midi: int,
    amp: float,
    n_partials: int = N_PARTIALS,
    base: float = AMP_PROFILE_BASE,
):
    """Harmonic stack of a note: partial p at f0·p with amp·base^p
    (reference ...stm_manager.jl:125-136; profile base config.jl:104)."""
    f0 = midi_to_freq(midi)
    p = np.arange(1, n_partials + 1, dtype=np.float64)
    return f0 * p, amp * (base ** p)


def dissonance_current(midi_notes, amps, n_partials: int = N_PARTIALS,
                       base: float = AMP_PROFILE_BASE) -> float:
    """Chord roughness: stack partials of every audible note then total
    (reference ...stm_manager.jl:115-140; note the strict amp > eps gate
    here vs >= eps inside dissonance())."""
    midi_notes = list(midi_notes)
    amps = list(amps)
    if len(midi_notes) < 2 or len(midi_notes) != len(amps):
        return 0.0
    freqs: list[float] = []
    a: list[float] = []
    for m, amp in zip(midi_notes, amps):
        if amp <= AMP_EPS:
            continue
        pf, pa = harmonic_partials(int(m), float(amp), n_partials, base)
        freqs.extend(pf.tolist())
        a.extend(pa.tolist())
    if len(freqs) < 2:
        return 0.0
    return dissonance(freqs, a)


class StmManager:
    """Short-term-memory roughness: events decay exponentially; the
    interference of a new chord is Σ w·(d_merged − d_current − d_past)
    over remembered events (reference ...stm_manager.jl:142-190)."""

    def __init__(
        self,
        memory_span: float = STM_MEMORY_SPAN,
        memory_weight: float = STM_MEMORY_WEIGHT,
        prune_threshold: float = STM_PRUNE_THRESHOLD,
        n_partials: int = N_PARTIALS,
        amp_profile: float = AMP_PROFILE_BASE,
    ):
        self.memory: list[tuple[float, list[int], list[float], float]] = []
        self.memory_span = memory_span
        self.memory_weight = memory_weight
        self.prune_threshold = prune_threshold
        self.n_partials = n_partials
        self.amp_profile = amp_profile

    def _d(self, notes, amps) -> float:
        return dissonance_current(notes, amps, self.n_partials, self.amp_profile)

    def memory_interference(self, midi_notes, amps, onset: float,
                            d_current: float) -> float:
        total = 0.0
        for ev_onset, ev_notes, ev_amps, ev_d in self.memory:
            dt = float(onset) - ev_onset
            if dt < 0:
                continue
            w = math.exp(-dt / self.memory_span)
            if w < self.prune_threshold:
                continue
            d_merged = self._d(list(midi_notes) + ev_notes, list(amps) + ev_amps)
            total += w * self.memory_weight * (d_merged - d_current - ev_d)
        return total

    def evaluate(self, midi_notes, amps, onset: float) -> tuple[float, float]:
        """(current roughness, memory interference) of a chord at onset."""
        d_cur = self._d(midi_notes, amps)
        return d_cur, self.memory_interference(midi_notes, amps, onset, d_cur)

    def evaluate_total(self, midi_notes, amps, onset: float) -> float:
        """Scalar roughness = current + interference (reference
        ...stm_manager.jl:51-54)."""
        d_cur, interf = self.evaluate(midi_notes, amps, onset)
        return d_cur + interf

    def commit(self, midi_notes, amps, onset: float) -> float:
        """Evaluate, prune, then remember the event (reference
        commit!, ...stm_manager.jl:56-64)."""
        d_cur, interf = self.commit_with_parts(midi_notes, amps, onset)
        return d_cur + interf

    def commit_with_parts(self, midi_notes, amps, onset: float) -> tuple[float, float]:
        """commit() that also returns the (current, interference) split —
        callers needing both would otherwise run evaluate() then commit(),
        doubling the dominant O(events²) Sethares cost per step."""
        d_cur = self._d(midi_notes, amps)
        interf = self.memory_interference(midi_notes, amps, onset, d_cur)
        self.prune(onset)
        self.memory.append((float(onset), list(midi_notes), list(amps), d_cur))
        return d_cur, interf

    def prune(self, onset: float) -> None:
        """Keep events with decay weight >= prune threshold
        (reference ...stm_manager.jl:175-190)."""
        kept = []
        for ev in self.memory:
            dt = float(onset) - ev[0]
            if dt < 0:
                continue
            if math.exp(-dt / self.memory_span) >= self.prune_threshold:
                kept.append(ev)
        self.memory = kept


def hungarian_min_assignment(cost: list[list[float]]) -> list[int]:
    """Minimum-cost perfect assignment on a square cost matrix, by the
    classic potentials + augmenting-path Hungarian algorithm (O(n³)).

    Deterministic for tied costs: callers add an index-based epsilon as
    the reference does (multi_stream_manager.jl:1150-1160).  Returns
    assignment[i] = chosen column (0-based) for row i."""
    n = len(cost)
    if n <= 0:
        return []
    INF = float("inf")
    u = [0.0] * (n + 1)
    v = [0.0] * (n + 1)
    p = [0] * (n + 1)
    way = [0] * (n + 1)
    for i in range(1, n + 1):
        p[0] = i
        j0 = 0
        minv = [INF] * (n + 1)
        used = [False] * (n + 1)
        while True:
            used[j0] = True
            i0 = p[j0]
            delta = INF
            j1 = 0
            for j in range(1, n + 1):
                if used[j]:
                    continue
                cur = cost[i0 - 1][j - 1] - u[i0] - v[j]
                if cur < minv[j]:
                    minv[j] = cur
                    way[j] = j0
                if minv[j] < delta:
                    delta = minv[j]
                    j1 = j
            for j in range(n + 1):
                if used[j]:
                    u[p[j]] += delta
                    v[j] -= delta
                else:
                    minv[j] -= delta
            j0 = j1
            if p[j0] == 0:
                break
        while True:
            j1 = way[j0]
            p[j0] = p[j1]
            j0 = j1
            if j0 == 0:
                break
    assignment = [0] * n
    for j in range(1, n + 1):
        if p[j] != 0:
            assignment[p[j] - 1] = j - 1
    return assignment
