"""Dissonance kernel: exact formula checks + assignment optimality."""

import itertools
import math

import numpy as np
import pytest

from tsc_spark.kernel.dissonance import (
    AMP_EPS,
    AMP_PROFILE_BASE,
    N_PARTIALS,
    StmManager,
    dissonance,
    dissonance_current,
    harmonic_partials,
    hungarian_min_assignment,
    midi_to_freq,
    sethares1993_pair,
)


def test_midi_to_freq_anchor_points():
    assert midi_to_freq(69) == 440.0
    assert midi_to_freq(81) == pytest.approx(880.0)
    assert midi_to_freq(57) == pytest.approx(220.0)
    assert midi_to_freq(60) == pytest.approx(261.6255653005986)


def test_sethares_pair_formula():
    # exact recomputation of the published curve at one point
    f1, f2, a1, a2 = 440.0, 466.16, 1.0, 0.5
    s = 0.24 / (0.0207 * f1 + 18.96)
    x = s * (f2 - f1)
    expected = (a1 * a2) * (math.exp(-3.5 * x) - math.exp(-5.75 * x))
    assert sethares1993_pair(f1, f2, a1, a2) == expected
    # unison has zero roughness; near-semitone is rough
    assert sethares1993_pair(440.0, 440.0, 1.0, 1.0) == 0.0
    assert sethares1993_pair(440.0, 466.0, 1.0, 1.0) > 0.1


def test_dissonance_guards_and_filter():
    assert dissonance([], []) == 0.0
    assert dissonance([440.0], [1.0]) == 0.0
    assert dissonance([440.0, 450.0], [1.0]) == 0.0  # length mismatch
    # sub-eps partials are dropped entirely
    assert dissonance([440.0, 450.0], [1.0, AMP_EPS / 10]) == 0.0
    # order-insensitive thanks to the freq sort
    a = dissonance([440.0, 450.0, 460.0], [1.0, 0.5, 0.25])
    b = dissonance([460.0, 440.0, 450.0], [0.25, 1.0, 0.5])
    assert a == pytest.approx(b, rel=1e-15)
    assert a > 0


def test_harmonic_partials_profile():
    freqs, amps = harmonic_partials(69, 1.0)
    assert len(freqs) == N_PARTIALS
    assert freqs[0] == 440.0 and freqs[3] == 440.0 * 4
    assert amps[0] == pytest.approx(AMP_PROFILE_BASE)
    assert amps[7] == pytest.approx(AMP_PROFILE_BASE ** 8)


def test_dissonance_current_semitone_vs_fifth():
    # a minor second is rougher than a perfect fifth (classic result)
    semitone = dissonance_current([60, 61], [1.0, 1.0])
    fifth = dissonance_current([60, 67], [1.0, 1.0])
    assert semitone > fifth > 0
    # silent second note -> only the first note's own partial stack
    # contributes (harmonics of one note still beat against each other,
    # reference ...stm_manager.jl:115-140)
    solo = dissonance_current([60, 61], [1.0, 0.0])
    f, a = harmonic_partials(60, 1.0)
    assert solo == pytest.approx(dissonance(f, a), rel=1e-15)


def test_stm_decay_and_prune():
    mgr = StmManager()
    mgr.commit([60, 64], [1.0, 1.0], onset=0.0)
    d_cur, interf0 = mgr.evaluate([61, 65], [1.0, 1.0], onset=0.0)
    assert d_cur > 0
    # same chord later: weight decays as exp(-dt/1.5)
    _, interf1 = mgr.evaluate([61, 65], [1.0, 1.0], onset=1.5)
    assert abs(interf1) == pytest.approx(abs(interf0) * math.exp(-1.0), rel=1e-12)
    # beyond the prune horizon (-1.5 ln 0.01 ≈ 6.91) the memory contributes 0
    _, interf_far = mgr.evaluate([61, 65], [1.0, 1.0], onset=8.0)
    assert interf_far == 0.0
    mgr.prune(onset=8.0)
    assert mgr.memory == []


def test_stm_interference_formula_single_event():
    mgr = StmManager()
    past = ([60], [1.0])
    mgr.commit(*past, onset=0.0)
    cur = ([67], [1.0])
    d_cur, interf = mgr.evaluate(*cur, onset=0.5)
    d_past = dissonance_current(*past)
    d_merged = dissonance_current([67, 60], [1.0, 1.0])
    w = math.exp(-0.5 / 1.5)
    assert interf == pytest.approx(w * (d_merged - d_cur - d_past), rel=1e-12)


def _brute_force_min(cost):
    n = len(cost)
    best, best_cost = None, float("inf")
    for perm in itertools.permutations(range(n)):
        c = sum(cost[i][perm[i]] for i in range(n))
        if c < best_cost:
            best, best_cost = perm, c
    return list(best), best_cost


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_hungarian_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    for n in (1, 2, 3, 4, 5):
        cost = rng.uniform(0, 10, size=(n, n)).tolist()
        got = hungarian_min_assignment(cost)
        assert sorted(got) == list(range(n))  # a permutation
        got_cost = sum(cost[i][got[i]] for i in range(n))
        _, want_cost = _brute_force_min(cost)
        assert got_cost == pytest.approx(want_cost, rel=1e-12)


def test_hungarian_deterministic_under_ties():
    # with the reference's index-based tie epsilon every permutation has
    # the same total (the sums telescope), so the guarantee is
    # determinism of the chosen one, not a specific winner
    n = 4
    cost = [[1.0 + 1e-9 * (j + i * 1e-3) for j in range(n)] for i in range(n)]
    first = hungarian_min_assignment(cost)
    for _ in range(5):
        assert hungarian_min_assignment(cost) == first
    assert sorted(first) == list(range(n))


def test_chord_roughness_matches_dissonance_current(spark):
    """The relational chord scan scores each chord as the kernel does:
    unison and octave chords (equal-frequency partial pairs), the note
    gate (amp <= eps), near-silent partials and chords of fewer than two
    notes."""
    from tsc_spark.functions.roughness import chord_roughness

    chords = [
        ([60, 61], 1.0), ([60, 72], 1.0), ([60, 60], 1.0), ([60, 64, 67, 71], 1.0),
        ([60, 61], 2e-7), ([60, 61], 2.4e-6), ([60], 1.0), ([], 1.0),
    ]
    df = spark.createDataFrame(
        [(f"c{i}", notes, vol) for i, (notes, vol) in enumerate(chords)],
        "doc_id string, notes array<int>, vol double",
    )
    got = {r.doc_id: (r.roughness, r.n_notes) for r in chord_roughness(df).collect()}
    for i, (notes, vol) in enumerate(chords):
        expected = dissonance_current(notes, [vol / len(notes)] * len(notes)) if notes else 0.0
        assert got[f"c{i}"][0] == pytest.approx(expected, abs=1e-6), (notes, vol)
        assert got[f"c{i}"][1] == len(notes)
    assert got["c0"][0] > got["c1"][0] > 0  # non-vacuous: pairs were scored
