"""Hypothesis property tests for the pure kernel math.

The hand-computed parity vectors (test_polyset/test_kernel_docs_examples)
pin exact reference values at a handful of points; these pin the
*algebraic invariants* — symmetry, range, identity, order preservation,
octave invariance — across thousands of generated inputs, the class of
bug a finite golden set can miss.  All properties below are EXACT in
IEEE arithmetic for the generated inputs (integers / exact negations),
so every assert is `==`-strength, not approx.

Pure Python — no SparkSession needed.
"""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from tsc_spark.kernel.polyset import min_avg_distance
from tsc_spark.kernel.scoring import (
    combine_complexity_metric_scores,
    normalize_scores,
)

# integer-valued floats: products/sums/differences below stay exact
ivals = st.integers(min_value=-1000, max_value=1000).map(float)
sets_ = st.lists(ivals, min_size=0, max_size=8)
widths = st.integers(min_value=1, max_value=100).map(float)


# --- min_avg_distance -------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(sets_, sets_, widths, st.integers(min_value=1, max_value=10))
def test_min_avg_distance_symmetric_and_bounded(a, b, w, m):
    d = min_avg_distance(a, b, w, m)
    assert d == min_avg_distance(b, a, w, m)
    assert 0.0 <= d <= 1.0


@settings(max_examples=100, deadline=None)
@given(st.lists(ivals, min_size=1, max_size=8), widths,
       st.integers(min_value=1, max_value=10))
def test_min_avg_distance_identity_and_empty(a, w, m):
    assert min_avg_distance(a, a, w, m) == 0.0
    assert min_avg_distance(a, [], w, m) == 1.0
    assert min_avg_distance([], a, w, m) == 1.0
    assert min_avg_distance([], [], w, m) == 0.0


@settings(max_examples=200, deadline=None)
@given(sets_, sets_, widths, st.integers(min_value=1, max_value=10),
       st.integers(min_value=-500, max_value=500))
def test_min_avg_distance_translation_invariant(a, b, w, m, c):
    """|x−y| is unchanged by a common shift; integer inputs keep the
    float arithmetic exact, so the distances are bit-equal."""
    shifted = min_avg_distance([x + c for x in a], [y + c for y in b], w, m)
    assert shifted == min_avg_distance(a, b, w, m)


# --- normalize_scores -------------------------------------------------


@settings(max_examples=200, deadline=None)
@given(st.lists(ivals, min_size=1, max_size=12), st.booleans())
def test_normalize_scores_range_and_weight(raw, flag):
    scores, weight = normalize_scores(raw, flag)
    assert len(scores) == len(raw)
    uniq = len(set(raw))
    assert weight == (0.0 if uniq <= 1 else (0.2 if uniq == 2 else 1.0))
    for s in scores:
        assert 0.0 <= s <= weight or (weight == 0.0 and s == 0.0)


@settings(max_examples=200, deadline=None)
@given(st.lists(ivals, min_size=2, max_size=12), st.booleans())
def test_normalize_scores_preserves_order(raw, flag):
    """Min-max normalization is monotone; the flip reverses it.  Equal
    raws always map to equal scores."""
    scores, _ = normalize_scores(raw, flag)
    for i in range(len(raw)):
        for j in range(len(raw)):
            if raw[i] == raw[j]:
                assert scores[i] == scores[j]
            elif raw[i] < raw[j]:
                assert (scores[i] <= scores[j]) == flag or scores[i] == scores[j]


@settings(max_examples=150, deadline=None)
@given(st.lists(ivals, min_size=1, max_size=10),
       st.integers(min_value=-300, max_value=300),
       st.integers(min_value=1, max_value=50), st.booleans())
def test_normalize_scores_affine_invariant(raw, c, k, flag):
    """normalize(k·x + c) == normalize(x) bit-for-bit on integer input:
    the integer products/sums are exact and IEEE division is correctly
    rounded, so (k·a)/(k·b) rounds to the same double as a/b."""
    transformed = [k * v + c for v in raw]
    assert normalize_scores(transformed, flag) == normalize_scores(raw, flag)


# --- combine_complexity_metric_scores --------------------------------


@settings(max_examples=150, deadline=None)
@given(st.lists(ivals, min_size=1, max_size=8),
       st.lists(ivals, min_size=1, max_size=8),
       st.lists(ivals, min_size=1, max_size=8),
       st.lists(ivals, min_size=1, max_size=8))
def test_combine_scores_bounded(d, q, c, u):
    out = combine_complexity_metric_scores(d, q, c, u)
    assert len(out) == max(len(d), len(q), len(c), len(u))
    for v in out:
        assert 0.0 <= v <= 1.0
        assert math.isfinite(v)


# --- note/vol octave math --------------------------------------------

notes = st.integers(min_value=0, max_value=127).map(float)
points = st.lists(
    st.tuples(notes, st.integers(min_value=0, max_value=127).map(float))
    .map(list),
    min_size=1,
    max_size=6,
)


@settings(max_examples=150, deadline=None)
@given(points, points, st.integers(min_value=-3, max_value=3))
def test_octave_window_distance_invariant_under_db_octave_shift(q, db, k):
    """Shifting the DB window by whole octaves must not change the
    octave-invariant distance: the center octave estimate compensates
    exactly (all note arithmetic is integer-valued, hence float-exact).

    EXCEPT at exact half-octave first-note gaps (gap ≡ 6 mod 12): there
    the center is a .5 value and round-half-even — the reference's own
    Julia round() semantics — picks the even neighbor, so an octave
    shift moves the candidate window {center−1, center, center+1}
    asymmetrically (round(−5.5) = −6 but round(−6.5) = −6 too).  That
    asymmetry is faithful reference behavior (hypothesis found it), so
    the half-boundary residue is excluded rather than 'fixed'."""
    from hypothesis import assume

    from tsc_spark.kernel.notevol import octave_invariant_window_distance01

    assume(int(q[0][0] - db[0][0]) % 12 != 6)
    ws = min(len(q), len(db))
    base = octave_invariant_window_distance01(q, db, 0, 0, ws)
    shifted_db = [[n + 12.0 * k, v] for n, v in db]
    assert octave_invariant_window_distance01(q, shifted_db, 0, 0, ws) == base


# --- scalar kernel distance paths and running sums -------------------

# finite, non-integer values: the paths must agree on the rounding too
fvals = st.floats(min_value=-60.0, max_value=60.0, allow_nan=False)
# both sides of the 16/17-step and 7/8-candidate path switches
step_counts = st.sampled_from([1, 2, 15, 16, 17, 18])
cand_counts = st.sampled_from([1, 7, 8, 9])


def _bits(xs):
    return [float(x).hex() for x in xs]


@settings(max_examples=200, deadline=None)
@given(step_counts, cand_counts, st.floats(min_value=0.25, max_value=30.0), st.data())
def test_distance_paths_bit_equal(L, k, width, data):
    """The scalar manager's three distance paths — the scalar loop (one
    candidate, at most 16 steps), numpy per window (one candidate, 17 or
    more) and the batch pass (8 or more candidates) — give the bits of an
    explicit numpy clamp/square/left-to-right sum, as does
    ``euclidean_distance``."""
    import numpy as np

    from tsc_spark.kernel.manager import ClusterManager, seq_sum

    window = st.lists(fvals, min_size=L, max_size=L).map(np.array)
    q = data.draw(window)
    seqs = [data.draw(window) for _ in range(k)]
    mgr = ClusterManager([0.0, 0.0])
    mgr.value_width = width

    expected = []
    for a in seqs:
        d = np.minimum(np.abs(a - q) / width, 1.0)
        expected.append(math.sqrt(seq_sum(d * d)))
    expected = _bits(expected)
    assert _bits(mgr.euclidean_distance(a, q) for a in seqs) == expected
    assert _bits(mgr._dists([a], q)[0] for a in seqs) == expected
    assert _bits(mgr._dists(seqs, q)) == expected
    assert _bits(mgr._seq_dists_batch(np.stack(seqs), q)) == expected


@settings(max_examples=150, deadline=None)
@given(st.sampled_from([15, 16, 17, 18]), st.data())
def test_rep_merge_running_sum_equals_full_resum(L, data):
    """Merging members one at a time through ``_rep_merge``'s running sum
    gives the same bits as re-averaging every member (``_average_windows``)
    and as a plain numpy member-order sum, on both sides of the 16/17
    switch between the scalar and numpy summation."""
    import numpy as np

    from tsc_spark.kernel.manager import ClusterManager, ClusterNode

    series = data.draw(st.lists(fvals, min_size=L, max_size=L + 24))
    starts = data.draw(
        st.lists(st.integers(0, len(series) - L), min_size=2, max_size=12)
    )
    mgr = ClusterManager(series)
    node = ClusterNode([starts[0]], mgr._window(starts[0], L).copy())
    arr = np.array(series)
    for s in starts[1:]:
        node.si.append(s)
        rep = mgr._rep_merge(node, L)
        ref = np.zeros(L)
        for t in node.si:
            ref += arr[t : t + L]
        ref /= float(len(node.si))
        assert rep.tobytes() == mgr._average_windows(node.si, L).tobytes()
        assert rep.tobytes() == ref.tobytes()
