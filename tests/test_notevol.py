"""Note/vol octave-invariant matching — mirrors the reference's own unit
tests (/root/reference/test/normalize_octave_invariance.jl) with the
same exact assertions."""

import pytest

from tsc_spark.config import MIDI_C4
from tsc_spark.kernel.notevol import (
    STEPS_PER_OCTAVE,
    find_octave_invariant_matches,
    octave_invariant_window_distance01,
)

C4 = float(MIDI_C4)
SPO = float(STEPS_PER_OCTAVE)


class TestOctaveInvariantNoteMatching:
    """reference testset 'octave invariant note matching' (...:3-27)."""

    q = [[C4, 1.0], [C4 + 2.0, 1.0], [C4 + 6.0, 1.0]]
    db_down = [[C4 - SPO, 1.0], [C4 - SPO + 2.0, 1.0], [C4 - SPO + 6.0, 1.0]]
    db_up = [[C4 + SPO, 1.0], [C4 + SPO + 2.0, 1.0], [C4 + SPO + 6.0, 1.0]]
    db_unrelated = [[C4 - SPO, 1.0], [C4, 1.0], [C4 + SPO, 1.0]]

    def test_window_distance_zero_across_octaves(self):
        assert octave_invariant_window_distance01(self.q, self.db_down, 0, 0, 3) == 0.0
        assert octave_invariant_window_distance01(self.q, self.db_up, 0, 0, 3) == 0.0
        assert octave_invariant_window_distance01(self.q, self.db_unrelated, 0, 0, 3) > 0.0

    def test_match_extraction(self):
        assert find_octave_invariant_matches(self.q, self.db_down, 0.0, 3) == [(0, 0, 3)]
        assert find_octave_invariant_matches(self.q, self.db_unrelated, 0.0, 3) == []


class TestOctaveLeapsStayLiteral:
    """reference testset 'octave invariant octave leaps stay literal'
    (...:29-40)."""

    q = [[C4, 0.0], [C4 + SPO, 0.0]]
    db_down = [[C4 - SPO, 0.0], [C4, 0.0]]
    db_up = [[C4 + SPO, 0.0], [C4 + 2.0 * SPO, 0.0]]
    db_flat = [[C4 - SPO, 0.0], [C4 - SPO, 0.0]]

    def test_shifted_copies_match(self):
        assert octave_invariant_window_distance01(self.q, self.db_down, 0, 0, 2) == 0.0
        assert octave_invariant_window_distance01(self.q, self.db_up, 0, 0, 2) == 0.0

    def test_flattened_pitch_class_does_not(self):
        assert octave_invariant_window_distance01(self.q, self.db_flat, 0, 0, 2) > 0.0


class TestMatcherDetails:
    def test_largest_window_wins_per_pair(self):
        q = [[C4, 1.0], [C4 + 2.0, 1.0], [C4 + 4.0, 1.0], [C4 + 6.0, 1.0]]
        # identical db: the ws=4 match at (0,0) contains all smaller ones
        got = find_octave_invariant_matches(q, q, 0.0, 2)
        assert (0, 0, 4) in got
        assert all(not (m[0] == 0 and m[1] == 0 and m[2] < 4) for m in got)

    def test_vol_axis_breaks_match(self):
        q = [[C4, 1.0], [C4 + 2.0, 1.0], [C4 + 6.0, 1.0]]
        db = [[C4, 0.0], [C4 + 2.0, 0.0], [C4 + 6.0, 0.0]]
        assert octave_invariant_window_distance01(q, db, 0, 0, 3) > 0.0
        assert find_octave_invariant_matches(q, db, 0.0, 3) == []

    def test_short_series_guard(self):
        assert find_octave_invariant_matches([[C4, 1.0]], [[C4, 1.0]], 0.5, 3) == []
