"""PolySet function layer: exact semantics of the reference set math."""

import pytest

from tsc_spark.kernel.polyset import (
    average_sequences,
    min_avg_distance,
    streamwise_surface_average,
)


class TestMinAvgDistance:
    def test_empty_rules(self):
        assert min_avg_distance([], [], 12.0, 4) == 0.0
        assert min_avg_distance([], [60.0], 12.0, 4) == 1.0
        assert min_avg_distance([60.0], [], 12.0, 4) == 1.0

    def test_identical_chords(self):
        assert min_avg_distance([60, 64, 67], [60, 64, 67], 12.0, 4) == 0.0

    def test_symmetric_and_width_normalized(self):
        # {0} vs {6}: both min-dists 6 -> pitch 6/12 = 0.5, same sizes
        assert min_avg_distance([0.0], [6.0], 12.0, 4) == pytest.approx(0.5)
        assert min_avg_distance([6.0], [0.0], 12.0, 4) == pytest.approx(0.5)

    def test_count_blend_only_when_sizes_differ(self):
        # {0} vs {0, 6}: a_avg=0, b_avg=(0+6)/2=3 -> pitch=1.5/12=0.125
        # count = 1/4 = 0.25 -> (0.125 + 0.25)/2 = 0.1875
        assert min_avg_distance([0.0], [0.0, 6.0], 12.0, 4) == pytest.approx(0.1875)

    def test_clamp_at_one(self):
        assert min_avg_distance([0.0], [1000.0], 1.0, 1) == pytest.approx(
            (1.0 + 1.0) / 2.0
        )  # pitch clamped to 1, count 1 -> blended 1.0... sizes equal -> no blend
        # same sizes -> pure (clamped) pitch
        assert min_avg_distance([0.0], [1000.0], 1.0, 1) == 1.0


class TestAverageSequences:
    def test_single_member_copied(self):
        seq = [[60.0, 64.0], [62.0]]
        assert average_sequences([seq]) == [[60.0, 64.0], [62.0]]

    def test_same_size_sets_sorted_before_average(self):
        # sets {64, 60} and {60, 64}: sorted-index-wise mean = {60, 64}
        s1 = [[64.0, 60.0]]
        s2 = [[60.0, 64.0]]
        assert average_sequences([s1, s2]) == [[60.0, 64.0]]

    def test_mixed_sizes_latest_wins(self):
        s1 = [[60.0]]
        s2 = [[60.0, 64.0]]
        assert average_sequences([s1, s2]) == [[60.0, 64.0]]
        assert average_sequences([s2, s1]) == [[60.0]]


class TestStreamwiseSurface:
    def test_slots_average_independently(self):
        # offset 100, value_min 0: slot1 holds 0-99, slot2 holds 100-199
        s1 = [[10.0, 120.0]]
        s2 = [[20.0, 140.0]]
        got = streamwise_surface_average([s1, s2], 0.0, 100.0, 4)
        assert got == [[15.0, 130.0]]

    def test_empty_slots_skipped(self):
        s1 = [[10.0]]
        s2 = [[20.0]]
        assert streamwise_surface_average([s1, s2], 0.0, 100.0, 4) == [[15.0]]

    def test_zero_offset_single_slot(self):
        s1 = [[10.0]]
        s2 = [[30.0]]
        assert streamwise_surface_average([s1, s2], 0.0, 0.0, 4) == [[20.0]]
