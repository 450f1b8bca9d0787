"""Multi-stream primitives: set distance and centered targets."""

import pytest

from tsc_spark.kernel.multistream import (
    generate_centered_targets,
    set_distance01,
)


class TestSetDistance01:
    def test_empty_rules(self):
        assert set_distance01([], [], width=10, max_count=4) == 0.0
        assert set_distance01([], [5.0], width=10, max_count=4) == 1.0
        assert set_distance01([5.0], [], width=10, max_count=4) == 1.0

    def test_identical_sets(self):
        assert set_distance01([60, 64, 67], [60, 64, 67], width=12, max_count=4) == 0.0

    def test_symmetric_min_average(self):
        # a={0}, b={4}: both directions min-dist 4 -> pitch 4/width
        assert set_distance01([0.0], [4.0], width=8, max_count=4) == pytest.approx(0.5)
        # symmetric
        assert set_distance01([4.0], [0.0], width=8, max_count=4) == pytest.approx(0.5)

    def test_count_penalty_blend_only_when_sizes_differ(self):
        # same sizes: pure pitch term
        same = set_distance01([0.0, 2.0], [0.0, 2.0], width=4, max_count=4)
        assert same == 0.0
        # sizes differ: (pitch + count)/2
        d = set_distance01([0.0], [0.0, 2.0], width=4, max_count=4)
        # pitch: a_avg=0 (0->0), b_avg=(0+2)/2=1 -> pitch=(0+1)/2=0.5 -> /4=0.125
        # count: |1-2|/4 = 0.25 -> blended (0.125+0.25)/2 = 0.1875
        assert d == pytest.approx(0.1875)

    def test_width_guard(self):
        # non-positive width treated as 1.0
        assert set_distance01([0.0], [0.5], width=0, max_count=4) == pytest.approx(0.5)

    def test_clamped_to_unit(self):
        assert set_distance01([0.0], [100.0], width=1, max_count=1) == 1.0


class TestCenteredTargets:
    def test_degenerate(self):
        assert generate_centered_targets(0.5, 0.2, n=0) == []
        assert generate_centered_targets(1.7, 0.2, n=1) == [1.0]

    def test_linspace_inclusive(self):
        got = generate_centered_targets(0.5, 0.4, n=5)
        assert got == pytest.approx([0.3, 0.4, 0.5, 0.6, 0.7])

    def test_endpoint_clamping_before_interpolation(self):
        # reference clamps start/end BEFORE interpolating: center 0.1,
        # spread 0.4 -> start=clamp(-0.1)=0.0, end=0.3; linspace(0, 0.3)
        got = generate_centered_targets(0.1, 0.4, n=4)
        assert got == pytest.approx([0.0, 0.1, 0.2, 0.3])
