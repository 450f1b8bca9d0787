"""Multi-stream primitives: centered targets."""

import pytest

from tsc_spark.kernel.multistream import generate_centered_targets


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
