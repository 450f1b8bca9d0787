"""Summaries of timing samples: medians and the percentiles a sample supports."""

from __future__ import annotations

import statistics

# candidate tail percentiles, highest first
_TAILS = (99.0, 95.0, 90.0, 75.0)
# a percentile is reported only when at least this many samples lie beyond it
MIN_TAIL_SAMPLES = 10


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default definition)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (k - lo))


def supported_tail(n: int) -> float | None:
    """Highest tail percentile with at least MIN_TAIL_SAMPLES samples beyond it."""
    for p in _TAILS:
        if n * (1.0 - p / 100.0) >= MIN_TAIL_SAMPLES:
            return p
    return None


def timing_summary(values) -> dict:
    """Median plus the highest supported tail percentile, with the sample count."""
    out = {"p50": median(values), "n": len(values)}
    tail = supported_tail(len(values))
    if tail is not None:
        out[f"p{tail:g}"] = percentile(values, tail)
    return out
