"""Multi-stream pool primitives: set distance and centered targets.

Exact semantics of the reference multi-stream manager's scoring layer
(/root/reference/src/polyphonic/multi_stream_manager.jl):
* set_distance01 — ...:964-1029 (symmetric min-average pitch distance ÷
  width, blended 50/50 with the count penalty only when sizes differ)
* presence/strength tracking + inactive decay ×0.98 — ...:294-303,
  578-626; decay constant /root/reference/src/config.jl:106
* generate_centered_targets — ...:637-658 (duplicate of
  controller:2408-2427): linspace [c−s/2, c+s/2] clamped to [0,1]

The pool itself (presence/strength tracking, stream↔candidate mapping,
fork/retire of full cluster managers) lives in kernel.streampool; these
primitives are the numeric core its mapping steps run on.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "INACTIVE_STRENGTH_DECAY",
    "set_distance01",
    "generate_centered_targets",
]

# /root/reference/src/config.jl:106
INACTIVE_STRENGTH_DECAY = 0.98


def set_distance01(a, b, width: float, max_count: int) -> float:
    """Normalized set↔set distance in [0, 1] (reference ...:964-1029)."""
    w = float(width)
    if w <= 0.0:
        w = 1.0
    mc = max(int(max_count), 1)
    a = np.atleast_1d(np.asarray(a, dtype=np.float64))
    b = np.atleast_1d(np.asarray(b, dtype=np.float64))
    if a.size == 0 and b.size == 0:
        return 0.0
    if a.size == 0 or b.size == 0:
        return 1.0
    diff = np.abs(a[:, None] - b[None, :])
    a_avg = diff.min(axis=1).mean()
    b_avg = diff.min(axis=0).mean()
    pitch_norm = min(max(((a_avg + b_avg) / 2.0) / w, 0.0), 1.0)
    count_norm = min(max(abs(a.size - b.size) / float(mc), 0.0), 1.0)
    if count_norm <= 0.0:
        return pitch_norm
    return min(max((pitch_norm + count_norm) / 2.0, 0.0), 1.0)


def generate_centered_targets(center: float, spread: float, *, n: int) -> list[float]:
    """n targets evenly spaced on [center−spread/2, center+spread/2],
    clamped to [0, 1] (reference ...:637-658).

    ``n`` is keyword-only: kernel.polygen exposes the reference
    controller's PERMUTED twin (n, center, spread) of this signature,
    and both orders typecheck on bare floats — keyword enforcement turns
    the silent-swap trap into an immediate TypeError."""
    if n <= 0:
        return []
    clamp01 = lambda x: min(max(float(x), 0.0), 1.0)
    if n == 1:
        return [clamp01(center)]
    c = clamp01(center)
    s = clamp01(spread)
    start = clamp01(c - s / 2.0)
    end = clamp01(c + s / 2.0)
    return [
        clamp01(start + (end - start) * (float(i) / float(n - 1))) for i in range(n)
    ]
