"""Multi-stream pool primitives: centered targets and strength decay.

Exact semantics of the reference multi-stream manager's scoring layer
(/root/reference/src/polyphonic/multi_stream_manager.jl):
* presence/strength tracking + inactive decay ×0.98 — ...:294-303,
  578-626; decay constant /root/reference/src/config.jl:106
* generate_centered_targets — ...:637-658 (duplicate of
  controller:2408-2427): linspace [c−s/2, c+s/2] clamped to [0,1]

The pool itself (presence/strength tracking, stream↔candidate mapping,
fork/retire of full cluster managers) lives in kernel.streampool; these
primitives are the numeric core its mapping steps run on.
"""

from __future__ import annotations

__all__ = [
    "INACTIVE_STRENGTH_DECAY",
    "generate_centered_targets",
]

# /root/reference/src/config.jl:106
INACTIVE_STRENGTH_DECAY = 0.98


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
