"""PolySet (chord) function layer — the set-valued point primitives the
polyphonic cluster manager builds on.

Exact ports of the reference set math
(/root/reference/src/polyphonic/polyphonic_cluster_manager.jl):
* min_avg_distance — ...:244-287 (symmetric min-match average pitch
  distance ÷ value_width, blended 50/50 with count penalty ÷
  max_set_size only when set sizes differ; empty-vs-nonempty = 1.0)
* average_sequences — ...:387-445 (per timestep: all-same-size →
  index-wise mean of SORTED sets, else latest sequence's set wins)
* streamwise surface average — ...:346-385 (stream-offset-encoded
  values decoded into slots, averaged per slot, re-encoded)

These are pure functions over (set, params) so they can be unit-tested
standalone; kernel.polymanager builds the set-mode ClusterManager on
them without touching the bit-exact scalar token path.
"""

from __future__ import annotations

import math

__all__ = [
    "min_avg_distance",
    "average_sequences",
    "streamwise_surface_average",
]


def _clamp01(x: float) -> float:
    return min(max(x, 0.0), 1.0)


def min_avg_distance(a, b, value_width: float, max_set_size: int) -> float:
    """Set↔set distance in [0,1] (reference ...:244-287)."""
    a = [float(x) for x in a]
    b = [float(x) for x in b]
    if not a and not b:
        return 0.0
    if not a or not b:
        return 1.0
    a_sum = sum(min(abs(x - y) for y in b) for x in a)
    a_avg = a_sum / float(len(a))
    b_sum = sum(min(abs(y - x) for x in a) for y in b)
    b_avg = b_sum / float(len(b))
    # degenerate width/size follow the reference's IEEE semantics
    # (x/0.0 = Inf in Julia -> clamp01 -> 1.0) instead of raising
    # ZeroDivisionError; 0/0 -> 0.0 (no distance, no clamp effect)
    mean_d = (a_avg + b_avg) / 2.0
    if float(value_width) > 0.0:
        pitch_norm = _clamp01(mean_d / float(value_width))
    else:
        pitch_norm = 1.0 if mean_d > 0.0 else 0.0
    dcount = abs(len(a) - len(b))
    if float(max_set_size) > 0.0:
        count_norm = _clamp01(dcount / float(max_set_size))
    else:
        count_norm = 1.0 if dcount > 0 else 0.0
    if count_norm <= 0.0:
        return pitch_norm
    return (pitch_norm + count_norm) / 2.0


def average_sequences(sequences):
    """Representative of member sequences (reference ...:387-445).

    Per timestep: if every member's set has the same size, average
    index-wise over SORTED sets; otherwise take the LATEST sequence's
    set verbatim."""
    if len(sequences) == 1:
        return [list(map(float, s)) for s in sequences[0]]
    length = len(sequences[0])
    result = []
    for t in range(length):
        sets_at_t = [list(map(float, seq[t])) for seq in sequences]
        first_count = len(sets_at_t[0])
        all_same = all(len(s) == first_count for s in sets_at_t)
        if all_same:
            cols = [sorted(s) for s in sets_at_t]
            avg = [0.0] * first_count
            for s in cols:
                for i in range(first_count):
                    avg[i] += s[i]
            result.append([v / float(len(cols)) for v in avg])
        else:
            result.append(list(sets_at_t[-1]))
    return result


def streamwise_surface_average(
    sequences,
    value_min: float,
    stream_axis_offset: float,
    max_set_size: int,
):
    """Slot-decoded surface average (reference ...:346-385): each
    encoded value v belongs to slot floor((v−value_min)/offset); slots
    average independently and re-encode as slot_base + mean(raw)."""
    length = len(sequences[0])
    result = []
    for t in range(length):
        sums = [0.0] * max_set_size
        counts = [0] * max_set_size
        for seq in sequences:
            for encoded in seq[t]:
                encoded = float(encoded)
                if stream_axis_offset <= 0.0:
                    slot, raw = 1, encoded
                else:
                    slot = int(math.floor((encoded - value_min) / stream_axis_offset)) + 1
                    slot = min(max(slot, 1), max_set_size)
                    raw = encoded - float(slot - 1) * stream_axis_offset
                sums[slot - 1] += raw
                counts[slot - 1] += 1
        avg_set = []
        for slot in range(1, max_set_size + 1):
            if counts[slot - 1] <= 0:
                continue
            avg_raw = sums[slot - 1] / float(counts[slot - 1])
            avg_set.append(avg_raw + float(slot - 1) * stream_axis_offset)
        result.append(avg_set)
    return result
