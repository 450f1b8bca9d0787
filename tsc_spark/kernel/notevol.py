"""Note+vol 2-axis query mode: the octave-invariant brute-force window
matcher.

Exact semantics of the reference note/vol path
(/root/reference/src/controllers/time_series_controller.jl):
* _note_vol_point_distance01 — ...:352-366 (per-axis normalized RMS
  over axis ranges [127, 1], /root/reference/src/config.jl:43)
* _octave_invariant_note_vol_window_distance01 — ...:368-397
  (center shift = round((q−d)/12), try center±1 octave, early exit)
* _find_octave_invariant_note_vol_matches — ...:399-427 (triple loop
  (qi, dbi, ws desc); FIRST window size under threshold wins per
  (qi, dbi); containment-filtered)

The reference's own unit tests (test/normalize_octave_invariance.jl)
are mirrored in tests/test_notevol.py with the same exact assertions.
"""

from __future__ import annotations

import math

from .matching import filter_contained_matches

__all__ = [
    "STEPS_PER_OCTAVE",
    "NOTE_VOL_AXIS_RANGES",
    "note_vol_point_distance01",
    "octave_invariant_window_distance01",
    "find_octave_invariant_matches",
]

# /root/reference/src/config.jl:28-30,43
STEPS_PER_OCTAVE = 12
NOTE_VOL_AXIS_RANGES = (127.0, 1.0)


def _note(pt) -> float:
    return float(pt[0]) if len(pt) >= 1 else 0.0


def _vol(pt) -> float:
    return float(pt[1]) if len(pt) >= 2 else 0.0


def note_vol_point_distance01(query_pt, db_pt, db_note_shift: float) -> float:
    """Per-point 2-axis normalized distance (reference ...:352-366)."""
    note_width = abs(NOTE_VOL_AXIS_RANGES[0]) or 1.0
    vol_width = abs(NOTE_VOL_AXIS_RANGES[1]) or 1.0
    note_d = (_note(query_pt) - (_note(db_pt) + float(db_note_shift))) / note_width
    vol_d = (_vol(query_pt) - _vol(db_pt)) / vol_width
    return min(math.sqrt((note_d * note_d + vol_d * vol_d) / 2.0), 1.0)


def octave_invariant_window_distance01(
    query_points, db_points, q_start: int, db_start: int, window_size: int
) -> float:
    """Best window RMS distance over octave shifts center±1
    (reference ...:368-397, incl. the early-exit inequality)."""
    if window_size <= 0:
        return 1.0
    q_note = _note(query_points[q_start])
    d_note = _note(db_points[db_start])
    spo = float(STEPS_PER_OCTAVE)
    center = round((q_note - d_note) / spo)

    best = math.inf
    for octave_shift in (center - 1.0, float(center), center + 1.0):
        note_shift = spo * octave_shift
        squared = 0.0
        for offset in range(window_size):
            d = note_vol_point_distance01(
                query_points[q_start + offset], db_points[db_start + offset], note_shift
            )
            squared += d * d
            if squared >= best * best * window_size:
                break
        distance = math.sqrt(squared / float(window_size))
        best = min(best, distance)
    return best if math.isfinite(best) else 1.0


def find_octave_invariant_matches(
    query_points, db_points, merge_threshold: float, min_match_window: int
):
    """All octave-invariant (q_start, db_start, ws) matches; per
    (qi, dbi) the LARGEST window under threshold wins (ws descending,
    first hit breaks) — reference ...:399-427; containment-filtered."""
    qlen = len(query_points)
    slen = len(db_points)
    if min(qlen, slen) < min_match_window:
        return []
    threshold = max(float(merge_threshold), 0.0)
    matches = []
    for qi in range(qlen - min_match_window + 1):
        max_q_window = qlen - qi
        for dbi in range(slen - min_match_window + 1):
            max_db_window = slen - dbi
            for ws in range(min(max_q_window, max_db_window), min_match_window - 1, -1):
                distance = octave_invariant_window_distance01(
                    query_points, db_points, qi, dbi, ws
                )
                if distance <= threshold:
                    matches.append((qi, dbi, ws))
                    break
    return filter_contained_matches(matches)
