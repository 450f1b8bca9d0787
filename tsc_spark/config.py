"""Engine-wide constants.

Mirrors the reference system defaults (/root/reference/src/config.jl:19-25,
/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:29) so that the
clustering kernel and query surface use identical parameters.
"""

from __future__ import annotations

# --- clustering defaults (reference src/config.jl:19-25) ---
SUBSEQUENCE_MIN_WINDOW_SIZE: int = 2
DEFAULT_MERGE_THRESHOLD_RATIO: float = 0.3
DEFAULT_CONTEXTUAL_MIN_WIDTH: float = 1.0
DEFAULT_RANGE_MIN: int = 0
DEFAULT_RANGE_MAX: int = 24
DEFAULT_QUERY_MIN_MATCH_WINDOW: int = 3

# --- unit scale (reference src/config.jl:13-15) ---
UNIT_MIN: float = 0.0
UNIT_MAX: float = 1.0

# --- recency memory (reference polyphonic_cluster_manager.jl:29) ---
RECENCY_MEMORY_SPAN: float = 64.0

# --- polyphonic defaults (reference src/config.jl:50,84) ---
MAX_SET_SIZE: int = 4  # last(CHORD_SIZE_RANGE)
DEFAULT_POLYPHONIC_MERGE_THRESHOLD_RATIO: float = 0.02
POLYPHONIC_MIN_WINDOW_SIZE: int = 2
DEFAULT_TARGET_01: float = 0.5
DEFAULT_SPREAD_01: float = 0.0

# --- musical / MIDI constants (reference src/config.jl:28-41) ---
STEPS_PER_OCTAVE: int = 12
OCTAVE_TO_MIDI_C_OFFSET: int = 1
MIDI_C4: int = (4 + OCTAVE_TO_MIDI_C_OFFSET) * STEPS_PER_OCTAVE
MIDI_NOTE_MIN: int = 36  # abs_pitch_min
MIDI_NOTE_MAX: int = 120  # abs_pitch_max
NOTE_RANGE_MIN: int = 0
NOTE_RANGE_MAX: int = 11

# --- generation search spaces (reference src/config.jl:49-57) ---
FLOAT_STEPS: list[float] = [round(i / 10.0, 1) for i in range(11)]
VOL_STEPS: list[float] = [0.0, 0.5, 1.0]
CHORD_RANGE_VALUE_MIN: int = 0
CHORD_RANGE_VALUE_MAX: int = 24
CHORD_RANGE_SEARCH_RANGE: list[int] = list(range(13))  # 0:12
SUSTAIN_QUANTIZE_STEPS: int = 4
SUSTAIN_LEVELS: list[float] = [0.0, 0.25, 0.5, 0.75, 1.0]

# --- area bands and register windows (reference src/config.jl:62-80) ---
AREA_BAND_SIZE: int = 4
AREA_MOVE_BINS: list[tuple[int, int]] = [
    (-12, -9), (-8, -7), (-6, -5), (-4, -3), (-2, -1),
    (-1, 1), (1, 2), (3, 4), (5, 6), (7, 8), (9, 12),
]
AREA_TOP_BINS_PER_STREAM_SINGLE: int = 1
AREA_TOP_BINS_PER_STREAM_MULTI: int = 3
NOTE_REGISTER_MEMORY_STEPS: int = 16
NOTE_REGISTER_MIN_ALLOWANCE: int = AREA_BAND_SIZE
NOTE_REGISTER_MAX_ALLOWANCE: int = 28

# --- generation timing (reference src/config.jl:82-86) ---
POLYPHONIC_BPM: float = 240.0
SECONDS_PER_MINUTE: float = 60.0
POLYPHONIC_BPM_MIN: float = 1.0


def quantize_sustain(x: float) -> float:
    """reference Config.quantize_sustain (config.jl:169-172)."""
    v = min(max(float(x), 0.0), 1.0)
    return min(max(round(v * SUSTAIN_QUANTIZE_STEPS) / float(SUSTAIN_QUANTIZE_STEPS), 0.0), 1.0)


def area_band_low_min() -> int:
    return min(max((MIDI_NOTE_MIN // AREA_BAND_SIZE) * AREA_BAND_SIZE, MIDI_NOTE_MIN), MIDI_NOTE_MAX)


def area_band_low_max() -> int:
    return min(max((MIDI_NOTE_MAX // AREA_BAND_SIZE) * AREA_BAND_SIZE, MIDI_NOTE_MIN), MIDI_NOTE_MAX)


def area_band_low(abs_note: int) -> int:
    """reference Config.area_band_low (config.jl:174-186): 4-semitone
    band base of a note, clamped to the valid band range."""
    v = (int(abs_note) // AREA_BAND_SIZE) * AREA_BAND_SIZE
    return min(max(v, area_band_low_min()), area_band_low_max())


def sanitize_bpm(bpm: float) -> float:
    import math

    b = float(bpm)
    return b if (math.isfinite(b) and b >= POLYPHONIC_BPM_MIN) else POLYPHONIC_BPM


def step_duration_from_bpm(bpm: float) -> float:
    return SECONDS_PER_MINUTE / sanitize_bpm(bpm)

# --- token alphabet of the documents corpus (operators.text.tokenize_documents
# and its oracle twin oracle_fixtures.tokenize_text): tokens are 0..TOKEN_VOCAB-1 ---
TOKEN_VOCAB: int = 24

# --- tier layout for the rollup engine (north_rule: 1x / 8x / 64x) ---
TIER_STRIDES: dict[int, int] = {0: 1, 1: 8, 2: 64}

# --- Spark tuning defaults (engine-side, not from the reference) ---
ARROW_MAX_RECORDS_PER_BATCH: int = 256
# docs with n_tok above this are routed to the heavy-doc partition lane
HEAVY_DOC_TOKEN_THRESHOLD: int = 4096


# --- telemetry (reference src/config.jl:17) ---
PROCESSING_TIME_DIGITS: int = 2


def processing_time_s(t0: float, now: float | None = None) -> float:
    """Elapsed seconds since ``t0`` rounded to PROCESSING_TIME_DIGITS —
    the per-response ``processingTime`` stamp every reference compute
    endpoint emits (src/controllers/time_series_controller.jl:2240,2320;
    rounding src/config.jl:17).  Python round() is banker's rounding,
    matching Julia's round()."""
    import time as _time

    return round((now if now is not None else _time.time()) - t0,
                 PROCESSING_TIME_DIGITS)
