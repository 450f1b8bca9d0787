"""generate_polyphonic orchestration — the multi-stream, multi-dimension
generation loop.

Pure-Python port of the reference controller's generate_polyphonic
(/root/reference/src/controllers/time_series_controller.jl:2761-4600)
on top of the already-built kernels:

* per-dimension managers: a GLOBAL PolyClusterManager (streamwise
  slot-offset encoding, ...:3441-3482) + a per-stream StreamPool
  (kernel.streampool, reference multi_stream_manager.jl);
* stream record = [abs_notes, vol, brightness, noise, harmonicity,
  attack, decay_sustain, release, chord_range, density, sustain,
  legato] (...:2808-2890);
* per-step: lifecycle plan → per-dimension candidate search
  (select_best_chord_for_dimension_with_cost, ...:2637-2756) → AREA
  band decision in three stages (move-bin candidates → per-stream
  top-bin pruning → global scoring, ...:3970-4212) → realized chords
  by STM dissonance over the register-restricted combination space
  (...:4214-4348) → note/STM commits.

The payload takes the canonical keys only: ``stream_counts`` is a list,
an initial-context record has the 8 input fields or the 12 generated
ones, and a ``dimension_policy`` entry is a dict of ``accept_params``,
``fixed_value`` and ``fixed_value_source``. The reference web app's
alias spellings of these are not accepted.

The distributed engine parallelises across independent requests
(operators.generate.generate_polyphonic_distributed); one request is
inherently serial step-to-step, exactly like the reference.
"""

from __future__ import annotations

import itertools
import math

from .. import config as C
from .dissonance import StmManager
from .polymanager import PolyClusterManager
from .scoring import combine_complexity_metric_scores
from .streampool import StreamPool

__all__ = ["generate_polyphonic", "DEFAULT_DIM_POLICY", "MANAGED_DIMS"]

ABS_MIN = C.MIDI_NOTE_MIN
ABS_MAX = C.MIDI_NOTE_MAX
BAND_SIZE = C.AREA_BAND_SIZE
CR_MIN = C.CHORD_RANGE_VALUE_MIN
CR_MAX = C.CHORD_RANGE_VALUE_MAX
# the most chords one stream's note window may offer: every chord is
# built before the register filter, so a request over it is refused
# (the canonical requests offer at most 8)
MAX_STREAM_CHORDS = 100_000

# stream-record field order (reference ...:2878-2890), 0-based
NOTE, VOL, BRIGHT, NOISE, HARM, ATTACK, DSUS, RELEASE, CR, DEN, SUS, LEGATO = range(12)

MANAGED_DIMS = [
    "area", "chord_range", "density", "sustain", "vol", "brightness",
    "noise", "harmonicity", "attack", "decay_sustain", "release", "legato",
]

# reference default policy (...:2950-2963): only vol searches; the rest
# hold their fixed values
DEFAULT_DIM_POLICY = {
    "area": {"accept_params": False, "fixed_value": 0.5},
    "chord_range": {"accept_params": False, "fixed_value": 0.0},
    "density": {"accept_params": False, "fixed_value": 0.0},
    "sustain": {"accept_params": False, "fixed_value": 0.5},
    "vol": {"accept_params": True, "fixed_value": 1.0},
    "brightness": {"accept_params": False, "fixed_value": 0.5},
    "noise": {"accept_params": False, "fixed_value": 0.5},
    "harmonicity": {"accept_params": False, "fixed_value": 0.5},
    "attack": {"accept_params": False, "fixed_value": 0.5},
    "decay_sustain": {"accept_params": False, "fixed_value": 0.5},
    "release": {"accept_params": False, "fixed_value": 0.5},
    "legato": {"accept_params": False, "fixed_value": 0.0},
}

_DIM_IDX = {
    "vol": VOL, "brightness": BRIGHT, "noise": NOISE, "harmonicity": HARM,
    "attack": ATTACK, "decay_sustain": DSUS, "release": RELEASE,
    "chord_range": CR, "density": DEN, "sustain": SUS, "legato": LEGATO,
}


def _f(x, default=0.0) -> float:
    """reference _parse_float (controller:2054): Reals pass through —
    including ±inf, which downstream clamps map to the range edge.  NaN
    maps to the default (a defensive deviation: Julia would propagate
    NaN through clamp into the kernel state)."""
    try:
        v = float(x)
        return v if v == v else float(default)
    except (TypeError, ValueError):
        return float(default)


def _i(x, default=0) -> int:
    try:
        return int(float(x))
    except (TypeError, ValueError):
        return int(default)


def _b(x, default: bool = False) -> bool:
    """Lenient word-list bool parser (reference _parse_bool,
    controller:2054-2066)."""
    if x is None:
        return default
    if isinstance(x, bool):
        return x
    if isinstance(x, int):
        return x != 0
    if isinstance(x, str):
        v = x.strip().lower()
        if v in ("1", "true", "t", "yes", "y", "on", "enable", "enabled"):
            return True
        if v in ("0", "false", "f", "no", "n", "off", "disable", "disabled"):
            return False
    return default


def _clamp(x, lo, hi):
    return min(max(x, lo), hi)


def _clamp01(x) -> float:
    return _clamp(_f(x), 0.0, 1.0)


def array_param(gp: dict, key: str, idx0: int):
    """reference array_param (...:2339-2356): scalar or clamped index."""
    val = gp.get(key)
    if val is None:
        return None
    if isinstance(val, (list, tuple)):
        if not val:
            return None
        i = max(idx0, 0)
        return val[min(i, len(val) - 1)]
    return val


def generate_centered_targets(n: int, center: float, spread: float) -> list[float]:
    """reference ...:2408-2427 (n >= 1 variant).

    Delegates to the multistream helper — same math, but NOTE the
    permuted signatures: this one is (n, center, spread), multistream's
    is (center, spread, n=...); the count there is keyword-only so an
    accidental import swap raises instead of silently clamping the
    count into [0, 1]."""
    from .multistream import generate_centered_targets as _gct

    return _gct(center, spread, n=max(int(n), 1))


def ordered_cartesian_product(values: list[float], n: int) -> list[list[float]]:
    """reference ...:2458-2474."""
    if n <= 0:
        return []
    if n == 1:
        return [[v] for v in values]
    return [list(t) for t in itertools.product(values, repeat=n)]


def _normalize_metric_weights(d, q, c):
    d = max(_f(d), 0.0)
    q = max(_f(q), 0.0)
    c = max(_f(c), 0.0)
    if d + q + c <= 0.0:
        return (1.0, 1.0, 1.0)
    return (d, q, c)


def _normalize_abs_notes(x) -> list[int]:
    out = []
    if isinstance(x, (list, tuple)):
        for v in x:
            if v is None:
                continue
            out.append(_clamp(_i(v), ABS_MIN, ABS_MAX))
    elif x is not None:
        out.append(_clamp(_i(x), ABS_MIN, ABS_MAX))
    out.sort()
    if not out:
        out.append(ABS_MIN)
    return out


def _anchor_from_abs(abs_notes) -> int:
    if isinstance(abs_notes, (list, tuple)) and abs_notes:
        s = sorted(_i(v) for v in abs_notes)
        return _clamp(s[(len(s) + 1) // 2 - 1], ABS_MIN, ABS_MAX)
    return ABS_MIN


def _observed_chord_range_and_density(abs_notes) -> tuple[int, float]:
    notes = sorted(set(_normalize_abs_notes(abs_notes)))
    if not notes:
        return 0, 0.0
    low, high = notes[0], notes[-1]
    chord_range = _clamp(high - low, CR_MIN, CR_MAX)
    slot_count = max(high - low + 1, 1)
    return chord_range, _clamp01(len(notes) / float(slot_count))


def _concordance_cost(raw_conc: float, discordance: float) -> float:
    conc = _clamp(_f(raw_conc), -1.0, 1.0)
    weight = abs(conc)
    if weight <= 0.0:
        return 0.0
    target = 1.0 if conc > 0.0 else 0.0
    concord01 = 1.0 - _clamp01(discordance)
    return weight * abs(concord01 - target)


def _safe_sim_all(mgr, value):
    try:
        d, q, c, u = mgr.simulate_add_and_calculate_all(value)
        return (
            d if math.isfinite(d) else 0.0,
            q if math.isfinite(q) else 0.0,
            c if math.isfinite(c) else 0.0,
            u if math.isfinite(u) else 0.0,
        )
    except Exception:
        return (0.0, 0.0, 0.0, 0.0)


def select_best_chord_for_dimension_with_cost(
    mgrs: dict,
    candidates: list[list[float]],
    stream_costs,
    global_target: float,
    stream_targets: list[float],
    concordance_weight: float,
    n: int,
    range_vec: list[float],
    *,
    global_metric_weights=(1.0, 1.0, 1.0, 1.0),
    stream_metric_weights=(1.0, 1.0, 1.0, 1.0),
    preserve_stream_order: bool = False,
    use_global_score: bool = True,
):
    """reference ...:2637-2756 + unified cost ...:2558-2635."""
    vmin = min(range_vec) if range_vec else 0.0
    vmax = max(range_vec) if range_vec else 1.0
    range_width = abs(vmax - vmin) or 1.0

    pool: StreamPool = mgrs["stream"]
    g_offset = mgrs.get("global_offset", 0.0)
    metrics = []
    for cand_set in candidates:
        if preserve_stream_order:
            ordered = [[float(v)] for v in cand_set]
        else:
            ordered = pool.resolve_mapping(cand_set, stream_costs)
        ordered_vals = [
            (float(v[0]) if isinstance(v, (list, tuple)) and v else 0.0)
            for v in ordered
        ]
        global_vals = [
            float(v) + i * float(g_offset) for i, v in enumerate(ordered_vals)
        ]
        g_d, g_q, g_c, g_u = _safe_sim_all(mgrs["global"], global_vals)
        disc = (
            (max(ordered_vals) - min(ordered_vals)) / range_width
            if ordered_vals
            else 0.0
        )
        s_d, s_q, s_c, s_u = [], [], [], []
        actives = pool.active_stream_containers()
        for i in range(n):
            if i < len(actives) and i < len(ordered):
                d, q, c, u = _safe_sim_all(actives[i].manager, ordered[i])
            else:
                d = q = c = u = 0.0
            s_d.append(d)
            s_q.append(q)
            s_c.append(c)
            s_u.append(u)
        metrics.append(
            (ordered_vals, g_d, g_q, g_c, g_u, s_d, s_q, s_c, s_u, disc)
        )

    if not metrics:
        return [], math.inf

    global_scores = combine_complexity_metric_scores(
        [m[1] for m in metrics], [m[2] for m in metrics],
        [m[3] for m in metrics], [m[4] for m in metrics],
        metric_weights=tuple(global_metric_weights),
    )
    n_stream_metrics = max(len(m[5]) for m in metrics)
    stream_norm = []
    for s_idx in range(n_stream_metrics):
        stream_norm.append(
            combine_complexity_metric_scores(
                [m[5][s_idx] if s_idx < len(m[5]) else 0.0 for m in metrics],
                [m[6][s_idx] if s_idx < len(m[6]) else 0.0 for m in metrics],
                [m[7][s_idx] if s_idx < len(m[7]) else 0.0 for m in metrics],
                [m[8][s_idx] if s_idx < len(m[8]) else 0.0 for m in metrics],
                metric_weights=tuple(stream_metric_weights),
            )
        )

    conc_enabled = bool(metrics) and len(metrics[0][0]) > 1
    best_i, min_cost = 0, math.inf
    for i, m in enumerate(metrics):
        cost_a = abs(global_scores[i] - global_target) if use_global_score else 0.0
        cost_b = 0.0
        k = min(len(stream_targets), n_stream_metrics)
        if k > 0:
            for s_idx in range(k):
                cost_b += abs(stream_norm[s_idx][i] - stream_targets[s_idx])
            cost_b /= float(k)
        cost_c = _concordance_cost(concordance_weight, m[9]) if conc_enabled else 0.0
        total = cost_a + cost_b + cost_c
        if total < min_cost:
            min_cost = total
            best_i = i
    return list(metrics[best_i][0]), min_cost


# ----------------------------------------------------------------------
# main entry
# ----------------------------------------------------------------------
def generate_polyphonic(payload: dict) -> dict:
    """Run one generate_polyphonic request (reference ...:2761-4600).

    ``payload`` carries the reference's generate_polyphonic sub-hash
    keys (initial_context, stream_counts, per-dimension targets, ...).
    Returns {"results": steps, "decisions": per-step dict,
    "stream_strengths": report, "processing_time_s": wall seconds
    (reference telemetry, controller:4395 / config PROCESSING_TIME_DIGITS)}.
    """
    import time as _time

    _t0 = _time.perf_counter()
    gp = dict(payload)

    stream_counts = [_i(x) for x in gp.get("stream_counts", [])]
    if not stream_counts:
        stream_counts = [1]

    strength_targets = [
        _f(x) for x in (gp.get("stream_strength_target") or [])
    ]
    strength_spreads = [
        _f(x) for x in (gp.get("stream_strength_spread") or [])
    ]

    bpm = C.sanitize_bpm(_f(gp.get("bpm", C.POLYPHONIC_BPM), C.POLYPHONIC_BPM))

    # -- normalize initial context ------------------------------------
    results: list[list[list]] = []
    for step in gp.get("initial_context", []) or []:
        results.append([list(st) for st in step])
    if not results:
        results.append([[ [ABS_MIN], 1.0, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5,
                          CR_MIN, 0.0, 0.5, 0.0 ]])

    def _normalize_bpm_series(raw, expected_len):
        source = list(raw) if isinstance(raw, (list, tuple)) else (
            [raw] if raw is not None else []
        )
        if not source:
            source = [bpm]
        target_len = max(expected_len, 1)
        return [
            C.sanitize_bpm(_f(source[i] if i < len(source) else source[-1], bpm))
            for i in range(target_len)
        ]

    initial_context_bpm = _normalize_bpm_series(gp.get("initial_context_bpm"), len(results))
    future_bpm = _normalize_bpm_series(gp.get("future_bpm"), len(stream_counts))

    def _unit_series(raw, n, fallback=0.0):
        vals = []
        if isinstance(raw, (list, tuple)):
            vals = [_clamp01(x) for x in raw]
        elif raw is not None:
            vals = [_clamp01(raw)]
        if not vals:
            vals = [_clamp01(fallback)]
        return [vals[i] if i < len(vals) else vals[-1] for i in range(max(n, 0))]

    legato_series = _unit_series(gp.get("legato"), len(stream_counts), 0.0)
    initial_step_durations = [C.step_duration_from_bpm(b) for b in initial_context_bpm]
    future_step_durations = [C.step_duration_from_bpm(b) for b in future_bpm]

    def _onsets(durations):
        out, cur = [], 0.0
        for d in durations:
            out.append(cur)
            cur += d
        return out

    initial_step_onsets = _onsets(initial_step_durations)
    base_onset = sum(initial_step_durations)
    future_step_onsets = [base_onset + o for o in _onsets(future_step_durations)]

    BAND_LOW_MIN = C.area_band_low_min()
    BAND_LOW_MAX = C.area_band_low_max()
    BAND_WIDTH = max(float(BAND_LOW_MAX - BAND_LOW_MIN), 1.0)

    # -- dimension policy ---------------------------------------------
    dim_accept = {}
    dim_fixed = {}
    dim_fixed_source = {}
    for key in MANAGED_DIMS:
        d = DEFAULT_DIM_POLICY[key]
        dim_accept[key] = bool(d["accept_params"])
        dim_fixed[key] = _norm_fixed(key, d["fixed_value"])
        dim_fixed_source[key] = "manual_input"
    # each entry is {accept_params, fixed_value, fixed_value_source}
    # (controller:2975-3013, canonical keys only)
    for raw_key, raw_val in (gp.get("dimension_policy") or {}).items():
        key = str(raw_key).strip().lower()
        if key not in MANAGED_DIMS or not isinstance(raw_val, dict):
            continue
        accept_src = raw_val.get("accept_params")
        if accept_src is not None:
            dim_accept[key] = _b(accept_src, dim_accept[key])
        src = raw_val.get("fixed_value_source")
        if src:
            dim_fixed_source[key] = (
                "initial_context_last_step"
                if str(src).strip().lower() == "initial_context_last_step"
                else "manual_input"
            )
        fixed_src = raw_val.get("fixed_value")
        if fixed_src is not None:
            dim_fixed[key] = _norm_fixed(key, fixed_src)

    def _fixed_area_band_low(stream_idx: int = 0) -> int:
        """reference _fixed_area_band_low_for_stream (...:3028-3041)."""
        if dim_fixed_source.get("area") == "initial_context_last_step" and results:
            last_step = results[-1]
            if 0 <= stream_idx < len(last_step):
                anchor = _anchor_from_abs(last_step[stream_idx][NOTE])
                return C.area_band_low(anchor)
        v01 = _clamp01(dim_fixed["area"])
        n_bins = max((BAND_LOW_MAX - BAND_LOW_MIN) // BAND_SIZE, 0)
        idx = _clamp(int(round(v01 * n_bins)), 0, n_bins)
        return _clamp(BAND_LOW_MIN + idx * BAND_SIZE, BAND_LOW_MIN, BAND_LOW_MAX)

    def _fixed_value(key: str, stream_idx: int = 0) -> float:
        """reference _resolved_fixed_value_for_stream (...:3043-3084):
        'initial_context_last_step' reads the value from the latest step's
        stream record (falling back to the manual fixed value)."""
        if dim_fixed_source.get(key) != "initial_context_last_step":
            return dim_fixed[key]
        if key == "area":
            band_low = _fixed_area_band_low(stream_idx)
            n_bins = max((BAND_LOW_MAX - BAND_LOW_MIN) // BAND_SIZE, 0)
            if n_bins <= 0:
                return 0.0
            idx = _clamp((band_low - BAND_LOW_MIN) // BAND_SIZE, 0, n_bins)
            return _clamp01(float(idx) / float(n_bins))
        last_step = results[-1]
        if not (0 <= stream_idx < len(last_step)):
            return dim_fixed[key]
        return _norm_fixed(key, last_step[stream_idx][_DIM_IDX[key]])

    # -- strict-record normalization + observed cr/density ------------
    for step in results:
        for st in step:
            _normalize_stream_record(st)
    for step in results:
        for st in step:
            abs_notes = _normalize_abs_notes(st[NOTE])
            st[NOTE] = abs_notes
            cr, den = _observed_chord_range_and_density(abs_notes)
            st[CR] = cr
            st[DEN] = den

    base_step_index = len(results)
    mtr = _f(gp.get("merge_threshold_ratio", C.DEFAULT_POLYPHONIC_MERGE_THRESHOLD_RATIO))
    min_window = C.POLYPHONIC_MIN_WINDOW_SIZE

    # -- histories (reference ...:3334-3404) ---------------------------
    def matrix_for_idx(idx):
        return [[(st[idx] if len(st) > idx else 0) for st in step] for step in results]

    first_streams = max(stream_counts[0] if stream_counts else 1, 1)

    def pad_history(mat, fallback_row):
        if len(mat) < min_window + 1:
            last = [r if not isinstance(r, list) else list(r) for r in (mat[-1] if mat else fallback_row)]
            for _ in range((min_window + 1) - len(mat)):
                mat.append([r if not isinstance(r, list) else list(r) for r in last])
        return mat

    hists = {
        "vol": matrix_for_idx(VOL),
        "brightness": matrix_for_idx(BRIGHT),
        "noise": matrix_for_idx(NOISE),
        "harmonicity": matrix_for_idx(HARM),
        "attack": matrix_for_idx(ATTACK),
        "decay_sustain": matrix_for_idx(DSUS),
        "release": matrix_for_idx(RELEASE),
        "chord_range": matrix_for_idx(CR),
        "density": matrix_for_idx(DEN),
        "sustain": matrix_for_idx(SUS),
    }

    hist_cr_global, hist_den_global = [], []
    for step in results:
        step_notes = []
        for st in step:
            step_notes.extend(_normalize_abs_notes(st[NOTE]))
        cr, den = _observed_chord_range_and_density(step_notes)
        hist_cr_global.append([float(cr)])
        hist_den_global.append([den])

    hist_note_anchor, note_global_series = [], []
    for step in results:
        hist_note_anchor.append([_anchor_from_abs(st[NOTE]) for st in step])
        alln = []
        for st in step:
            alln.extend(_normalize_abs_notes(st[NOTE]))
        if not alln:
            alln = [ABS_MIN]
        alln.sort()
        note_global_series.append([float(alln[(len(alln) + 1) // 2 - 1])])

    hist_area = [[C.area_band_low(a) for a in row] for row in hist_note_anchor]

    pad_history(hists["vol"], [1.0] * first_streams)
    for k in ("brightness", "noise", "harmonicity", "attack", "decay_sustain", "release"):
        pad_history(hists[k], [0.5] * first_streams)
    pad_history(hists["chord_range"], [0] * first_streams)
    pad_history(hists["density"], [0.0] * first_streams)
    pad_history(hists["sustain"], [0.5] * first_streams)
    pad_history(hist_note_anchor, [ABS_MIN] * first_streams)
    pad_history(hist_area, [C.area_band_low(ABS_MIN)] * first_streams)
    pad_history(hist_cr_global, [0.0])
    pad_history(hist_den_global, [0.0])
    pad_history(note_global_series, [float(ABS_MIN)])

    # -- managers (reference ...:3417-3579) -----------------------------
    managers: dict[str, dict] = {}

    def _offset_for_range(vmin, vmax):
        w = abs(float(vmax) - float(vmin))
        return (w if w > 0.0 else 1.0) + 1.0

    def _setup_dimension_manager(key, history, value_range, *, value_min, value_max,
                                 track_presence=False, global_history=None):
        offset = _offset_for_range(value_min, value_max)
        ghist = history if global_history is None else global_history
        grow = max(max((len(r) for r in ghist), default=1), 1)
        pool = StreamPool(
            history, mtr, min_window,
            value_range=value_range,
            track_presence=track_presence,
        )
        gseries = [
            [float(x) + j * offset for j, x in enumerate(row)] for row in ghist
        ]
        g = PolyClusterManager(
            gseries, mtr, min_window,
            scale_mode="range_fixed",
            range_min=float(value_min),
            range_max=float(value_max) + (grow - 1) * offset,
            value_min=float(value_min),
            value_max=float(value_max) + (grow - 1) * offset,
            max_set_size=grow,
            recency=0.0,
            use_streamwise_surface_average=True,
            stream_axis_offset=offset,
        )
        g.process_data()
        g.update_caches_permanently()
        managers[key] = {"global": g, "stream": pool, "global_offset": offset}

    for key, track in (
        ("vol", True), ("brightness", False), ("noise", False),
        ("harmonicity", False), ("attack", False), ("decay_sustain", False),
        ("release", False),
    ):
        if dim_accept[key]:
            _setup_dimension_manager(
                key, hists[key],
                C.VOL_STEPS if key == "vol" else C.FLOAT_STEPS,
                value_min=0.0, value_max=1.0, track_presence=track,
            )

    cr_values = [float(v) for v in C.CHORD_RANGE_SEARCH_RANGE]
    if dim_accept["chord_range"]:
        _setup_dimension_manager(
            "chord_range", hists["chord_range"], cr_values,
            value_min=cr_values[0], value_max=cr_values[-1],
            track_presence=True, global_history=hist_cr_global,
        )
    if dim_accept["density"]:
        _setup_dimension_manager(
            "density", hists["density"], C.FLOAT_STEPS,
            value_min=0.0, value_max=1.0,
            track_presence=True, global_history=hist_den_global,
        )
    if dim_accept["sustain"]:
        _setup_dimension_manager(
            "sustain", hists["sustain"], C.SUSTAIN_LEVELS,
            value_min=0.0, value_max=1.0, track_presence=True,
        )

    _setup_dimension_manager(
        "area", hist_area,
        list(range(BAND_LOW_MIN, BAND_LOW_MAX + 1, BAND_SIZE)),
        value_min=float(BAND_LOW_MIN), value_max=float(BAND_LOW_MAX),
        track_presence=True,
    )

    note_pool = StreamPool(
        hist_note_anchor, mtr, min_window,
        value_range=list(range(ABS_MIN, ABS_MAX + 1)),
        track_presence=True,
    )
    g_note = PolyClusterManager(
        note_global_series, mtr, min_window,
        scale_mode="range_fixed",
        range_min=float(ABS_MIN), range_max=float(ABS_MAX),
        value_min=float(ABS_MIN), value_max=float(ABS_MAX),
        max_set_size=1, recency=0.0,
    )
    g_note.process_data()
    g_note.update_caches_permanently()
    managers["note"] = {"global": g_note, "stream": note_pool}

    def _apply_step_recency(idx0, n_streams):
        rc = _clamp01(array_param(gp, "recency_center", idx0))
        rs = _clamp01(array_param(gp, "recency_spread", idx0))
        stream_rec = generate_centered_targets(n_streams, rc, rs)
        grec = (
            _clamp01(sum(stream_rec) / len(stream_rec)) if stream_rec else rc
        )
        for mgrs in managers.values():
            g = mgrs.get("global")
            if g is not None:
                g.recency = grec
            pool = mgrs.get("stream")
            if pool is not None:
                pool.recency = grec
                actives = pool.active_stream_containers()
                for c in pool.stream_pool:
                    c.manager.recency = grec
                for i, c in enumerate(actives):
                    c.manager.recency = _clamp01(
                        stream_rec[i] if i < len(stream_rec) else grec
                    )

    # -- STM seeding (reference ...:3613-3634) --------------------------
    stm = StmManager(
        memory_span=1.5, memory_weight=1.0, n_partials=8, amp_profile=0.88
    )
    for i, step in enumerate(results):
        midi, amps = [], []
        for st in step:
            abs_notes = _normalize_abs_notes(st[NOTE])
            vol = _clamp01(st[VOL])
            a_each = vol if not abs_notes else vol / float(len(abs_notes))
            for n_ in abs_notes:
                midi.append(n_)
                amps.append(a_each)
        onset = initial_step_onsets[i] if i < len(initial_step_onsets) else base_onset
        stm.commit(midi, amps, onset)

    def _metric_weights(key, idx0, scope):
        def _pick(suffixes):
            for s in suffixes:
                v = array_param(gp, s, idx0)
                if v is not None:
                    return v
            return None

        d = _pick([f"{key}_{scope}_dist_weight", f"{key}_{scope}_distance_weight",
                   f"{scope}_dist_weight", f"{scope}_distance_weight"])
        q = _pick([f"{key}_{scope}_qty_weight", f"{key}_{scope}_quantity_weight",
                   f"{scope}_qty_weight", f"{scope}_quantity_weight"])
        c = _pick([f"{key}_{scope}_comp_weight", f"{key}_{scope}_complexity_weight",
                   f"{scope}_comp_weight", f"{scope}_complexity_weight"])
        w = _normalize_metric_weights(
            1.0 if d is None else _f(d),
            1.0 if q is None else _f(q),
            1.0 if c is None else _f(c),
        )
        return (w[0], w[1], w[2], 1.0)

    def _restrict_with_target_window(key, search_values, idx0):
        """reference ...:3688-3731."""
        t_raw = array_param(gp, f"{key}_target", idx0)
        s_raw = array_param(gp, f"{key}_target_spread", idx0)
        if t_raw is None and s_raw is None:
            return search_values
        vmin, vmax = min(search_values), max(search_values)
        target = _clamp(_f(t_raw, (vmin + vmax) / 2.0), vmin, vmax)
        spread = abs(_f(s_raw, vmax - vmin))
        low = _clamp(target - spread, vmin, vmax)
        high = _clamp(target + spread, vmin, vmax)
        filtered = [v for v in search_values if low - 1e-9 <= v <= high + 1e-9]
        if filtered:
            return filtered
        return [min(search_values, key=lambda v: abs(v - target))]

    def _recent_register_center(stream_idx):
        """reference ...:3663-3686."""
        pool = note_pool
        if stream_idx < 0 or stream_idx >= len(pool.stream_pool):
            return float(ABS_MIN)
        stream = pool.stream_pool[stream_idx]
        data = stream.manager.data_view()
        recent = max(C.NOTE_REGISTER_MEMORY_STEPS, 1)
        anchors = []
        for v in data[max(len(data) - recent, 0):]:
            if not v:
                continue
            anchors.append(_clamp(int(round(v[0])), ABS_MIN, ABS_MAX))
        if not anchors:
            return (
                float(ABS_MIN)
                if not stream.last_value
                else _clamp(float(stream.last_value[0]), float(ABS_MIN), float(ABS_MAX))
            )
        anchors.sort()
        return float(anchors[(len(anchors) + 1) // 2 - 1])

    def _restrict_anchors_by_register(anchors, center, allowance):
        """reference ...:3257-3285."""
        if not anchors:
            return []
        filtered = []
        best_anchor, best_dist = anchors[0], math.inf
        half = float(BAND_SIZE - 1) / 2.0
        for a in anchors:
            dist = abs((float(a) + half) - center)
            if dist < best_dist - 1e-12:
                best_dist, best_anchor = dist, a
            if dist <= allowance + 1e-9:
                filtered.append(a)
        return filtered if filtered else [best_anchor]

    def _restrict_chords_by_register(chords, center, allowance):
        """reference ...:3287-3314."""
        if not chords:
            return []
        filtered = []
        best_chord, best_dist = list(chords[0]), math.inf
        for ch in chords:
            dist = abs(float(_anchor_from_abs(ch)) - center)
            if dist < best_dist - 1e-12:
                best_dist, best_chord = dist, list(ch)
            if dist <= allowance + 1e-9:
                filtered.append(ch)
        return filtered if filtered else [best_chord]

    # ------------------------------------------------------------------
    # main loop (reference ...:3767-4372)
    # ------------------------------------------------------------------
    decisions_per_step = []
    for step_idx in range(1, len(stream_counts) + 1):
        n_streams = max(stream_counts[step_idx - 1], 1)
        st_target = (
            strength_targets[step_idx - 1]
            if step_idx - 1 < len(strength_targets)
            else C.DEFAULT_TARGET_01
        )
        st_spread = (
            strength_spreads[step_idx - 1]
            if step_idx - 1 < len(strength_spreads)
            else C.DEFAULT_SPREAD_01
        )

        lifecycle_pool = (
            managers["vol"]["stream"] if "vol" in managers else managers["note"]["stream"]
        )
        plan = lifecycle_pool.build_stream_lifecycle_plan(
            n_streams, target=st_target, spread=st_spread
        )
        for mgrs in managers.values():
            mgrs["stream"].apply_stream_lifecycle_plan(plan)

        idx0 = step_idx - 1
        _apply_step_recency(idx0, n_streams)

        current = [
            [
                [], _clamp01(_fixed_value("vol", s_i)), _clamp01(_fixed_value("brightness", s_i)),
                _clamp01(_fixed_value("noise", s_i)), _clamp01(_fixed_value("harmonicity", s_i)),
                _clamp01(_fixed_value("attack", s_i)), _clamp01(_fixed_value("decay_sustain", s_i)),
                _clamp01(_fixed_value("release", s_i)),
                int(round(_clamp(_fixed_value("chord_range", s_i), float(CR_MIN), float(CR_MAX)))),
                _clamp01(_fixed_value("density", s_i)),
                C.quantize_sustain(_fixed_value("sustain", s_i)),
                legato_series[step_idx - 1] if step_idx - 1 < len(legato_series) else 0.0,
            ]
            for s_i in range(n_streams)
        ]
        step_decisions: dict = {}

        dim_order = [
            ("vol", [float(v) for v in C.VOL_STEPS], VOL),
            ("chord_range", list(cr_values), CR),
            ("density", [float(v) for v in C.FLOAT_STEPS], DEN),
            ("sustain", [float(v) for v in C.SUSTAIN_LEVELS], SUS),
            ("brightness", [float(v) for v in C.FLOAT_STEPS], BRIGHT),
            ("noise", [float(v) for v in C.FLOAT_STEPS], NOISE),
            ("harmonicity", [float(v) for v in C.FLOAT_STEPS], HARM),
            ("attack", [float(v) for v in C.FLOAT_STEPS], ATTACK),
            ("decay_sustain", [float(v) for v in C.FLOAT_STEPS], DSUS),
            ("release", [float(v) for v in C.FLOAT_STEPS], RELEASE),
        ]

        for key, range_vec, out_idx in dim_order:
            if not dim_accept[key]:
                fixed_vals = []
                for _s in range(n_streams):
                    if key == "chord_range":
                        fv = float(int(round(_clamp(_fixed_value(key, _s), float(CR_MIN), float(CR_MAX)))))
                    elif key == "sustain":
                        fv = C.quantize_sustain(_fixed_value(key, _s))
                    else:
                        fv = _clamp01(_fixed_value(key, _s))
                    fixed_vals.append(fv)
                step_decisions[key] = fixed_vals
                for s_i in range(n_streams):
                    current[s_i][out_idx] = (
                        int(round(fixed_vals[s_i])) if key == "chord_range" else fixed_vals[s_i]
                    )
                continue

            mgrs = managers[key]
            g_target = _clamp01(array_param(gp, f"{key}_global", idx0))
            s_center = _clamp01(array_param(gp, f"{key}_center", idx0))
            s_spread = _clamp01(array_param(gp, f"{key}_spread", idx0))
            conc_w = _f(array_param(gp, f"{key}_conc", idx0))
            gw = _metric_weights(key, idx0, "global")
            sw = _metric_weights(key, idx0, "stream")
            stream_targets = generate_centered_targets(n_streams, s_center, s_spread)

            restricted = _restrict_with_target_window(key, range_vec, idx0) or range_vec
            stream_costs = mgrs["stream"].precalculate_costs(restricted)

            preserve = n_streams > 1
            if n_streams == 1:
                candidates = [[float(v)] for v in restricted]
            elif key in ("chord_range", "density"):
                candidates = [[float(v)] * n_streams for v in restricted]
                preserve = True
            else:
                candidates = ordered_cartesian_product(
                    [float(v) for v in restricted], n_streams
                )

            use_global = not (key == "vol" and preserve)

            best_vals, _cost = select_best_chord_for_dimension_with_cost(
                mgrs, candidates, stream_costs, g_target, stream_targets,
                conc_w, n_streams, [float(v) for v in restricted],
                global_metric_weights=gw, stream_metric_weights=sw,
                preserve_stream_order=preserve, use_global_score=use_global,
            )

            g_offset = mgrs.get("global_offset", 0.0)
            global_vals = [
                float(best_vals[i]) + i * float(g_offset) for i in range(n_streams)
            ]
            mgrs["global"].add_data_point(global_vals)
            mgrs["global"].update_caches_permanently()
            mgrs["stream"].commit_state(best_vals)
            mgrs["stream"].update_caches_permanently()

            step_decisions[key] = best_vals
            for s_i in range(n_streams):
                current[s_i][out_idx] = (
                    int(best_vals[s_i]) if key == "chord_range" else _clamp01(best_vals[s_i])
                )

        # -- AREA decision (reference ...:3924-4212) --------------------
        area_mgrs = managers["area"]
        area_pool: StreamPool = area_mgrs["stream"]
        area_enabled = dim_accept["area"]
        area_fixed_target = _clamp01(dim_fixed["area"])
        area_global_target = (
            _clamp01(array_param(gp, "area_global", idx0)) if area_enabled else area_fixed_target
        )
        area_center = (
            _clamp01(array_param(gp, "area_center", idx0)) if area_enabled else area_fixed_target
        )
        area_spread = _clamp01(array_param(gp, "area_spread", idx0)) if area_enabled else 0.0
        area_conc_w = _f(array_param(gp, "area_conc", idx0)) if area_enabled else 1.0
        area_stream_targets = generate_centered_targets(n_streams, area_center, area_spread)

        nrf_raw = array_param(gp, "note_register_freedom", idx0)
        nrf = _clamp01(1.0 if nrf_raw is None else _f(nrf_raw))
        register_centers = [_recent_register_center(s) for s in range(n_streams)]
        if nrf >= 1.0 - 1e-9:
            register_allowance = float(ABS_MAX - ABS_MIN)
        elif nrf <= 1e-9:
            register_allowance = 0.0
        else:
            register_allowance = (
                float(C.NOTE_REGISTER_MIN_ALLOWANCE)
                + (C.NOTE_REGISTER_MAX_ALLOWANCE - C.NOTE_REGISTER_MIN_ALLOWANCE) * nrf
            )

        prev_anchors = []
        for s in range(n_streams):
            if s < len(area_pool.stream_pool):
                lv = area_pool.stream_pool[s].last_value
                a = float(BAND_LOW_MIN) if not lv else lv[0]
                prev_anchors.append(_clamp(int(a), BAND_LOW_MIN, BAND_LOW_MAX))
            else:
                prev_anchors.append(BAND_LOW_MIN)

        per_stream_anchor_candidates = []
        for s in range(n_streams):
            pa = prev_anchors[s]
            cand, seen = [], set()
            for lo, hi in C.AREA_MOVE_BINS:
                for d in range(lo, hi + 1):
                    a = pa + d
                    if a < ABS_MIN or a > ABS_MAX:
                        continue
                    band_low = C.area_band_low(a)
                    if band_low not in seen:
                        cand.append(band_low)
                        seen.add(band_low)
            if not cand:
                cand = [C.area_band_low(pa)]
            cand.sort()
            if nrf < 1.0 - 1e-9:
                cand = _restrict_anchors_by_register(
                    cand, register_centers[s], register_allowance
                )
            per_stream_anchor_candidates.append(cand)

        # Stage 1: per-stream top-bin pruning
        top_bins = (
            C.AREA_TOP_BINS_PER_STREAM_SINGLE
            if n_streams == 1
            else C.AREA_TOP_BINS_PER_STREAM_MULTI
        )
        per_stream_comp01, top_anchors = [], []
        for s in range(n_streams):
            sm = area_pool.stream_pool[s].manager if s < len(area_pool.stream_pool) else None
            anchors = per_stream_anchor_candidates[s]
            raw_d, raw_q, raw_c, raw_u = [], [], [], []
            for a in anchors:
                if sm is None:
                    d = q = c = u = 0.0
                else:
                    d, q, c, u = _safe_sim_all(sm, [float(a)])
                raw_d.append(d)
                raw_q.append(q)
                raw_c.append(c)
                raw_u.append(u)
            scores = combine_complexity_metric_scores(raw_d, raw_q, raw_c, raw_u)
            m = {a: _clamp01(scores[i]) for i, a in enumerate(anchors)}
            per_stream_comp01.append(m)

            t = area_stream_targets[s]
            prefer_big = t >= 0.5
            pa = prev_anchors[s]
            ranked = sorted(
                (
                    (abs(m[a] - t), (-1 if prefer_big else 1) * abs(float(a) - float(pa)), a)
                    for a in anchors
                ),
            )
            keep = [r[2] for r in ranked[: min(top_bins, len(ranked))]]
            if not keep:
                keep = [anchors[0]]
            keep.sort()
            top_anchors.append(keep)

        # Stage 2: cartesian over pruned bins
        area_candidates = [[]]
        for s in range(n_streams):
            area_candidates = [
                base + [a] for base in area_candidates for a in top_anchors[s]
            ]

        # Stage 3: global scoring
        area_gl = area_mgrs["global"]
        area_offset = float(area_mgrs.get("global_offset", 0.0))
        graw = [[], [], [], []]
        for cand in area_candidates:
            enc = [float(cand[i]) + i * area_offset for i in range(n_streams)]
            d, q, c, u = _safe_sim_all(area_gl, enc)
            graw[0].append(d)
            graw[1].append(q)
            graw[2].append(c)
            graw[3].append(u)
        global_scores = combine_complexity_metric_scores(*graw)

        target_mean = (
            area_global_target + sum(area_stream_targets) / float(n_streams)
        ) / 2.0
        prefer_big = target_mean >= 0.5
        best_idx, best_cost = 0, math.inf
        best_tb = -math.inf if prefer_big else math.inf
        for i, cand in enumerate(area_candidates):
            g_cost = abs(global_scores[i] - area_global_target)
            s_cost = (
                sum(
                    abs(per_stream_comp01[s].get(cand[s], 0.0) - area_stream_targets[s])
                    for s in range(n_streams)
                )
                / float(n_streams)
            )
            conc_cost = 0.0
            if n_streams >= 2 and abs(area_conc_w) > 1e-12:
                dist_sum, cnt = 0.0, 0
                for a in range(n_streams - 1):
                    for b in range(a + 1, n_streams):
                        dist_sum += abs(float(cand[a]) - float(cand[b]))
                        cnt += 1
                spread01 = _clamp01((dist_sum / cnt) / BAND_WIDTH) if cnt else 0.0
                conc_cost = (
                    abs(area_conc_w) * spread01
                    if area_conc_w > 0
                    else abs(area_conc_w) * (1.0 - spread01)
                )
            register_cost = 0.0
            if nrf < 1.0 - 1e-9:
                for s in range(n_streams):
                    cc = float(cand[s]) + float(BAND_SIZE - 1) / 2.0
                    excess = max(0.0, abs(cc - register_centers[s]) - register_allowance)
                    register_cost += excess / max(float(ABS_MAX - ABS_MIN), 1.0)
                register_cost = register_cost / float(n_streams) * (1.0 - nrf)
            total = g_cost + s_cost + conc_cost + register_cost
            jump = sum(
                abs(float(cand[s]) - float(prev_anchors[s])) for s in range(n_streams)
            ) / float(n_streams)
            tie_ok = (jump > best_tb + 1e-12) if prefer_big else (jump < best_tb - 1e-12)
            if total < best_cost - 1e-12 or (abs(total - best_cost) <= 1e-12 and tie_ok):
                best_cost, best_idx, best_tb = total, i, jump

        chosen_area = list(area_candidates[best_idx])
        if not area_enabled:
            chosen_area = [_fixed_area_band_low(s_i) for s_i in range(n_streams)]

        enc_best = [float(chosen_area[i]) + i * area_offset for i in range(n_streams)]
        area_gl.add_data_point(enc_best)
        area_gl.update_caches_permanently()
        area_pool.commit_state([float(a) for a in chosen_area])
        area_pool.update_caches_permanently()

        # -- realized notes via chord combos + STM dissonance ----------
        onset = (
            future_step_onsets[step_idx - 1]
            if step_idx - 1 < len(future_step_onsets)
            else base_onset
        )
        dis_target_raw = array_param(gp, "dissonance_target", idx0)
        target01 = (
            C.DEFAULT_TARGET_01
            if dis_target_raw is None
            else _clamp01(dis_target_raw)
        )
        vols = [_clamp01(current[s][VOL]) for s in range(n_streams)]
        stream_chord_candidates = []
        for s in range(n_streams):
            band_low = chosen_area[s]
            band_high = min(band_low + BAND_SIZE - 1, ABS_MAX)
            cr_val = _clamp(int(step_decisions["chord_range"][s]), CR_MIN, CR_MAX)
            den_val = _clamp01(step_decisions["density"][s])
            low = _clamp(band_low - cr_val, ABS_MIN, ABS_MAX)
            high = _clamp(band_high + cr_val, ABS_MIN, ABS_MAX)
            slots = max(high - low + 1, 1)
            n_notes = _clamp(int(round(den_val * slots)), 1, slots)
            n_chords = math.comb(slots, n_notes)
            if n_chords > MAX_STREAM_CHORDS:
                raise ValueError(
                    f"stream {s}: density {den_val} and chord_range {cr_val} offer "
                    f"C({slots}, {n_notes}) = {n_chords} chords, more than {MAX_STREAM_CHORDS}"
                )
            chords = [list(c) for c in itertools.combinations(range(low, high + 1), n_notes)]
            if not chords:
                chords = [[band_low]]
            if nrf < 1.0 - 1e-9:
                chords = _restrict_chords_by_register(
                    chords, register_centers[s], register_allowance
                )
            stream_chord_candidates.append(chords)

        def _global_notes(combo):
            midi, amps = [], []
            for s in range(n_streams):
                chord = combo[s]
                v = vols[s]
                a_each = v if not chord else v / float(len(chord))
                for n_ in chord:
                    midi.append(n_)
                    amps.append(a_each)
            return midi, amps

        def _pc_norm(midi):
            return [C.MIDI_C4 + (n_ % C.STEPS_PER_OCTAVE) for n_ in midi]

        # two streaming passes, O(1) memory like the reference's visitor
        # enumeration (controller:4280-4330): materializing (combo, d)
        # tuples for the full cross-stream cartesian product can reach
        # 1e8+ entries at wide chord_range × density.  Pass 1 finds the
        # roughness range; pass 2 re-enumerates in the same order
        # (deterministic product + deterministic STM evaluate) and
        # tracks the single best combo.
        min_r, max_r = math.inf, -math.inf
        for combo in itertools.product(*stream_chord_candidates):
            midi, amps = _global_notes(combo)
            d = stm.evaluate_total(_pc_norm(midi), amps, onset)
            min_r = min(min_r, d)
            max_r = max(max_r, d)
        span = max_r - min_r
        if span == 0.0:
            span = 1.0
        best_combo, best_c = None, math.inf
        for combo in itertools.product(*stream_chord_candidates):
            midi, amps = _global_notes(combo)
            d = stm.evaluate_total(_pc_norm(midi), amps, onset)
            c = abs(_clamp01((d - min_r) / span) - target01)
            if c < best_c - 1e-12:
                best_c = c
                best_combo = combo
        if best_combo is None:
            best_combo = tuple(ch[0] for ch in stream_chord_candidates)

        for s in range(n_streams):
            current[s][NOTE] = sorted(best_combo[s])

        midi_all, amps_all = [], []
        for s in range(n_streams):
            ns = current[s][NOTE]
            v = vols[s]
            a_each = v if not ns else v / float(len(ns))
            for n_ in ns:
                midi_all.append(n_)
                amps_all.append(a_each)
        stm.commit(midi_all, amps_all, onset)

        alln = []
        for s in range(n_streams):
            alln.extend(current[s][NOTE])
        if not alln:
            alln = [ABS_MIN]
        alln.sort()
        global_anchor = alln[(len(alln) + 1) // 2 - 1]
        g_note.add_data_point([float(global_anchor)])
        g_note.update_caches_permanently()
        note_pool.commit_state(
            [float(_anchor_from_abs(current[s][NOTE])) for s in range(n_streams)]
        )
        note_pool.update_caches_permanently()

        step_decisions["area_tmp_anchor"] = chosen_area
        step_decisions["note_anchor"] = global_anchor
        decisions_per_step.append(step_decisions)
        results.append(current)

    # -- post-process clamp (reference ...:4377-4393) -------------------
    for step_idx, step in enumerate(results, start=1):
        generated = step_idx > base_step_index
        for s_i, vec in enumerate(step):
            vec[NOTE] = _normalize_abs_notes(vec[NOTE])
            for key, idx in _DIM_IDX.items():
                if key == "legato":
                    gi = step_idx - base_step_index
                    vec[LEGATO] = (
                        _clamp01(legato_series[gi - 1] if 0 < gi <= len(legato_series) else 0.0)
                        if generated
                        else _clamp01(vec[LEGATO] if len(vec) > LEGATO else 0.0)
                    )
                elif key == "chord_range":
                    vec[CR] = (
                        int(round(_clamp(_fixed_value(key, s_i), float(CR_MIN), float(CR_MAX))))
                        if (not dim_accept[key] and generated)
                        else _clamp(_i(vec[CR]), CR_MIN, CR_MAX)
                    )
                elif key == "sustain":
                    vec[SUS] = (
                        C.quantize_sustain(_fixed_value(key, s_i))
                        if (not dim_accept[key] and generated)
                        else C.quantize_sustain(vec[SUS])
                    )
                else:
                    vec[idx] = (
                        _clamp01(_fixed_value(key, s_i))
                        if (not dim_accept[key] and generated)
                        else _clamp01(vec[idx])
                    )

    return {
        "results": results,
        "decisions": decisions_per_step,
        "stream_strengths": (
            managers["vol"]["stream"].stream_strengths_report()
            if "vol" in managers
            else note_pool.stream_strengths_report()
        ),
        "bpm_series": initial_context_bpm + future_bpm,
        "initial_context_steps": base_step_index,
        "processing_time_s": round(_time.perf_counter() - _t0, 2),
    }


def _norm_fixed(key: str, raw) -> float:
    if key == "chord_range":
        return float(_clamp(_i(raw), CR_MIN, CR_MAX))
    if key == "sustain":
        return C.quantize_sustain(_f(raw))
    return _clamp01(raw)


def _normalize_stream_record(st: list) -> list:
    """reference _normalize_stream! (...:3140-3189), strict records: the
    8-field input record or the 12-field record the generator emits."""
    if len(st) not in (8, 12) or not isinstance(st[0], (list, tuple)):
        raise ValueError(
            "stream record must be strict [abs_notes, vol, brightness, noise, "
            "harmonicity, attack, decay_sustain, release] or the 12-field "
            "generated record"
        )
    abs_notes = _normalize_abs_notes(st[0])
    vol = _clamp01(st[1])
    brightness = _clamp01(st[2])
    noise = _clamp01(st[3])
    harmonicity = _clamp01(st[4])
    attack = _clamp01(st[5])
    decay_sustain = _clamp01(st[6])
    release = _clamp01(st[7])
    cr, den, sus, legato = 0, 0.0, 0.5, 0.0
    if len(st) == 12:
        cr = max(_i(st[8]), 0)
        den = _clamp01(st[9])
        sus = C.quantize_sustain(_f(st[10]))
        legato = _clamp01(st[11])
    st[:] = [abs_notes, vol, brightness, noise, harmonicity, attack,
             decay_sustain, release, cr, den, sus, legato]
    return st
