"""Per-series entry points mirroring the reference compute endpoints.

analyse  — /root/reference/src/controllers/time_series_controller.jl:2211-2248
generate — ...:2251-2331 (+ initial_calc_values! ...:2174-2206)
"""

from __future__ import annotations

from ..config import (
    DEFAULT_CONTEXTUAL_MIN_WIDTH,
    DEFAULT_MERGE_THRESHOLD_RATIO,
    DEFAULT_RANGE_MAX,
    DEFAULT_RANGE_MIN,
    SUBSEQUENCE_MIN_WINDOW_SIZE,
)
from .manager import ClusterManager
from .scoring import combine_complexity_metric_scores, select_candidate_by_complexity_score

__all__ = ["analyse_tokens", "generate_tokens"]


def analyse_tokens(
    tokens,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
) -> ClusterManager:
    """Cluster one token series with analyse semantics
    (contextual_global_halves scaling, distance-on-add enabled)."""
    mgr = ClusterManager(
        [float(int(v)) for v in tokens],
        merge_threshold_ratio,
        SUBSEQUENCE_MIN_WINDOW_SIZE,
        True,
        scale_mode="contextual_global_halves",
        contextual_min_width=contextual_min_width,
    )
    mgr.process_data()
    return mgr


def generate_tokens(
    first_elements,
    complexity_targets,
    merge_threshold_ratio: float = DEFAULT_MERGE_THRESHOLD_RATIO,
    range_min: int = DEFAULT_RANGE_MIN,
    range_max: int = DEFAULT_RANGE_MAX,
):
    """Complexity-guided sequence generation (reference generate()).

    Returns (results, manager).  Inherently serial step-to-step; the
    distributed engine parallelises across independent generation
    requests, not within one.
    """
    mgr = ClusterManager(
        [float(int(v)) for v in first_elements],
        merge_threshold_ratio,
        SUBSEQUENCE_MIN_WINDOW_SIZE,
        False,
        scale_mode="range_fixed",
        range_min=range_min,
        range_max=range_max,
        recency=0.0,
    )
    mgr.process_data()
    mgr.update_caches_permanently()  # initial_calc_values! (...:2174-2206, 2287)

    results = [int(v) for v in first_elements]
    candidates = list(range(int(range_min), int(range_max) + 1))

    for target_val in complexity_targets:
        raw_d: list[float] = []
        raw_q: list[float] = []
        raw_c: list[float] = []
        raw_u: list[float] = []
        for cand in candidates:
            d, q, c, u = mgr.simulate_add_and_calculate_all(float(cand))
            raw_d.append(d)
            raw_q.append(q)
            raw_c.append(c)
            raw_u.append(u)
        scores = combine_complexity_metric_scores(raw_d, raw_q, raw_c, raw_u)
        idx = select_candidate_by_complexity_score(scores, float(target_val))
        value = candidates[idx]
        results.append(value)
        mgr.add_data_point(float(value))
        mgr.update_caches_permanently()

    return results, mgr
