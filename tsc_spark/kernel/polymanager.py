"""Set-mode (polyphonic) incremental subsequence clustering manager.

Each timestep is a PolySet (an unordered chord of floats) instead of a
scalar token — the reference's full data model
(/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:24-27).
This subclass reuses the scalar ``ClusterManager``'s entire
orchestration bit-for-bit (constructor, task worklist, forest growth,
valid/invalid grouping, root assignment, journal/rollback, caches,
recency — all inherited unchanged) and overrides only the point layer:

* storage (``_store``, ``data_view``, ``_window``, ``_push``, ``_pop``):
  a list of sets instead of the float64 numpy buffer
* distances (``euclidean_distance``, ``_dists``, ``cluster_complexity``):
  per-step ``min_avg_distance`` (...:244-287) from kernel.polyset, one
  window at a time — ragged sets have no batch path
* representative averaging (``_average_windows``, ``_rep_merge``):
  ``average_sequences`` (...:387-445 — sorted index-wise mean for
  same-size sets, latest-wins otherwise) or, for the generator's
  forced-global streams, the streamwise surface average (...:346-385),
  re-averaged on every merge
* contextual value width (``_update_value_width``): flat mean over all
  set members (...:1051-1094)
* root scan (``_root_dists``, ``_root_rep_set``): ``_dists`` over the
  root nodes' representatives, with no flat mirror to keep
* ``tree``: representatives as lists of sets

Equivalence guarantee (tested): with every set a singleton, this
subclass reproduces the scalar manager's timelines and representative
floats EXACTLY — min_avg_distance of singletons collapses to
clamp01(|a−b|/width), sorting a singleton is the identity, and the flat
mean over singletons is the scalar mean.
"""

from __future__ import annotations

import math

import numpy as np

from ..config import SUBSEQUENCE_MIN_WINDOW_SIZE
from .manager import ClusterManager, ClusterNode, seq_sum
from .polyset import average_sequences, min_avg_distance, streamwise_surface_average

__all__ = ["PolyClusterManager"]


def _copy_seq(seq):
    return [list(s) for s in seq]


class PolyClusterManager(ClusterManager):
    """Set-valued points; scalar orchestration inherited unchanged.

    Takes the base options (``scale_mode``, ``range_*``, ``value_*``,
    ``recency``, ...) as keywords, plus the set-mode ones below."""

    def __init__(
        self,
        data,
        merge_threshold_ratio: float = 0.3,
        min_window_size: int = SUBSEQUENCE_MIN_WINDOW_SIZE,
        calculate_distance_when_added: bool = False,
        *,
        max_set_size: int = 4,
        use_streamwise_surface_average: bool = False,
        stream_axis_offset: float = 0.0,
        **options,
    ):
        self.max_set_size = max(int(max_set_size), 1)
        # forced-global polyphonic streams: representatives average by
        # decoded stream slot (reference ...pcm.jl:343-389)
        self.use_streamwise_surface_average = bool(use_streamwise_surface_average)
        self.stream_axis_offset = float(stream_axis_offset)
        super().__init__(
            data,
            merge_threshold_ratio,
            min_window_size,
            calculate_distance_when_added,
            **options,
        )

    # ------------------------------------------------------------------
    # data access (set storage)
    # ------------------------------------------------------------------
    def _store(self, data) -> None:
        self._sets: list[list[float]] = [[float(v) for v in s] for s in data]
        self._n = len(self._sets)

    def data_view(self):
        return self._sets[: self._n]

    def _window(self, start: int, length: int):
        return self._sets[start : start + length]

    def _push(self, value) -> None:
        if np.isscalar(value):
            value = [float(value)]
        self._sets.append([float(v) for v in value])
        self._n += 1

    def _pop(self) -> None:
        self._sets.pop()
        self._n -= 1

    # ------------------------------------------------------------------
    # point layer
    # ------------------------------------------------------------------
    def _point_dist(self, a, b) -> float:
        return min_avg_distance(a, b, self.value_width, self.max_set_size)

    def euclidean_distance(self, a, b) -> float:
        """sqrt of in-order sum of squared per-step set distances
        (reference ...:317-333); empty representative = all-ones."""
        if a is None:
            L = min(self.min_window_size, len(b))
            return math.sqrt(float(L))
        L = min(len(a), len(b))
        s = 0.0
        for i in range(L):
            d = self._point_dist(a[i], b[i])
            s += d * d
        return math.sqrt(s)

    def _dists(self, seqs, latest_seq) -> list[float]:
        return [self.euclidean_distance(a, latest_seq) for a in seqs]

    def cluster_complexity(self, rep) -> float:
        """Mean adjacent-step set distance (reference ...:691-716)."""
        if rep is None or len(rep) < 2:
            return 0.0
        s = 0.0
        for i in range(len(rep) - 1):
            s += self._point_dist(rep[i], rep[i + 1])
        return s / float(len(rep) - 1)

    def _average_windows(self, starts: list[int], length: int):
        if len(starts) == 1:
            return _copy_seq(self._window(starts[0], length))
        seqs = [self._window(s, length) for s in starts]
        if self.use_streamwise_surface_average:
            return streamwise_surface_average(
                seqs, self.value_min, self.stream_axis_offset, self.max_set_size
            )
        return average_sequences(seqs)

    def _rep_merge(self, node: ClusterNode, length: int):
        # ragged set members have no flat running sum — full re-average
        # (the scalar base class's incremental-sum path doesn't apply)
        return self._average_windows(node.si, length)

    # ------------------------------------------------------------------
    # contextual halves width over flattened set members (...:1063-1094)
    # ------------------------------------------------------------------
    def _update_value_width(self, upto_index: int) -> None:
        if self.scale_mode == "range_fixed":
            return
        last = min(max(upto_index + 1, 1), self._n)
        flat: list[float] = []
        for s in self._sets[:last]:
            flat.extend(s)
        vals = np.asarray(flat, dtype=np.float64)
        cnt = vals.shape[0]
        mean = seq_sum(vals) / cnt if cnt else 0.0

        lo = vals[vals <= mean]
        hi = vals[vals >= mean]
        lower = seq_sum(lo) / lo.shape[0] if lo.shape[0] else 0.0
        upper = seq_sum(hi) / hi.shape[0] if hi.shape[0] else 0.0

        delta = abs(upper - lower)
        if self.scale_mode == "contextual_global_halves":
            delta = max(delta, self.contextual_min_width)
        self.value_width = delta if delta > 0.0 else 1.0

    # ------------------------------------------------------------------
    # roots: read from the nodes (no flat mirror for ragged sets)
    # ------------------------------------------------------------------
    def _root_dists(self, latest_seq) -> np.ndarray:
        reps = [self.clusters[rid].rep for rid in self._root_ids]
        return np.array(self._dists(reps, latest_seq), dtype=np.float64)

    def _root_rep_set(self, cid: int, rep) -> None:
        """Roots are read from their nodes: nothing to mirror."""

    # ------------------------------------------------------------------
    # outputs
    # ------------------------------------------------------------------
    def tree(self):
        """(path, sorted si, rep as list-of-sets) rows."""
        rows = []

        def walk(path, node):
            rep = [] if node.rep is None else _copy_seq(node.rep)
            rows.append((path, sorted(node.si), rep))
            for cid in sorted(node.cc):
                walk(path + [cid], node.cc[cid])

        for cid in sorted(self.clusters):
            walk([cid], self.clusters[cid])
        return rows
