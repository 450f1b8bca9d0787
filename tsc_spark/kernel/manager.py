"""Incremental subsequence clustering kernel (monophonic / token mode).

This is a from-scratch Python/numpy implementation of the computational
semantics of the reference engine's incremental subsequence clustering:

* cluster forest + task worklist:
  /root/reference/src/polyphonic/polyphonic_cluster_manager.jl:1099-1290
* distances (min_avg / euclidean):   ...:244-333
* representative averaging:          ...:387-445
* contextual halves value-width:     ...:1051-1094
* caches + dirty sets:               ...:601-686
* rollback journal + simulation:     ...:797-891,943-1044
* recency weighting:                 ...:525-599

Float-determinism policy: every floating-point reduction that feeds a
merge decision is accumulated **sequentially in the reference's loop
order** (``np.add.accumulate``/in-order loops, never pairwise ``np.sum``),
so results are reproducible bit-for-bit across partitionings, executor
counts and re-runs.  Where the reference iterates a Julia ``Dict`` (whose
order is an implementation detail), this kernel iterates in sorted-key
order — deterministic, documented divergence.

Specialisation: the engine's data plane is pre-tokenized sequences
(``tokens: array<int>`` per ``doc_id``), i.e. every timestep is a single
value.  That collapses the reference's set-distance to
``clamp01(|a-b| / value_width)`` exactly (min_avg_distance of two
singleton sets, ...:244-287), which this kernel exploits with vectorised
numpy.  The set-valued (polyphonic) mode is
``kernel.polymanager.PolyClusterManager``: it inherits everything below
except the point layer — storage (``_store``/``_window``/``_push``/
``_pop``), distances (``_dists``/``euclidean_distance``), averaging
(``_average_windows``/``_rep_merge``), the value width and the root scan
(``_root_dists``/``_root_rep_set``, which here keep the flat root matrix).
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np

from ..config import (
    DEFAULT_CONTEXTUAL_MIN_WIDTH,
    DEFAULT_RANGE_MAX,
    DEFAULT_RANGE_MIN,
    RECENCY_MEMORY_SPAN,
    SUBSEQUENCE_MIN_WINDOW_SIZE,
    UNIT_MAX,
    UNIT_MIN,
)

__all__ = ["ClusterNode", "ClusterManager", "seq_sum"]

# sqrt(window length) memo — identical bits per length, hot on every task
_MAXDIST_CACHE: dict[int, float] = {}


def seq_sum(x: np.ndarray) -> float:
    """Strictly left-to-right float sum (bit-matches a scalar loop)."""
    n = x.shape[0]
    if n == 0:
        return 0.0
    if n == 1:
        return float(x[0])
    return float(np.add.accumulate(x)[-1])


class ClusterNode:
    """One cluster: member start indices, children, representative.

    Mirrors PolyClusterNode (/root/reference/src/polyphonic/
    polyphonic_cluster_manager.jl:32-36).  ``si`` preserves *insertion*
    order (it feeds the float summation order of representative
    averaging); ``rep`` is a float64 array of length == window_size, or
    ``None`` for the degenerate empty-representative seed (...:185-189).
    """

    __slots__ = ("si", "cc", "rep", "rsum")

    def __init__(self, si: list[int], rep: Optional[np.ndarray]):
        self.si: list[int] = si
        self.cc: dict[int, "ClusterNode"] = {}
        self.rep: Optional[np.ndarray] = rep
        # running member-window sum, built on the first merge by the scalar
        # _rep_merge — rep == rsum / len(si).  Never mutated in place; set
        # mode re-averages its ragged members instead and leaves it None.
        self.rsum: Optional[np.ndarray] = None


# journal entry tags (rollback; reference ...:46-99)
_J_DATA = 0
_J_SI = 1
_J_AS = 2
_J_CC = 3
_J_ROOT = 4
_J_WS_DIST = 5
_J_WS_QTY = 6
_J_WS_COMP = 7
_J_CW_DIST = 8
_J_CW_QTY = 9
_J_CW_COMP = 10


class ClusterManager:
    """Incremental subsequence clustering state machine for one series.

    Parameters follow the reference Manager constructor
    (/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:151-228)
    restricted to singleton-set (token) data.
    """

    def __init__(
        self,
        data,
        merge_threshold_ratio: float = 0.3,
        min_window_size: int = SUBSEQUENCE_MIN_WINDOW_SIZE,
        calculate_distance_when_added: bool = False,
        *,
        scale_mode: str = "range_fixed",
        contextual_min_width: float = DEFAULT_CONTEXTUAL_MIN_WIDTH,
        range_min: float = DEFAULT_RANGE_MIN,
        range_max: float = DEFAULT_RANGE_MAX,
        value_min: float = UNIT_MIN,
        value_max: float = UNIT_MAX,
        recency: float = 0.0,
    ):
        self.mtr = float(merge_threshold_ratio)
        self.min_window_size = int(min_window_size)
        self.calc_dist_on_add = bool(calculate_distance_when_added)
        self.scale_mode = scale_mode
        self.contextual_min_width = float(contextual_min_width)
        self._store(data)

        if scale_mode == "range_fixed":
            vmin, vmax = float(range_min), float(range_max)
        else:
            vmin, vmax = float(value_min), float(value_max)
        vwidth = abs(vmax - vmin)
        self.value_min = vmin
        self.value_max = vmax
        self.value_width = vwidth if vwidth > 0.0 else 1.0

        self.recency = min(max(float(recency), 0.0), 1.0)

        # seed cluster 0 = first window (reference ...:183-191)
        mw = self.min_window_size
        seed_rep = self._window(0, mw).copy() if self._n >= mw else None
        self.clusters: dict[int, ClusterNode] = {0: ClusterNode([0], seed_rep)}
        self.cluster_id_counter = 1
        self.tasks: list[tuple[list[int], int]] = []

        # Root ids only ever grow, so _root_ids stays ascending and
        # argmin's first-hit tie-break == the reference's smaller-id
        # tie-break (...:1259).
        self._root_ids: list[int] = [0]
        self._root_row: dict[int, int] = {0: 0}
        self._root_rep_set(0, seed_rep)
        # start index -> owning root id (each start joins at most one root)
        self._start_to_root: dict[int, int] = {0: 0}

        self.updated_dist: dict[int, set[int]] = {mw: {0}}
        self.updated_qty: dict[int, set[int]] = {mw: {0}}

        self.dist_cache: dict[int, dict[tuple[int, int], float]] = {mw: {}}
        self.qty_cache: dict[int, dict[int, float]] = {mw: {}}
        self.comp_cache: dict[int, dict[int, float]] = {mw: {}}

        self._recording = False
        self._journal: list[tuple] = []
        self._snapshot = None

    # ------------------------------------------------------------------
    # data access
    # ------------------------------------------------------------------
    def _store(self, data) -> None:
        """Point storage: a float64 buffer with append headroom, its
        prefix sums, and the flat root-representative matrix."""
        data = np.asarray(data, dtype=np.float64)
        n = data.shape[0]
        self._buf = np.empty(n + 64, dtype=np.float64)
        self._buf[:n] = data
        self._n = n

        # prefix_sums[i] = left-to-right sum of data[:i]; maintained
        # incrementally so append+pop round-trips restore exact bits.
        self._prefix = [0.0]
        acc = 0.0
        for i in range(n):
            acc = acc + float(data[i])
            self._prefix.append(acc)

        # Root-cluster distance scans dominate the per-step cost, so root
        # representatives are mirrored row by row (_root_row) in one
        # matrix; _root_empty holds the roots whose representative is
        # the empty set.
        self._root_reps = np.zeros((16, self.min_window_size), dtype=np.float64)
        self._root_empty: set[int] = set()

    @property
    def n(self) -> int:
        return self._n

    def data_view(self) -> np.ndarray:
        return self._buf[: self._n]

    def _window(self, start: int, length: int) -> np.ndarray:
        return self._buf[start : start + length]

    def _push(self, value: float) -> None:
        if self._n == self._buf.shape[0]:
            nbuf = np.empty(self._buf.shape[0] * 2, dtype=np.float64)
            nbuf[: self._n] = self._buf[: self._n]
            self._buf = nbuf
        self._buf[self._n] = value
        self._n += 1
        self._prefix.append(self._prefix[-1] + float(value))

    def _pop(self) -> None:
        self._n -= 1
        self._prefix.pop()

    # ------------------------------------------------------------------
    # distances (token specialisation of reference ...:244-333)
    # ------------------------------------------------------------------
    def _step_dists(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Per-step normalized distances clamp01(|a-b|/width)."""
        L = min(a.shape[0], b.shape[0])
        d = np.abs(a[:L] - b[:L]) / self.value_width
        # d >= 0 by construction, so min(d, 1) == clip(d, 0, 1) bit-wise;
        # np.minimum skips np.clip's _wrapfunc dispatch (hot path)
        np.minimum(d, 1.0, out=d)
        return d

    def euclidean_distance(self, a: Optional[np.ndarray], b: np.ndarray) -> float:
        """sqrt of in-order sum of squared per-step distances.

        ``a is None`` = empty-set representative: each step distance is
        1.0 (empty vs non-empty set, reference ...:250).
        """
        if a is None:
            L = min(self.min_window_size, b.shape[0])
            return math.sqrt(float(L))  # sum of L ones, exact
        return self._dists([a], b)[0]

    def _dists(self, seqs: list[np.ndarray], latest_seq: np.ndarray) -> list[float]:
        """Euclidean distance of each window in ``seqs`` to ``latest_seq``.

        The one distance call of every nearest-cluster search and of
        euclidean_distance.  The path depends on size only; all three
        apply abs → /width → clamp → square → left-to-right sum → sqrt
        per window, so their bits are equal: 8 or more candidates take
        one vectorized pass, windows of at most 16 steps a scalar loop
        (~5× cheaper than ufunc dispatch there), longer ones numpy per
        window.
        """
        if len(seqs) >= 8:
            return self._seq_dists_batch(np.stack(seqs), latest_seq).tolist()
        out = []
        if latest_seq.shape[0] <= 16:
            w = self.value_width
            bv = latest_seq.tolist()
            for a in seqs:
                s = 0.0
                for x, y in zip(a.tolist(), bv):
                    d = abs(x - y) / w
                    if d > 1.0:
                        d = 1.0
                    s += d * d
                out.append(math.sqrt(s))
        else:
            for a in seqs:
                d = self._step_dists(a, latest_seq)
                d *= d
                out.append(math.sqrt(seq_sum(d)))
        return out

    def _seq_dists_batch(self, reps: np.ndarray, latest_seq: np.ndarray) -> np.ndarray:
        """Euclidean distance of each row of ``reps`` (k, L) to latest_seq.

        Row-wise identical arithmetic to euclidean_distance: clamp01 per
        step, square, *sequential* sum along the step axis, sqrt."""
        d = np.abs(reps - latest_seq) / self.value_width
        np.minimum(d, 1.0, out=d)  # d >= 0: min == clip01, cheaper dispatch
        d *= d
        # left-to-right column accumulation — the same IEEE op order as
        # np.add.accumulate(axis=1)[:, -1] without the (k, L) prefix array
        s = d[:, 0].copy()
        for j in range(1, d.shape[1]):
            s += d[:, j]
        return np.sqrt(s)

    def euclidean_distance_pair(self, n1: ClusterNode, n2: ClusterNode) -> float:
        if n1.rep is None and n2.rep is None:
            return 0.0
        if n1.rep is None:
            return self.euclidean_distance(None, n2.rep)
        if n2.rep is None:
            return self.euclidean_distance(None, n1.rep)
        return self.euclidean_distance(n1.rep, n2.rep)

    def cluster_complexity(self, rep: Optional[np.ndarray]) -> float:
        """Mean adjacent-step distance of the representative (...:691-698)."""
        if rep is None or rep.shape[0] < 2:
            return 0.0
        d = self._step_dists(rep[:-1], rep[1:])
        return seq_sum(d) / float(rep.shape[0] - 1)

    # ------------------------------------------------------------------
    # representative averaging (reference ...:387-445, singleton sets)
    # ------------------------------------------------------------------
    def _window_sum(self, starts: list[int], length: int) -> np.ndarray:
        """Element-wise sum of the windows at ``starts``, added in
        ``starts`` order (insertion order == the reference's summation
        order); short windows add in a scalar loop, bit-equal to numpy."""
        if length <= 16:
            buf = self._buf
            acc = [0.0] * length
            for s in starts:
                acc = [x + y for x, y in zip(acc, buf[s : s + length].tolist())]
            return np.array(acc, dtype=np.float64)
        acc = np.zeros(length, dtype=np.float64)
        for s in starts:
            acc += self._window(s, length)
        return acc

    def _average_windows(self, starts: list[int], length: int) -> np.ndarray:
        if len(starts) == 1:
            return self._window(starts[0], length).copy()
        return self._window_sum(starts, length) / float(len(starts))

    def _rep_merge(self, node: ClusterNode, length: int) -> np.ndarray:
        """Representative after ``node.si`` gained its last member: the
        running-sum incremental average.

        Sequential member-order summation (the reference's op order,
        ...:387-445) means sum(si) == sum(si[:-1]) + window(si[-1]) with
        identical IEEE additions per element, so updating a cached
        running sum is *bit-equal* to re-summing every member while
        costing O(L) instead of O(k·L).  The cache is (re)built in
        insertion order on first merge (seed nodes predate it) or when
        absent."""
        rs = node.rsum
        if rs is None or rs.shape[0] != length:
            rs = self._window_sum(node.si, length)
        else:
            rs = rs + self._window(node.si[-1], length)
        node.rsum = rs
        return rs / float(len(node.si))

    # ------------------------------------------------------------------
    # contextual halves value-width (reference ...:1051-1094)
    # ------------------------------------------------------------------
    def _update_value_width(self, upto_index: int) -> None:
        if self.scale_mode == "range_fixed":
            return
        last = min(max(upto_index + 1, 1), self._n)
        if last > self._n:
            last = self._n
        pre = self._buf[:last]
        cnt = pre.shape[0]
        mean = 0.0 if cnt == 0 else self._prefix[last] / cnt

        lo_mask = pre <= mean
        hi_mask = pre >= mean
        c_lo = int(lo_mask.sum())
        c_hi = int(hi_mask.sum())
        lower = seq_sum(pre[lo_mask]) / c_lo if c_lo else 0.0
        upper = seq_sum(pre[hi_mask]) / c_hi if c_hi else 0.0

        delta = abs(upper - lower)
        if self.scale_mode == "contextual_global_halves":
            delta = max(delta, self.contextual_min_width)
        self.value_width = delta if delta > 0.0 else 1.0

    # ------------------------------------------------------------------
    # journal (reference ...:797-891)
    # ------------------------------------------------------------------
    def _record(self, entry: tuple) -> None:
        if self._recording:
            self._journal.append(entry)

    def _start_transaction(self) -> None:
        self._recording = True
        self._journal.clear()
        self._snapshot = (
            [(list(k), l, node) for (k, l, node) in self.tasks],
            self.cluster_id_counter,
            {ws: set(s) for ws, s in self.updated_dist.items()},
            {ws: set(s) for ws, s in self.updated_qty.items()},
        )

    def _rollback(self) -> None:
        for entry in reversed(self._journal):
            tag = entry[0]
            if tag == _J_DATA:
                self._pop()
            elif tag == _J_SI:
                s = entry[1].si.pop()
                if entry[2] is not None:  # root membership undo
                    self._start_to_root.pop(s, None)
            elif tag == _J_AS:
                entry[1].rep = entry[2]
                entry[1].rsum = entry[4]
                if entry[3] is not None:  # a root's representative
                    self._root_rep_set(entry[3], entry[2])
            elif tag == _J_CC:
                del entry[1][entry[2]]
            elif tag == _J_ROOT:
                cid = entry[1]
                node = self.clusters[cid]
                if node.si:
                    self._start_to_root.pop(node.si[0], None)
                del self.clusters[cid]
                # root additions are append-only; reversed journal order
                # guarantees this is the last row
                assert self._root_ids[-1] == cid
                self._root_ids.pop()
                del self._root_row[cid]
            elif tag == _J_WS_DIST:
                del self.dist_cache[entry[1]]
            elif tag == _J_WS_QTY:
                del self.qty_cache[entry[1]]
            elif tag == _J_WS_COMP:
                del self.comp_cache[entry[1]]
            elif tag in (_J_CW_DIST, _J_CW_QTY, _J_CW_COMP):
                cache, key, old = entry[1], entry[2], entry[3]
                if old is None:
                    cache.pop(key, None)
                else:
                    cache[key] = old
        if self._snapshot is not None:
            self.tasks = self._snapshot[0]
            self.cluster_id_counter = self._snapshot[1]
            self.updated_dist = self._snapshot[2]
            self.updated_qty = self._snapshot[3]
        self._recording = False
        self._journal.clear()
        self._snapshot = None

    # ------------------------------------------------------------------
    # incremental clustering core (reference ...:1099-1290)
    # ------------------------------------------------------------------
    @staticmethod
    def _max_distance(length: int) -> float:
        v = _MAXDIST_CACHE.get(length)
        if v is None:
            v = math.sqrt(float(max(length, 1)))
            _MAXDIST_CACHE[length] = v
        return v

    @staticmethod
    def _add_updated(target: dict[int, set[int]], ws: int, cid: int) -> None:
        s = target.get(ws)
        if s is None:
            target[ws] = s = set()
        s.add(cid)

    def process_data(self) -> None:
        """Cluster the whole series (reference process_data!, ...:504-512)."""
        for data_index in range(self._n):
            if data_index <= self.min_window_size - 1:
                continue
            self._cluster_incremental(data_index)

    def add_data_point(self, value: float) -> None:
        """Append one point and re-cluster (reference ...:514-517)."""
        self._push(value)
        self._record((_J_DATA,))
        self._cluster_incremental(self._n - 1)

    def _cluster_incremental(self, data_index: int) -> None:
        self._update_value_width(data_index)

        current_tasks = list(self.tasks)
        self.tasks = []

        # tasks carry a direct reference to their target node (3rd slot)
        # so each step skips a root-to-node re-walk of the keys; node objects
        # survive rollback (creates are undone, existing nodes are never
        # replaced), so snapshot-restored tasks stay valid.
        for keys_to_parent, length0, parent in current_tasks:
            if parent is None:
                continue
            new_length = length0 + 1
            latest_start = data_index - new_length + 1
            if latest_start < 0:
                continue
            latest_seq = self._window(latest_start, new_length)
            valid_si = [
                s
                for s in parent.si
                if (s + new_length <= data_index + 1) and (s != latest_start)
            ]
            if not valid_si:
                continue
            max_distance = self._max_distance(new_length)
            if parent.cc:
                self._process_existing(
                    parent, latest_seq, max_distance, latest_start, new_length, keys_to_parent
                )
            else:
                self._process_new(
                    parent, valid_si, latest_seq, max_distance, latest_start, new_length, keys_to_parent
                )

        self._process_roots(data_index, self._max_distance(self.min_window_size))

    def _process_existing(
        self, parent, latest_seq, max_distance, latest_start, new_length, keys_to_parent
    ) -> None:
        # nearest child by (distance, cluster_id) — reference ...:1144-1157.
        # Child ids are inserted in ascending cluster_id_counter order and
        # rollback only deletes the newest, so dict order IS ascending and
        # the first minimum is the smallest-cid tie-break.
        cids = list(parent.cc)
        dists = self._dists([child.rep for child in parent.cc.values()], latest_seq)
        min_distance = min(dists)
        best_id = cids[dists.index(min_distance)]
        best_child = parent.cc[best_id]
        ratio = 0.0 if max_distance == 0.0 else min_distance / max_distance

        if ratio <= self.mtr:
            best_child.si.append(latest_start)
            self._record((_J_SI, best_child, None))
            old_rep = best_child.rep
            old_rsum = best_child.rsum
            best_child.rep = self._rep_merge(best_child, new_length)
            self._record((_J_AS, best_child, old_rep, None, old_rsum))
            self._add_updated(self.updated_qty, new_length, best_id)
            if self.calc_dist_on_add:
                self._add_updated(self.updated_dist, new_length, best_id)
            self.tasks.append((keys_to_parent + [best_id], new_length, best_child))
        else:
            cid = self.cluster_id_counter
            parent.cc[cid] = ClusterNode([latest_start], latest_seq.copy())
            self._record((_J_CC, parent.cc, cid))
            self._add_updated(self.updated_dist, new_length, cid)
            self.cluster_id_counter += 1

    def _process_new(
        self, parent, valid_si, latest_seq, max_distance, latest_start, new_length, keys_to_parent
    ) -> None:
        valid_group: list[int] = []
        invalid_group: list[int] = []
        dists = self._dists([self._window(s, new_length) for s in valid_si], latest_seq)
        for s, d in zip(valid_si, dists):
            ratio = 0.0 if max_distance == 0.0 else d / max_distance
            (valid_group if ratio <= self.mtr else invalid_group).append(s)

        if valid_group:
            starts = valid_group + [latest_start]
            cid = self.cluster_id_counter
            node = ClusterNode(starts, self._average_windows(starts, new_length))
            parent.cc[cid] = node
            self._record((_J_CC, parent.cc, cid))
            self._add_updated(self.updated_dist, new_length, cid)
            if self.recency > 0.0:
                self._add_updated(self.updated_qty, new_length, cid)
            self.tasks.append((keys_to_parent + [cid], new_length, node))
            self.cluster_id_counter += 1
        else:
            cid = self.cluster_id_counter
            parent.cc[cid] = ClusterNode([latest_start], latest_seq.copy())
            self._record((_J_CC, parent.cc, cid))
            self._add_updated(self.updated_dist, new_length, cid)
            self.cluster_id_counter += 1

        for s in invalid_group:
            cid = self.cluster_id_counter
            parent.cc[cid] = ClusterNode([s], self._window(s, new_length).copy())
            self._record((_J_CC, parent.cc, cid))
            self._add_updated(self.updated_dist, new_length, cid)
            self.cluster_id_counter += 1

    def _root_dists(self, latest_seq) -> np.ndarray:
        """Distance of every root representative to latest_seq, in
        _root_ids order.

        Vectorized nearest-root scan over the flat rep mirror; bit-equal
        per-row arithmetic, argmin first-hit == smaller-id tie-break.
        Empty-set representatives read sqrt(mw) (each step distance 1.0,
        reference ...:250)."""
        mw = self.min_window_size
        k = len(self._root_ids)
        dists = self._seq_dists_batch(self._root_reps[:k], latest_seq)
        for ecid in self._root_empty:
            dists[self._root_row[ecid]] = math.sqrt(float(mw))
        return dists

    def _root_rep_set(self, cid: int, rep: Optional[np.ndarray]) -> None:
        """Mirror root ``cid``'s representative into its matrix row."""
        row = self._root_row[cid]
        if row == self._root_reps.shape[0]:
            grown = np.zeros((row * 2, self._root_reps.shape[1]), dtype=np.float64)
            grown[:row] = self._root_reps
            self._root_reps = grown
        if rep is None:
            self._root_empty.add(cid)
        else:
            self._root_reps[row] = rep
            self._root_empty.discard(cid)

    def _root_add(self, cid: int, node: ClusterNode) -> None:
        self._root_row[cid] = len(self._root_ids)
        self._root_ids.append(cid)
        self._root_rep_set(cid, node.rep)
        if node.si:
            self._start_to_root[node.si[0]] = cid

    def _process_roots(self, data_index: int, max_distance: float) -> None:
        latest_start = data_index - 1
        if latest_start < 0:
            return
        mw = self.min_window_size
        latest_seq = self._window(latest_start, mw)

        dists = self._root_dists(latest_seq)
        owner = self._start_to_root.get(latest_start)
        if owner is not None:
            dists[self._root_row[owner]] = math.inf
        i = int(np.argmin(dists))
        min_distance = float(dists[i])
        if math.isinf(min_distance):
            best = None
            best_id = -1
        else:
            best_id = self._root_ids[i]
            best = self.clusters[best_id]
        ratio = 0.0 if max_distance == 0.0 else min_distance / max_distance

        if best is not None and ratio <= self.mtr:
            best.si.append(latest_start)
            self._record((_J_SI, best, best_id))
            self._start_to_root[latest_start] = best_id
            old_rep = best.rep
            old_rsum = best.rsum
            best.rep = self._rep_merge(best, mw)
            self._root_rep_set(best_id, best.rep)
            self._record((_J_AS, best, old_rep, best_id, old_rsum))
            self._add_updated(self.updated_qty, mw, best_id)
            if self.calc_dist_on_add:
                self._add_updated(self.updated_dist, mw, best_id)
            self.tasks.append(([best_id], mw, best))
        else:
            cid = self.cluster_id_counter
            node = ClusterNode([latest_start], latest_seq.copy())
            self.clusters[cid] = node
            self._root_add(cid, node)
            self._record((_J_ROOT, cid))
            self._add_updated(self.updated_dist, mw, cid)
            self.cluster_id_counter += 1

    # ------------------------------------------------------------------
    # forest traversal / outputs
    # ------------------------------------------------------------------
    def collect_clusters_each(self) -> dict[int, dict[int, ClusterNode]]:
        """window_size -> {cluster_id: node} (reference ...:893-910)."""
        out: dict[int, dict[int, ClusterNode]] = {}
        stack = [(self.min_window_size, cid, n) for cid, n in self.clusters.items()]
        while stack:
            ws, cid, node = stack.pop()
            out.setdefault(ws, {})[cid] = node
            for ccid, child in node.cc.items():
                stack.append((ws + 1, ccid, child))
        return out

    def timeline(self) -> list[tuple[int, str, list[int]]]:
        """(window_size, cluster_id, sorted indices) rows, sorted by
        (window_size, int cluster_id).  Content per reference
        clusters_to_timeline (...:744-768); row order is normalised here
        because the reference emits Dict-iteration order.
        """
        rows: list[tuple[int, str, list[int]]] = []
        stack = [(self.min_window_size, cid, n) for cid, n in self.clusters.items()]
        while stack:
            ws, cid, node = stack.pop()
            if node.si:
                rows.append((ws, str(cid), sorted(node.si)))
            for ccid, child in node.cc.items():
                stack.append((ws + 1, ccid, child))
        rows.sort(key=lambda r: (r[0], int(r[1])))
        return rows

    def tree(self) -> list[tuple[list[int], list[int], list[float]]]:
        """(path, sorted si, rep) rows, path = root→node cluster ids.

        Per reference cluster_to_dict (...:1313-1323); empty rep (seed
        before min_window data) flattens to [].
        """
        rows: list[tuple[list[int], list[int], list[float]]] = []

        def walk(path: list[int], node: ClusterNode) -> None:
            rep = [] if node.rep is None else [float(v) for v in node.rep]
            rows.append((path, sorted(node.si), rep))
            for cid in sorted(node.cc):
                walk(path + [cid], node.cc[cid])

        for cid in sorted(self.clusters):
            walk([cid], self.clusters[cid])
        return rows

    # ------------------------------------------------------------------
    # caches (reference update_caches_permanently!, ...:601-686)
    # ------------------------------------------------------------------
    def update_caches_permanently(self) -> None:
        clusters_each = self.collect_clusters_each()
        for ws in sorted(clusters_each):
            same_ws = clusters_each[ws]
            all_ids = sorted(same_ws)

            cache = self.dist_cache.setdefault(ws, {})
            updated = self.updated_dist.get(ws)
            if not cache:
                for i, c1 in enumerate(all_ids):
                    n1 = same_ws[c1]
                    for c2 in all_ids[i + 1 :]:
                        key = (c1, c2) if c1 < c2 else (c2, c1)
                        cache[key] = self.euclidean_distance_pair(n1, same_ws[c2])
            elif updated:
                for c1 in sorted(updated):
                    n1 = same_ws.get(c1)
                    if n1 is None:
                        continue
                    for c2 in all_ids:
                        if c1 == c2:
                            continue
                        key = (c1, c2) if c1 < c2 else (c2, c1)
                        cache[key] = self.euclidean_distance_pair(n1, same_ws[c2])

            q_cache = self.qty_cache.setdefault(ws, {})
            c_cache = self.comp_cache.setdefault(ws, {})
            updated_q = self.updated_qty.get(ws)
            if not q_cache or not c_cache:
                for cid in all_ids:
                    node = same_ws[cid]
                    if len(node.si) <= 1:
                        continue
                    q_cache[cid] = float(len(node.si) * ws)
                    c_cache[cid] = self.cluster_complexity(node.rep)
            elif updated_q:
                for cid in sorted(updated_q):
                    node = same_ws.get(cid)
                    if node is None or len(node.si) <= 1:
                        continue
                    q_cache[cid] = float(len(node.si) * ws)
                    c_cache[cid] = self.cluster_complexity(node.rep)

        self.updated_dist.clear()
        self.updated_qty.clear()

    # ------------------------------------------------------------------
    # recency weighting (reference ...:525-599,912-939)
    # ------------------------------------------------------------------
    def _recency_weight(self, now_index: int, start_index: int) -> float:
        r = min(max(self.recency, 0.0), 1.0)
        r = r * r * (3.0 - 2.0 * r)  # smoothstep
        if r <= 0.0:
            return 1.0
        age = max(now_index - start_index, 0)
        span = math.exp((1.0 - r) * math.log(RECENCY_MEMORY_SPAN))
        return (1.0 - r) + r * math.exp(-float(age) / span)

    def _cluster_recency_weight(self, node: ClusterNode, now_index: int) -> float:
        last = max(node.si) if node.si else 0
        return self._recency_weight(now_index, last)

    def _latest_usage_score(self, clusters_each, now_index: int) -> float:
        usage = 0.0
        for ws in sorted(clusters_each):
            same_ws = clusters_each[ws]
            latest_start = now_index - ws + 1
            if latest_start < 0:
                continue
            target = None
            for cid in sorted(same_ws):
                if latest_start in same_ws[cid].si:
                    target = same_ws[cid]
                    break
            if target is None:
                continue
            local = 0.0
            for s in target.si:
                if s == latest_start:
                    continue
                local += self._recency_weight(now_index, s)
            usage += local / math.sqrt(float(max(ws, 1)))
        return usage

    # ------------------------------------------------------------------
    # speculative simulation (reference simulate_add_and_calculate_all,
    # ...:943-1044); dict-value sums run in sorted-key order.
    # ------------------------------------------------------------------
    def simulate_add_and_calculate_all(self, candidate: float):
        self._start_transaction()
        self.updated_dist.clear()
        self.updated_qty.clear()
        try:
            self._push(candidate)
            self._record((_J_DATA,))
            self._cluster_incremental(self._n - 1)
            clusters_each = self.collect_clusters_each()

            sum_d = 0.0
            sum_q = 0.0
            sum_c = 0.0
            now = self._n - 1
            usage = self._latest_usage_score(clusters_each, now)

            for ws in sorted(clusters_each):
                same_ws = clusters_each[ws]
                all_ids = sorted(same_ws)
                updated_ids = sorted(self.updated_dist.get(ws, ()))

                if ws not in self.dist_cache:
                    self.dist_cache[ws] = {}
                    self._record((_J_WS_DIST, ws))
                cache = self.dist_cache[ws]

                for c1 in updated_ids:
                    n1 = same_ws.get(c1)
                    if n1 is None:
                        continue
                    for c2 in all_ids:
                        if c1 == c2:
                            continue
                        key = (c1, c2) if c1 < c2 else (c2, c1)
                        old = cache.get(key)
                        cache[key] = self.euclidean_distance_pair(n1, same_ws[c2])
                        self._record((_J_CW_DIST, cache, key, old))

                updated_q_ids = sorted(self.updated_qty.get(ws, ()))
                if ws not in self.qty_cache:
                    self.qty_cache[ws] = {}
                    self._record((_J_WS_QTY, ws))
                q_cache = self.qty_cache[ws]
                if ws not in self.comp_cache:
                    self.comp_cache[ws] = {}
                    self._record((_J_WS_COMP, ws))
                c_cache = self.comp_cache[ws]

                for cid in updated_q_ids:
                    node = same_ws.get(cid)
                    if node is None or len(node.si) <= 1:
                        continue
                    old_q = q_cache.get(cid)
                    q_cache[cid] = float(len(node.si) * ws)
                    self._record((_J_CW_QTY, q_cache, cid, old_q))
                    old_c = c_cache.get(cid)
                    c_cache[cid] = self.cluster_complexity(node.rep)
                    self._record((_J_CW_COMP, c_cache, cid, old_c))

                if self.recency <= 0.0:
                    if cache:
                        acc = 0.0
                        for key in sorted(cache):
                            acc += cache[key]
                        sum_d += acc / float(ws)
                    if q_cache:
                        acc = 0.0
                        for key in sorted(q_cache):
                            acc += q_cache[key]
                        sum_q += acc
                    if c_cache:
                        acc = 0.0
                        for key in sorted(c_cache):
                            acc += c_cache[key]
                        sum_c += acc
                else:
                    if cache:
                        sum_d += self._weighted_distance_score(cache, same_ws, now)
                    sum_q += self._weighted_quantity_score(same_ws, ws, now)
                    if c_cache:
                        sum_c += self._weighted_complexity_score(c_cache, same_ws, now)

            return (sum_d, sum_q, sum_c, usage)
        finally:
            self._rollback()

    def _weighted_distance_score(self, cache, same_ws, now_index: int) -> float:
        weighted = 0.0
        weight_sum = 0.0
        for key in sorted(cache):
            n1 = same_ws.get(key[0])
            n2 = same_ws.get(key[1])
            if n1 is None or n2 is None:
                continue
            w = math.sqrt(
                self._cluster_recency_weight(n1, now_index)
                * self._cluster_recency_weight(n2, now_index)
            )
            weighted += cache[key] * w
            weight_sum += w
        return weighted / weight_sum if weight_sum > 0.0 else 0.0

    def _weighted_quantity_score(self, same_ws, ws: int, now_index: int) -> float:
        total = 0.0
        for cid in sorted(same_ws):
            node = same_ws[cid]
            if len(node.si) <= 1:
                continue
            t = 0.0
            for s in node.si:
                t += self._recency_weight(now_index, s)
            total += t * float(ws)
        return total

    def _weighted_complexity_score(self, c_cache, same_ws, now_index: int) -> float:
        weighted = 0.0
        weight_sum = 0.0
        for cid in sorted(c_cache):
            node = same_ws.get(cid)
            if node is None:
                continue
            w = self._cluster_recency_weight(node, now_index)
            weighted += c_cache[cid] * w
            weight_sum += w
        return weighted / weight_sum if weight_sum > 0.0 else 0.0
