"""Multi-stream pool manager for polyphonic generation.

Exact semantics of the reference multi-stream manager
(/root/reference/src/polyphonic/multi_stream_manager.jl): a pool of
per-stream PolyClusterManagers with lifecycle (fork / deactivate /
revive), presence tracking, per-candidate complexity cost
precalculation, and Hungarian stream↔candidate mapping over the
streams' last values.

Numeric primitives are shared with kernel.multistream
(generate_centered_targets, INACTIVE_STRENGTH_DECAY)
and kernel.dissonance (hungarian_min_assignment); this module owns the
mutable pool state the reference keeps in ``Manager`` (...:88-113).
"""

from __future__ import annotations

import copy
import math

from ..config import MAX_SET_SIZE
from .multistream import INACTIVE_STRENGTH_DECAY, generate_centered_targets
from .dissonance import hungarian_min_assignment
from .polymanager import PolyClusterManager

__all__ = ["StreamContainer", "LifecyclePlan", "StreamPool"]


def _to_polyset(v) -> list[float]:
    if isinstance(v, (list, tuple)):
        return [float(x) for x in v]
    return [float(v)]


class StreamContainer:
    """Reference StreamContainer (...:68-77)."""

    __slots__ = (
        "id", "manager", "last_value",
        "presence_sum", "presence_count", "presence_avg",
    )

    def __init__(self, sid, manager, last_value,
                 presence_sum=0.0, presence_count=0, presence_avg=0.0):
        self.id = sid
        self.manager = manager
        self.last_value = list(last_value)
        self.presence_sum = presence_sum
        self.presence_count = presence_count
        self.presence_avg = presence_avg


class LifecyclePlan:
    """Reference LifecyclePlan (...:79-85)."""

    def __init__(self, deactivate_ids, revive_ids, fork_pairs, active_ids):
        self.deactivate_ids = list(deactivate_ids)
        self.revive_ids = list(revive_ids)
        self.fork_pairs = list(fork_pairs)
        self.active_ids = list(active_ids)


def _clamp01(x: float) -> float:
    return min(max(float(x), 0.0), 1.0)


class StreamPool:
    """Reference MultiStreamManager.Manager (...:88-382)."""

    def __init__(
        self,
        history_matrix,
        merge_threshold_ratio: float,
        min_window_size: int,
        *,
        value_range,
        track_presence: bool = False,
    ):
        self.merge_threshold_ratio = float(merge_threshold_ratio)
        self.min_window_size = int(min_window_size)
        self.track_presence = bool(track_presence)
        self.history_matrix = self._normalize_history_matrix(history_matrix)
        self.next_stream_id = 1
        self.stream_pool: list[StreamContainer] = []
        self.containers_by_id: dict[int, StreamContainer] = {}
        self.active_ids: list[int] = []
        self.inactive_ids: list[int] = []
        self.max_simultaneous_notes = MAX_SET_SIZE
        self.recency = 0.0
        self.value_min = float(min(value_range))
        self.value_max = float(max(value_range))
        width = abs(self.value_max - self.value_min)
        self.value_width = width if width > 0.0 else 1.0

        self._build_initial_streams_from_history()

    # -- construction (reference ...:130-322) --------------------------
    @staticmethod
    def _normalize_history_matrix(raw):
        rows = list(raw) if raw is not None else []
        max_cols = 1
        for row in rows:
            try:
                max_cols = max(max_cols, len(row))
            except TypeError:
                pass
        out = []
        for row in rows:
            rr = []
            for j in range(max_cols):
                v = row[j] if j < len(row) else None
                if v is None:
                    rr.append([0.0])
                elif isinstance(v, (list, tuple)):
                    rr.append([float(x) for x in v])
                else:
                    rr.append([float(v)])
            out.append(rr)
        return out

    def _build_stream_manager(self, series) -> PolyClusterManager:
        mgr = PolyClusterManager(
            series,
            self.merge_threshold_ratio,
            self.min_window_size,
            False,
            scale_mode="range_fixed",
            range_min=self.value_min,
            range_max=self.value_max,
            value_min=self.value_min,
            value_max=self.value_max,
            max_set_size=self.max_simultaneous_notes,
            recency=self.recency,
        )
        # reference builds stream managers with try/catch noop around
        # both calls (multi_stream_manager.jl:243-252)
        try:
            mgr.process_data()
        except Exception:
            pass
        try:
            mgr.update_caches_permanently()
        except Exception:
            pass
        return mgr

    def _scalar_to_strength01(self, x: float) -> float:
        if self.value_width > 0.0 and math.isfinite(self.value_width):
            return _clamp01((float(x) - self.value_min) / self.value_width)
        return _clamp01(x)

    def _build_initial_streams_from_history(self):
        steps = len(self.history_matrix)
        stream_count = max(len(self.history_matrix[0]) if steps else 1, 1)
        for s_idx in range(stream_count):
            series = [list(self.history_matrix[t][s_idx]) for t in range(steps)]
            sid = self.next_stream_id
            self.next_stream_id += 1
            mgr = self._build_stream_manager(series)
            pres_sum, pres_cnt, pres_avg = 0.0, 0, 0.0
            if self.track_presence:
                for v in series:
                    if len(v) == 1:
                        pres_sum += self._scalar_to_strength01(v[0])
                        pres_cnt += 1
                pres_avg = (
                    _clamp01(pres_sum / pres_cnt)
                    if pres_cnt > 0
                    else self._scalar_to_strength01(series[-1][0])
                )
            c = StreamContainer(sid, mgr, list(series[-1]),
                                pres_sum, pres_cnt, pres_avg)
            self.stream_pool.append(c)
            self.containers_by_id[sid] = c
            self.active_ids.append(sid)

    # -- active stream control (reference ...:388-571) -----------------
    # Every pool of one request starts with the same stream ids and
    # applies the same lifecycle plans, so each id a plan names exists and
    # the active list holds exactly the streams the step asks for.
    def revive_stream_ids(self, ids):
        for sid in ids:
            if sid in self.inactive_ids:
                self.inactive_ids = [x for x in self.inactive_ids if x != sid]
                if sid not in self.active_ids:
                    self.active_ids.append(sid)

    def deactivate_stream_ids(self, ids):
        for sid in ids:
            if sid in self.active_ids:
                self.active_ids = [x for x in self.active_ids if x != sid]
                if sid not in self.inactive_ids:
                    self.inactive_ids.append(sid)

    def fork_stream_from_id(self, source_id: int, new_id: int):
        src = self.containers_by_id[source_id]
        c = StreamContainer(
            new_id,
            copy.deepcopy(src.manager),
            list(src.last_value),
            src.presence_sum,
            src.presence_count,
            src.presence_avg,
        )
        self.stream_pool.append(c)
        self.containers_by_id[new_id] = c
        if new_id not in self.active_ids:
            self.active_ids.append(new_id)

    def set_active_stream_ids(self, ids_raw):
        self.active_ids = list(dict.fromkeys(int(x) for x in ids_raw))

    def active_stream_containers(self) -> list[StreamContainer]:
        return [self.containers_by_id[i] for i in self.active_ids]

    # -- strength / presence (reference ...:578-694) -------------------
    def presence_of_id(self, sid: int) -> float:
        """Tracked presence; lifecycle plans run on the vol or note pool,
        and both track presence."""
        c = self.containers_by_id.get(sid)
        if c is None:
            return 0.0
        return _clamp01(c.presence_avg)

    def decay_inactive_strengths(self):
        for sid in self.inactive_ids:
            c = self.containers_by_id.get(sid)
            if c is None:
                continue
            c.presence_sum *= INACTIVE_STRENGTH_DECAY
            c.presence_avg = _clamp01(c.presence_avg * INACTIVE_STRENGTH_DECAY)

    # -- lifecycle planning (reference ...:700-821) --------------------
    def build_stream_lifecycle_plan(self, desired_count: int, *, target, spread) -> LifecyclePlan:
        dc = max(int(desired_count), 1)
        self.decay_inactive_strengths()
        current_active = list(self.active_ids)
        cur_n = len(current_active)
        t = _clamp01(target)
        s = _clamp01(spread)

        if dc < cur_n:
            k = cur_n - dc
            delete_targets = generate_centered_targets(t, s, n=k)
            aws = [(i, self.presence_of_id(i)) for i in current_active]
            deactivate = []
            for tv in delete_targets:
                best_id, best_dist = 0, math.inf
                for sid, strength in aws:
                    if sid in deactivate:
                        continue
                    d = abs(strength - tv)
                    if d < best_dist:
                        best_dist, best_id = d, sid
                if best_id != 0:
                    deactivate.append(best_id)
            active = [i for i in current_active if i not in deactivate]
            return LifecyclePlan(deactivate, [], [], active)

        if dc > cur_n:
            k = dc - cur_n
            active = list(current_active)
            revive, forks = [], []
            aws = [(i, self.presence_of_id(i)) for i in current_active]
            iws = [(i, self.presence_of_id(i)) for i in self.inactive_ids]
            for tv in generate_centered_targets(t, s, n=k):
                best_type, best_id, best_dist = None, 0, math.inf
                for sid, strength in aws:
                    d = abs(strength - tv)
                    if d < best_dist:
                        best_dist, best_id, best_type = d, sid, "active"
                for sid, strength in iws:
                    if sid in revive:
                        continue
                    d = abs(strength - tv)
                    if d < best_dist:
                        best_dist, best_id, best_type = d, sid, "inactive"
                if best_type == "inactive" and best_id != 0:
                    revive.append(best_id)
                    active.append(best_id)
                elif best_type == "active" and best_id != 0:
                    new_id = self.next_stream_id
                    self.next_stream_id += 1
                    forks.append((best_id, new_id))
                    active.append(new_id)
            return LifecyclePlan([], revive, forks, active)

        return LifecyclePlan([], [], [], current_active)

    def apply_stream_lifecycle_plan(self, plan: LifecyclePlan):
        self.deactivate_stream_ids(plan.deactivate_ids)
        self.revive_stream_ids(plan.revive_ids)
        for src, nid in plan.fork_pairs:
            self.fork_stream_from_id(src, nid)
        if plan.fork_pairs:
            max_new = max(p[1] for p in plan.fork_pairs)
            self.next_stream_id = max(self.next_stream_id, max_new + 1)
        if plan.active_ids:
            self.set_active_stream_ids(plan.active_ids)

    # -- cost precalculation (reference ...:828-893) -------------------
    def precalculate_costs(self, candidate_values_raw) -> dict[int, dict[float, tuple[float, float]]]:
        """{stream_id: {candidate_value: (raw, complexity01)}}."""
        candidate_values = [_to_polyset(v) for v in candidate_values_raw]
        per_stream: dict[int, dict[float, tuple[float, float]]] = {}
        for c in self.active_stream_containers():
            per_value: dict[float, tuple[float, float]] = {}
            raw_list = []
            for v in candidate_values:
                key = v[0] if v else 0.0
                try:
                    dist, _qty, comp, _u = c.manager.simulate_add_and_calculate_all(v)
                except Exception:
                    dist, comp = 0.0, 0.0
                if self.track_presence and len(v) == 1:
                    raw = dist if math.isfinite(dist) else (comp if math.isfinite(comp) else 0.0)
                else:
                    raw = comp if math.isfinite(comp) else (dist if math.isfinite(dist) else 0.0)
                raw_list.append(raw)
                per_value[key] = (raw, 0.0)
            min_r = min(raw_list) if raw_list else 0.0
            max_r = max(raw_list) if raw_list else 0.0
            span = abs(max_r - min_r)
            if span <= 0.0:
                span = 1.0
            for v in candidate_values:
                key = v[0] if v else 0.0
                pc = per_value.get(key)
                if pc is None:
                    per_value[key] = (0.0, 0.5)
                else:
                    per_value[key] = (pc[0], _clamp01((pc[0] - min_r) / span))
            per_stream[c.id] = per_value
        return per_stream

    # -- mapping (reference ...:1032-1189) ----------------------------
    def resolve_mapping(self, cand_set_raw, stream_costs):
        """The candidate set reordered so value ``assignment[i]`` goes to
        active stream ``i``: the Hungarian minimum over each pair's
        complexity cost (0.5 without a precalculated cost) plus the
        reference's index tie epsilon.  Slots past the active streams
        stay ``None``."""
        cand_set = [_to_polyset(v) for v in cand_set_raw]
        n = max(len(cand_set), 1)
        actives = self.active_stream_containers()
        cost_m = [[0.0] * n for _ in range(n)]
        for i, stream in enumerate(actives):
            d = None if stream_costs is None else stream_costs.get(stream.id)
            for j, v in enumerate(cand_set):
                pc = None if d is None else d.get(v[0] if v else 0.0)
                comp01 = 0.5 if pc is None else pc[1]
                cost_m[i][j] = comp01 + 1e-9 * (float(j + 1) + float(i + 1) * 1e-3)
        assignment = hungarian_min_assignment(cost_m)
        ordered = [None] * n
        for i in range(len(actives)):
            ordered[i] = cand_set[assignment[i]]
        return ordered

    # -- commit (reference ...:1219-1291) ------------------------------
    def commit_state(self, best_chord_raw):
        best_chord = [_to_polyset(v) for v in best_chord_raw]
        for i, stream in enumerate(self.active_stream_containers()):
            v = best_chord[i]
            try:
                stream.manager.add_data_point(v)
            except Exception:
                # reference safe_add_data_point! (multi_stream_manager.jl
                # :1196-1204): a degenerate series must not abort the
                # request — fall back to pushing the raw point
                stream.manager._push(v)
            stream.last_value = list(v)
            if self.track_presence and len(v) == 1:
                vv = self._scalar_to_strength01(v[0])
                stream.presence_sum += vv
                stream.presence_count += 1
                stream.presence_avg = (
                    _clamp01(stream.presence_sum / stream.presence_count)
                    if stream.presence_count > 0
                    else vv
                )
        return True

    def update_caches_permanently(self):
        for c in self.stream_pool:
            try:
                c.manager.update_caches_permanently()
            except Exception:
                # reference per-stream try/catch noop (...:1264-1276)
                pass

    def stream_strengths_report(self) -> dict[int, dict]:
        return {
            c.id: {
                "active": c.id in self.active_ids,
                "presence_avg": c.presence_avg,
                "presence_count": c.presence_count,
                "last_value": list(c.last_value),
            }
            for c in self.stream_pool
        }
