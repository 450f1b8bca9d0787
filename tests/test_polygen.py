"""generate_polyphonic orchestration: structural invariants, lifecycle,
dimension policy, register windows, determinism (reference controller
:2761-4600 + multi_stream_manager.jl; no numeric reference goldens exist
— the reference publishes no output vectors — so these pin the
documented behavioral contract from docs/generate_polyphonic.md)."""

import copy

import pytest

from tsc_spark import config as C
from tsc_spark.kernel.polygen import generate_polyphonic
from tsc_spark.kernel.streampool import StreamPool
from tsc_spark.oracle_fixtures import GENERATE_POLY_REQUESTS

WARMUP = dict(GENERATE_POLY_REQUESTS[0][1])
DUO = dict(GENERATE_POLY_REQUESTS[1][1])


class TestWarmup:
    def test_step_and_record_shape(self):
        out = generate_polyphonic(copy.deepcopy(WARMUP))
        assert out["initial_context_steps"] == 1
        assert len(out["results"]) == 2  # 1 context + 1 generated
        for step in out["results"]:
            assert len(step) == 1
            for st in step:
                assert len(st) == 12
                assert all(C.MIDI_NOTE_MIN <= n <= C.MIDI_NOTE_MAX for n in st[0])

    def test_default_policy_fixes_area_band(self):
        # area accept_params=False, fixed 0.5 → band_low 76 (idx round(.5*21)=10),
        # chord_range fixed 0, density fixed 0 → exactly one note in 76..79
        out = generate_polyphonic(copy.deepcopy(WARMUP))
        gen = out["results"][1][0]
        assert len(gen[0]) == 1
        assert 76 <= gen[0][0] <= 79
        assert gen[8] == 0  # chord_range fixed
        assert gen[9] == 0.0  # density fixed

    def test_vol_searched_from_vol_steps(self):
        out = generate_polyphonic(copy.deepcopy(WARMUP))
        assert out["results"][1][0][1] in C.VOL_STEPS

    def test_deterministic(self):
        a = generate_polyphonic(copy.deepcopy(WARMUP))
        b = generate_polyphonic(copy.deepcopy(WARMUP))
        assert a["results"] == b["results"]
        assert a["decisions"] == b["decisions"]


class TestDuoLifecycle:
    @pytest.fixture(scope="class")
    def out(self):
        return generate_polyphonic(copy.deepcopy(DUO))

    def test_stream_counts_follow_request(self, out):
        # 2 context steps then generated widths 1, 2, 2 (fork on step 2)
        widths = [len(step) for step in out["results"]]
        assert widths == [1, 1, 1, 2, 2]

    def test_chord_range_search_respects_target_window(self, out):
        # chord_range target 2 ± spread 2 → searched values within [0, 4]
        for dec in out["decisions"]:
            for v in dec["chord_range"]:
                assert 0.0 <= v <= 4.0

    def test_notes_stay_within_band_plus_chord_range(self, out):
        for step_i, dec in enumerate(out["decisions"]):
            step = out["results"][2 + step_i]
            for s_i, st in enumerate(step):
                band_low = dec["area_tmp_anchor"][s_i]
                cr = int(dec["chord_range"][s_i])
                low = max(band_low - cr, C.MIDI_NOTE_MIN)
                high = min(band_low + C.AREA_BAND_SIZE - 1 + cr, C.MIDI_NOTE_MAX)
                assert all(low <= n <= high for n in st[0])

    def test_area_anchor_is_a_band_base(self, out):
        for dec in out["decisions"]:
            for a in dec["area_tmp_anchor"]:
                assert a % C.AREA_BAND_SIZE == 0
                assert C.area_band_low_min() <= a <= C.area_band_low_max()

    def test_legato_series_applied_per_generated_step(self, out):
        for gi, step in enumerate(out["results"][2:]):
            for st in step:
                assert st[11] == [0.0, 0.5, 1.0][gi]

    def test_density_zero_gives_single_notes(self, out):
        for step in out["results"][2:]:
            for st in step:
                assert len(st[0]) == 1


class TestDimensionPolicyOverrides:
    def test_fixed_vol_override(self):
        p = copy.deepcopy(WARMUP)
        p["dimension_policy"] = {"vol": {"accept_params": False, "fixed_value": 0.25}}
        out = generate_polyphonic(p)
        assert out["results"][1][0][1] == 0.25

    def test_enabling_density_changes_chord_sizes(self):
        p = copy.deepcopy(WARMUP)
        p["dimension_policy"] = {
            "density": {"accept_params": False, "fixed_value": 1.0},
            "chord_range": {"accept_params": False, "fixed_value": 0.0},
        }
        out = generate_polyphonic(p)
        # density 1.0 over a 4-slot band → 4-note chord
        assert len(out["results"][1][0][0]) == C.AREA_BAND_SIZE

    def test_stream_decrease_deactivates(self):
        p = copy.deepcopy(DUO)
        p["stream_counts"] = [2, 1]
        out = generate_polyphonic(p)
        widths = [len(s) for s in out["results"]]
        assert widths == [1, 1, 2, 1]


class TestRegisterWindow:
    def test_zero_freedom_pins_register(self):
        p = copy.deepcopy(WARMUP)
        p["dimension_policy"] = {"area": {"accept_params": True}}
        p["note_register_freedom"] = [0.0]
        p["stream_counts"] = [1, 1, 1]
        out = generate_polyphonic(p)
        # allowance 0 → every generated anchor stays at the nearest-to-
        # register candidate; register center starts at the context anchor 60
        for step in out["results"][1:]:
            anchor = sorted(step[0][0])[(len(step[0][0]) + 1) // 2 - 1]
            assert abs(anchor - 60) <= C.AREA_BAND_SIZE + 1


class TestStreamPool:
    def _pool(self, track=True):
        return StreamPool(
            [[[0.5], [1.0]], [[0.6], [0.9]], [[0.7], [0.8]]],
            0.02,
            2,
            value_range=[0.0, 1.0],
            track_presence=track,
        )

    def test_initial_streams_from_history(self):
        pool = self._pool()
        assert len(pool.stream_pool) == 2
        assert pool.active_ids == [1, 2]

    def test_fork_plan_on_increase(self):
        pool = self._pool()
        plan = pool.build_stream_lifecycle_plan(3, target=0.5, spread=0.0)
        assert len(plan.fork_pairs) == 1
        pool.apply_stream_lifecycle_plan(plan)
        assert len(pool.active_ids) == 3
        src, nid = plan.fork_pairs[0]
        forked = pool.containers_by_id[nid]
        assert forked.last_value == pool.containers_by_id[src].last_value

    def test_deactivate_then_revive(self):
        pool = self._pool()
        plan = pool.build_stream_lifecycle_plan(1, target=0.0, spread=0.0)
        pool.apply_stream_lifecycle_plan(plan)
        assert len(pool.active_ids) == 1
        assert len(pool.inactive_ids) == 1
        sid = pool.inactive_ids[0]
        before = pool.containers_by_id[sid].presence_avg
        # target chosen near the decayed inactive strength (~0.59) so the
        # revive candidate beats forking the strong active (~0.9)
        plan2 = pool.build_stream_lifecycle_plan(2, target=0.5, spread=0.0)
        # decay applied during planning
        assert pool.containers_by_id[sid].presence_avg <= before
        pool.apply_stream_lifecycle_plan(plan2)
        assert sid in pool.active_ids

    def test_precalculate_costs_normalized(self):
        pool = self._pool()
        costs = pool.precalculate_costs([0.0, 0.5, 1.0])
        assert set(costs) == set(pool.active_ids)
        for per_value in costs.values():
            assert set(per_value) == {0.0, 0.5, 1.0}
            for raw, c01 in per_value.values():
                assert 0.0 <= c01 <= 1.0

    def test_mapping_is_a_permutation(self):
        pool = self._pool()
        costs = pool.precalculate_costs([0.2, 0.8])
        ordered = pool.resolve_mapping([0.2, 0.8], costs)
        assert sorted(v[0] for v in ordered) == [0.2, 0.8]

    def test_commit_updates_presence(self):
        pool = self._pool()
        before = [pool.presence_of_id(i) for i in pool.active_ids]
        pool.commit_state([1.0, 1.0])
        pool.update_caches_permanently()
        after = [pool.presence_of_id(i) for i in pool.active_ids]
        assert all(a >= b - 1e-12 for a, b in zip(after, before))
        for c in pool.stream_pool:
            assert c.last_value == [1.0]


class TestFixedValueSource:
    def test_last_step_source_carries_context_value(self):
        # vol fixed from the initial context's last step instead of the
        # manual fixed value (reference _resolved_fixed_value_for_stream)
        p = copy.deepcopy(WARMUP)
        p["initial_context"] = [[[[60], 0.7, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]]]
        p["dimension_policy"] = {
            "vol": {"accept_params": False, "fixed_value_source": "initial_context_last_step"}
        }
        out = generate_polyphonic(p)
        assert out["results"][1][0][1] == 0.7

    def test_area_last_step_source_tracks_context_anchor(self):
        # area fixed from the context anchor's band instead of band 76
        p = copy.deepcopy(WARMUP)
        p["initial_context"] = [[[[100], 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]]]
        p["dimension_policy"] = {
            "area": {"accept_params": False, "fixed_value_source": "initial_context_last_step"}
        }
        out = generate_polyphonic(p)
        gen_note = out["results"][1][0][0][0]
        assert 100 <= gen_note <= 103  # band_low(100)=100, cr 0, density 0

    def test_manual_source_unchanged(self):
        a = generate_polyphonic(copy.deepcopy(WARMUP))
        p = copy.deepcopy(WARMUP)
        p["dimension_policy"] = {"brightness": {"fixed_value_source": "manual_input"}}
        b = generate_polyphonic(p)
        assert a["results"] == b["results"]
