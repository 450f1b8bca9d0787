"""Hand-computed parity vectors for the polyphonic-generation math —
each case is worked by hand from the reference formulas (file:line in
the assertions) so the port is pinned without a Julia runtime."""

import pytest

from tsc_spark import config as C
from tsc_spark.kernel.dissonance import hungarian_min_assignment
from tsc_spark.kernel.polygen import (
    _concordance_cost,
    _observed_chord_range_and_density,
    array_param,
    generate_centered_targets,
)


class TestConfigQuantizers:
    def test_quantize_sustain_rounds_to_quarters(self):
        # reference config.jl:169-172; round is ties-to-even in BOTH
        # Julia and Python
        assert C.quantize_sustain(0.3) == 0.25
        assert C.quantize_sustain(0.375) == 0.5   # round(1.5) -> 2
        assert C.quantize_sustain(0.125) == 0.0   # round(0.5) -> 0
        assert C.quantize_sustain(1.7) == 1.0     # clamp
        assert C.quantize_sustain(-2.0) == 0.0

    def test_area_band_low_clamps_to_valid_bands(self):
        # reference config.jl:174-186: fld(note,4)*4 clamped to [36, 120]
        assert C.area_band_low_min() == 36
        assert C.area_band_low_max() == 120
        assert C.area_band_low(100) == 100
        assert C.area_band_low(101) == 100
        assert C.area_band_low(35) == 36
        assert C.area_band_low(127) == 120

    def test_bpm_helpers(self):
        # reference config.jl:148-155
        assert C.step_duration_from_bpm(240) == 0.25
        assert C.step_duration_from_bpm(480) == 0.125
        assert C.sanitize_bpm(float("nan")) == C.POLYPHONIC_BPM
        assert C.sanitize_bpm(0.2) == C.POLYPHONIC_BPM  # below BPM_MIN


class TestControllerHelpers:
    def test_centered_targets_linspace(self):
        # reference controller:2408-2427: linspace on [c-s/2, c+s/2]
        assert generate_centered_targets(3, 0.5, 0.4) == [0.3, 0.5, 0.7]
        assert generate_centered_targets(1, 0.9, 1.0) == [0.9]
        # clamped at the unit edges
        assert generate_centered_targets(2, 0.0, 1.0) == [0.0, 0.5]

    def test_array_param_index_clamps(self):
        # reference controller:2339-2356
        gp = {"x": [10, 20], "y": 7}
        assert array_param(gp, "x", 0) == 10
        assert array_param(gp, "x", 5) == 20   # past end -> last
        assert array_param(gp, "y", 3) == 7    # scalar passthrough
        assert array_param(gp, "z", 0) is None

    def test_observed_chord_range_and_density(self):
        # reference controller:3199-3211: range = hi-lo clamped,
        # density = |uniq| / slot_count
        assert _observed_chord_range_and_density([60, 64, 64]) == (4, 2 / 5)
        assert _observed_chord_range_and_density([60]) == (0, 1.0)
        assert _observed_chord_range_and_density([60, 90]) == (24, 2 / 31)  # range clamps at 24

    def test_concordance_cost(self):
        # reference controller:2548-2556
        assert _concordance_cost(0.5, 0.3) == pytest.approx(0.5 * abs(0.7 - 1.0))
        assert _concordance_cost(-0.5, 0.3) == pytest.approx(0.5 * abs(0.7 - 0.0))
        assert _concordance_cost(0.0, 0.9) == 0.0


class TestHungarian:
    def test_known_assignment(self):
        # min assignment of [[4,1,3],[2,0,5],[3,2,2]] = 1+2+2 (cols 1,0,2)
        cost = [[4.0, 1.0, 3.0], [2.0, 0.0, 5.0], [3.0, 2.0, 2.0]]
        a = hungarian_min_assignment(cost)
        total = sum(cost[i][a[i]] for i in range(3))
        assert total == 5.0

    def test_matches_brute_force_on_random(self):
        import itertools
        import random

        rng = random.Random(3)
        for _ in range(25):
            n = rng.randint(2, 5)
            cost = [[rng.random() for _ in range(n)] for _ in range(n)]
            a = hungarian_min_assignment(cost)
            got = sum(cost[i][a[i]] for i in range(n))
            best = min(
                sum(cost[i][p[i]] for i in range(n))
                for p in itertools.permutations(range(n))
            )
            assert got == pytest.approx(best)


class TestPayloadFuzz:
    """Random (bounded) payloads through the full orchestration: never
    crashes, always emits strict 12-field records within ranges."""

    from hypothesis import given, settings
    from hypothesis import strategies as st

    note = st.integers(min_value=30, max_value=127)  # deliberately strays out of range
    unit = st.floats(min_value=-0.5, max_value=1.5, allow_nan=False)
    stream_rec = st.tuples(
        st.lists(note, min_size=1, max_size=3), unit, unit, unit, unit, unit, unit, unit
    ).map(lambda t: [list(t[0])] + list(t[1:]))
    step = st.lists(stream_rec, min_size=1, max_size=2)

    @settings(max_examples=12, deadline=None)
    @given(
        ctx=st.lists(step, min_size=1, max_size=2),
        counts=st.lists(st.integers(min_value=1, max_value=2), min_size=1, max_size=2),
        mtr=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        dis=unit,
        nrf=unit,
    )
    def test_random_payloads_produce_valid_records(self, ctx, counts, mtr, dis, nrf):
        from tsc_spark.kernel.polygen import generate_polyphonic

        out = generate_polyphonic(
            {
                "initial_context": ctx,
                "stream_counts": counts,
                "merge_threshold_ratio": mtr,
                "dissonance_target": [dis],
                "note_register_freedom": [nrf],
            }
        )
        assert len(out["results"]) == len(ctx) + len(counts)
        for step_idx, step_rows in enumerate(out["results"]):
            for st_rec in step_rows:
                assert len(st_rec) == 12
                assert all(36 <= n <= 120 for n in st_rec[0])
                for v in st_rec[1:8]:
                    assert 0.0 <= v <= 1.0
                assert 0 <= st_rec[8] <= 24
                assert 0.0 <= st_rec[9] <= 1.0
                assert st_rec[10] in (0.0, 0.25, 0.5, 0.75, 1.0)
                assert 0.0 <= st_rec[11] <= 1.0
        # generated widths follow the request exactly
        widths = [len(s) for s in out["results"][len(ctx):]]
        assert widths == [max(c, 1) for c in counts]


def test_lenient_bool_parsing_in_dimension_policy():
    """reference _parse_bool word lists (controller:2054-2066): string
    'false' must disable, not be truthy."""
    import copy

    from tsc_spark.kernel.polygen import _b, generate_polyphonic
    from tsc_spark.oracle_fixtures import GENERATE_POLY_REQUESTS

    assert _b("false") is False and _b("OFF") is False and _b("yes") is True
    assert _b(None, True) is True and _b("garbage", True) is True

    p = copy.deepcopy(dict(GENERATE_POLY_REQUESTS[0][1]))
    p["dimension_policy"] = {"vol": {"accept_params": "false", "fixed_value": 0.25}}
    out = generate_polyphonic(p)
    assert out["results"][1][0][1] == 0.25  # vol held fixed, not searched


def test_stream_records_are_strict_8_or_12_fields():
    """A record is the 8-field input form or the 12-field form the
    generator emits: a generated record re-normalises to itself, and a
    10-field record is rejected."""
    import copy

    from tsc_spark.kernel.polygen import _normalize_stream_record, generate_polyphonic
    from tsc_spark.oracle_fixtures import GENERATE_POLY_REQUESTS

    out = generate_polyphonic(copy.deepcopy(dict(GENERATE_POLY_REQUESTS[1][1])))
    records = [rec for step in out["results"] for rec in step]
    assert records and all(len(rec) == 12 for rec in records)
    for rec in records:
        assert _normalize_stream_record(copy.deepcopy(rec)) == rec
    with pytest.raises(ValueError):
        _normalize_stream_record([[60], 1.0, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0, 0.0])


class TestAreaDecisionHandComputedParity:
    """Hand-computed worked examples for the 3-stage area decision
    (reference time_series_controller.jl:3970-4212), independent of the
    metric kernel: ``_safe_sim_all`` is stubbed with a deterministic
    function chosen so every stage-1 ranking, stage-2 cartesian and
    stage-3 cost/tie-break value below is derivable by hand with EXACT
    binary-float arithmetic.  This removes the same-kernel circularity
    of the generate_poly fixture oracle for this code path: the expected
    anchors were walked out of the reference Julia source by hand (full
    derivation in comments), not produced by the Python implementation.
    """

    def _payload(self, **area):
        # 1 context step, 2 streams, both anchored at note 60 ->
        # hist_note_anchor [[60,60]], hist_area = band_low -> [[60,60]],
        # padded to 3 rows; both area stream managers' last_value = [60],
        # so prev_tmp_anchors = [60, 60] at the first generated step.
        ctx_row = [[60], 1.0, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]
        p = {
            "bpm": 240,
            "initial_context": [[list(ctx_row), list(ctx_row)]],
            "stream_counts": area.pop("stream_counts", [2, 2]),
            "dimension_policy": {"area": {"accept_params": True}},
            "note_register_freedom": [1.0],  # register logic off
            "area_conc": [0.0],              # conc cost off
            "merge_threshold_ratio": 0.02,
        }
        p.update(area)
        return p

    def test_walk_down_two_steps_targets_zero(self, monkeypatch):
        """Targets all 0.0: stub stream metric d(a)=a (q=c=u=0).

        Step 1, prev anchor pa=60.  Candidate bands from AREA_MOVE_BINS
        deltas -12..12 around 60, quantized to 4-bands, deduped, sorted:
        [48,52,56,60,64,68,72].  Stage 1: only raw_d varies ->
        normalize min=48 max=72, weight 1 (7 unique); q/c/u constant ->
        weight 0; denom=1 -> m[a]=(a-48)/24.  t=0.0 (center 0, spread 0),
        prefer_big=False (t<0.5) -> rank by (|m-0|, +|a-60|, a):
        48(0) < 52(1/6) < 56(1/3) < ... -> keep top-3 = [48,52,56].
        Stage 2: 3x3 cartesian, [48,48] first.  Stage 3: stub global
        d=enc[0] -> raw_d=[48,48,48,52,52,52,56,56,56] -> normalized
        (d-48)/8; area_global=0 -> g_cost=gs; s_cost=(m[c0]+m[c1])/2.
        [48,48]: 0 + 0 = 0, every other candidate > 1/24 -> chosen
        [48,48] (no tie).

        Step 2: pa=48 (committed step-1 anchors).  Candidates:
        [36,40,44,48,52,56,60] (deltas below ABS_MIN=36 skipped, no
        clamp).  Same math shifted: m=(a-36)/24, keep [36,40,44],
        chosen [36,36]."""
        import tsc_spark.kernel.polygen as PG

        def fake_sim(mgr, value):
            return (float(value[0]), 0.0, 0.0, 0.0)

        monkeypatch.setattr(PG, "_safe_sim_all", fake_sim)
        out = PG.generate_polyphonic(
            self._payload(
                area_global=[0.0], area_center=[0.0], area_spread=[0.0]
            )
        )
        anchors = [d["area_tmp_anchor"] for d in out["decisions"]]
        assert anchors == [[48, 48], [36, 36]]

    def test_nine_way_tie_resolved_by_smallest_mean_jump(self, monkeypatch):
        """Exact 9-way stage-3 tie resolved by the prefer-small-jump rule.

        Stub stream metric: d(48)=d(52)=1, d(60)=4, d(72)=3, else 0;
        global metric constant 0.  Stage 1 (pa=60, t=0.5): raw_d over
        [48,52,56,60,64,68,72] = [1,1,0,4,0,0,3]; min 0 max 4 ->
        m = [1/4, 1/4, 0, 1, 0, 0, 3/4] — all EXACT binary fractions.
        Costs |m-1/2|: 48,52,72 -> 1/4; 56,60,64,68 -> 1/2 (exact).
        prefer_big=True (t>=0.5) -> tiebreak -jump: 48(-12), 72(-12),
        52(-8) -> keep sorted [48,52,72].
        Stage 3: global scores all-constant -> normalize weight 0 ->
        scores 0.0; area_global=0 -> g_cost=0 for all.  Per-stream cost
        is 1/4 for each of 48,52,72 -> every one of the 9 candidates
        totals exactly 1/4.  target_mean=(0+1/2)/2=1/4 < 1/2 ->
        prefer SMALL mean jump vs pa=[60,60]:
          [48,48]:12  [48,52]:10  [48,72]:12
          [52,48]:10  [52,52]:8   [52,72]:10
          [72,48]:12  [72,52]:10  [72,72]:12
        unique minimum 8 -> chosen [52,52] (reached via two strict
        tie-break replacements in candidate order)."""
        import tsc_spark.kernel.polygen as PG

        table = {48.0: 1.0, 52.0: 1.0, 60.0: 4.0, 72.0: 3.0}

        def fake_sim(mgr, value):
            if len(value) == 1:
                return (table.get(float(value[0]), 0.0), 0.0, 0.0, 0.0)
            return (0.0, 0.0, 0.0, 0.0)

        monkeypatch.setattr(PG, "_safe_sim_all", fake_sim)
        out = PG.generate_polyphonic(
            self._payload(
                stream_counts=[2],
                area_global=[0.0],
                area_center=[0.5],
                area_spread=[0.0],
            )
        )
        anchors = [d["area_tmp_anchor"] for d in out["decisions"]]
        assert anchors == [[52, 52]]


class TestDimensionPolicyAliases:
    """Payload value parsing: non-finite numbers clamp to the range edge
    (reference _parse_float, controller:2054)."""

    def test_inf_clamps_to_range_edge(self):
        from tsc_spark.kernel.polygen import _clamp01, _f

        assert _f(float("inf")) == float("inf")
        assert _clamp01(float("inf")) == 1.0
        assert _clamp01(float("-inf")) == 0.0
        assert _f(float("nan"), 0.25) == 0.25


def test_chord_search_over_the_bound_raises_before_it_allocates():
    """density 0.5 over a 12-note chord range offers C(28, 14) ≈ 4.0e7
    chords to one stream: the request is refused at once, naming the
    stream, density and chord range, instead of building them all."""
    import copy
    import time

    from tsc_spark.kernel.polygen import MAX_STREAM_CHORDS, generate_polyphonic
    from tsc_spark.oracle_fixtures import GENERATE_POLY_REQUESTS

    p = copy.deepcopy(dict(GENERATE_POLY_REQUESTS[0][1]))
    p["dimension_policy"] = {"density": {"fixed_value": 0.5}, "chord_range": {"fixed_value": 12}}
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match=r"stream 0: density 0\.5 and chord_range 12"):
        generate_polyphonic(p)
    assert time.perf_counter() - t0 < 1.0
    assert MAX_STREAM_CHORDS < 40_116_600
