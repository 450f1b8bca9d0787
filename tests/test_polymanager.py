"""Set-mode cluster manager: singleton equivalence with the scalar
kernel (exact) + genuine set/chord behaviors."""

import pytest

from tsc_spark.kernel.manager import ClusterManager
from tsc_spark.kernel.polymanager import PolyClusterManager
from tsc_spark.kernel.polyset import min_avg_distance
from tsc_spark.sources.synth import synth_tokens


def _scalar_mgr(tokens, **kw):
    m = ClusterManager(
        [float(v) for v in tokens],
        kw.get("mtr", 0.3),
        2,
        True,
        scale_mode="contextual_global_halves",
        contextual_min_width=1.0,
    )
    m.process_data()
    return m


def _poly_mgr(sets, **kw):
    m = PolyClusterManager(
        sets,
        kw.get("mtr", 0.3),
        2,
        True,
        scale_mode="contextual_global_halves",
        contextual_min_width=1.0,
        max_set_size=kw.get("max_set_size", 4),
    )
    m.process_data()
    return m


class TestSingletonEquivalence:
    """Singleton sets through the set-mode manager must reproduce the
    scalar kernel exactly — timelines AND representative floats."""

    @pytest.mark.parametrize("mtr", [0.02, 0.1, 0.3, 0.8])
    def test_warmup_series(self, mtr):
        toks = [0, 1, 3, 2, 4, 5, 3, 1]
        sm = _scalar_mgr(toks, mtr=mtr)
        pm = _poly_mgr([[float(v)] for v in toks], mtr=mtr)
        assert pm.timeline() == sm.timeline()

    def test_synth_corpus_docs(self):
        rows = synth_tokens(24, include_edges=True)
        for doc_id, toks, _src in rows:
            if not toks:
                continue
            sm = _scalar_mgr(toks)
            pm = _poly_mgr([[float(v)] for v in toks])
            assert pm.timeline() == sm.timeline(), doc_id

    def test_rep_floats_bit_equal(self):
        toks = [0, 1, 3, 2, 4, 5, 3, 1, 0, 1, 3, 2]
        sm = _scalar_mgr(toks)
        pm = _poly_mgr([[float(v)] for v in toks])
        s_tree = {tuple(p): rep for p, _si, rep in sm.tree()}
        p_tree = {tuple(p): [s[0] for s in rep] for p, _si, rep in pm.tree()}
        assert set(s_tree) == set(p_tree)
        for path, rep in s_tree.items():
            assert p_tree[path] == rep  # exact float equality

    def test_incremental_append_equivalence(self):
        toks = [0, 1, 3, 2, 4]
        sm = _scalar_mgr(toks + [5, 3])
        pm = _poly_mgr([[float(v)] for v in toks])
        pm.add_data_point([5.0])
        pm.add_data_point([3.0])
        assert pm.timeline() == sm.timeline()


class TestChordBehavior:
    def test_identical_chord_motifs_cluster(self):
        # repeated 2-chord motif: windows at starts 0/2/4 are identical
        motif = [[60.0, 64.0], [62.0, 65.0]]
        data = motif * 4
        pm = _poly_mgr(data, mtr=0.3)
        tl = pm.timeline()
        ws2 = [row for row in tl if row[0] == 2]
        big = max(ws2, key=lambda r: len(r[2]))
        assert len(big[2]) >= 3  # the repeated motif grouped together

    def test_chord_order_within_set_is_irrelevant(self):
        a = [[60.0, 64.0], [62.0, 65.0]] * 3
        b = [[64.0, 60.0], [65.0, 62.0]] * 3
        assert _poly_mgr(a).timeline() == _poly_mgr(b).timeline()

    def test_set_size_changes_split_clusters(self):
        # alternating chord sizes: count penalty pushes distance up
        data = [[60.0], [60.0, 64.0]] * 4
        pm = _poly_mgr(data, mtr=0.05)
        # no ws-2 cluster should mix the (1,2)-size windows with
        # (2,1)-size windows when the threshold is tight
        d = min_avg_distance([60.0], [60.0, 64.0], pm.value_width, 4)
        assert d > 0.05

    def test_hand_computed_polyphonic_timeline(self):
        """Hand-derived end-to-end parity vector for the SET-mode manager
        (round-3 verdict #7: an oracle independent of the kernel itself).

        Derived on paper from the reference forest/task semantics
        (polyphonic_cluster_manager.jl:1099-1290), min_avg_distance
        (...:244-287) and latest-wins averaging (...:387-445), with
        range_fixed width 8 so every quantity is an exact binary
        fraction.  Data (mw=2, mtr=0.3, max_set_size=4):

            p0=[0,4] p1=[2] p2=[0,4] p3=[2] p4=[7] p5=[7]

        Set distances used (all exact): mad([0,4],[2]) = (2/8 + 1/4)/2
        = 0.25 (pitch 0.25, count 1/4); mad([2],[7]) = 5/8 = 0.625
        (same size: pitch only); mad([0,4],[7]) = (4/8 + 1/4)/2 = 0.375.

        Walk (max_distance ws2 = sqrt2, ws3 = sqrt3, ws4 = 2):
        * di=2 roots: latest w(1,2); d(seed [[0,4],[2]]) =
          sqrt(2)*0.25, ratio 0.25 <= 0.3 -> MERGE root0 si=[0,1];
          latest-wins averaging (sizes 2 vs 1 differ per step) makes
          rep = [[2],[0,4]].
        * di=3 task (root0, ws3): latest w(1,3); valid_si=[0];
          d = sqrt(3*0.25^2), ratio 0.25 -> VALID -> child cid=1
          si=[0,1], rep (latest-wins) = [[2],[0,4],[2]].
          di=3 roots: latest w(2,2); d(rep [[2],[0,4]]) = sqrt(2)*0.25,
          ratio 0.25 -> MERGE root0 si=[0,1,2], rep -> [[0,4],[2]].
        * di=4 task (child1, ws4): latest w(1,4); valid_si=[0];
          d = sqrt(3*0.0625 + 0.625^2) = sqrt(0.578125),
          ratio 0.380 > 0.3 -> INVALID -> children cid=2 si=[1],
          cid=3 si=[0].
          di=4 task (root0, ws3) hits existing child1:
          d(child1 rep, w(2,3)) = sqrt(0.515625), ratio 0.4146 > 0.3
          -> REJECT -> child cid=4 si=[2].
          di=4 roots: latest w(3,2) = [[2],[7]];
          d(root0 rep) = sqrt(0.0625 + 0.390625), ratio 0.476 > 0.3
          -> NEW ROOT cid=5 si=[3].
        * di=5 roots: latest w(4,2) = [[7],[7]];
          d(root0) ratio 0.515, d(root5) = 0.625 -> ratio 0.4419
          -> NEW ROOT cid=6 si=[4].
        """
        data = [[0.0, 4.0], [2.0], [0.0, 4.0], [2.0], [7.0], [7.0]]
        pm = PolyClusterManager(
            data, 0.3, 2, True,
            scale_mode="range_fixed", range_min=0.0, range_max=8.0,
            max_set_size=4,
        )
        pm.process_data()
        assert pm.timeline() == [
            (2, "0", [0, 1, 2]),
            (2, "5", [3]),
            (2, "6", [4]),
            (3, "1", [0, 1]),
            (3, "4", [2]),
            (4, "2", [1]),
            (4, "3", [0]),
        ]
        reps = {tuple(p): rep for p, _si, rep in pm.tree()}
        assert reps[(0,)] == [[0.0, 4.0], [2.0]]          # latest-wins
        assert reps[(0, 1)] == [[2.0], [0.0, 4.0], [2.0]]  # latest-wins
        assert reps[(5,)] == [[2.0], [7.0]]
        assert reps[(6,)] == [[7.0], [7.0]]

    def test_hand_computed_scalar_twin_timeline(self):
        """The scalar twin of the hand example above — tokens
        [0,2,0,2,7,7], same range_fixed width 8 and mtr 0.3.  Every
        decision re-derived by hand with SCALAR means (index-wise
        averaging, not latest-wins): root rep after si=[0,1,2] is
        [2/3, 4/3]; all merge/reject outcomes land identically, so the
        timeline shape matches the polyphonic vector.  Asserted against
        the scalar manager AND the set-mode manager run on singleton
        sets — the same hand oracle pins both kernels."""
        expect = [
            (2, "0", [0, 1, 2]),
            (2, "5", [3]),
            (2, "6", [4]),
            (3, "1", [0, 1]),
            (3, "4", [2]),
            (4, "2", [1]),
            (4, "3", [0]),
        ]
        toks = [0.0, 2.0, 0.0, 2.0, 7.0, 7.0]
        sm = ClusterManager(
            toks, 0.3, 2, True,
            scale_mode="range_fixed", range_min=0.0, range_max=8.0,
        )
        sm.process_data()
        assert sm.timeline() == expect
        s_reps = {tuple(p): rep for p, _si, rep in sm.tree()}
        assert s_reps[(0,)] == [2.0 / 3.0, 4.0 / 3.0]  # index-wise mean
        assert s_reps[(0, 1)] == [1.0, 1.0, 1.0]

        pm = PolyClusterManager(
            [[v] for v in toks], 0.3, 2, True,
            scale_mode="range_fixed", range_min=0.0, range_max=8.0,
            max_set_size=4,
        )
        pm.process_data()
        assert pm.timeline() == expect

    def test_simulate_rollback_restores_state(self):
        data = [[60.0, 64.0], [62.0], [60.0, 64.0], [62.0]]
        pm = _poly_mgr(data)
        before_tl = pm.timeline()
        before_n = pm.n
        pm.simulate_add_and_calculate_all([63.0, 67.0])
        assert pm.n == before_n
        assert pm.timeline() == before_tl

    def test_push_pop_round_trips_keep_the_set_store(self):
        """Each push appends in place and each pop removes it again: after
        many round trips the store holds exactly the original sets."""
        data = [[60.0, 64.0], [62.0], [60.0, 64.0], [62.0]]
        pm = _poly_mgr(data)
        before, n = pm.data_view(), pm._n
        for k in range(50):
            pm._push([float(k), 1.0] if k % 2 else float(k))
            assert len(pm._sets) == pm._n == n + 1
            pm._pop()
        assert pm.data_view() == before
        assert len(pm._sets) == pm._n == n
