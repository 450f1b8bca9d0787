"""Cross-implementation equivalence properties.

Two independent implementations of the same operator must agree exactly;
hypothesis drives the series shapes.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

token_series = st.lists(st.integers(min_value=-50, max_value=50), max_size=40)


@settings(max_examples=30, deadline=None)
@given(token_series)
def test_poly_singleton_equivalence_property(toks):
    """Random series: set-mode manager on singletons == scalar kernel."""
    from tsc_spark.kernel.manager import ClusterManager
    from tsc_spark.kernel.polymanager import PolyClusterManager

    sm = ClusterManager(
        [float(v) for v in toks], 0.3, 2, True,
        scale_mode="contextual_global_halves", contextual_min_width=1.0,
    )
    sm.process_data()
    pm = PolyClusterManager(
        [[float(v)] for v in toks], 0.3, 2, True,
        scale_mode="contextual_global_halves", contextual_min_width=1.0,
    )
    pm.process_data()
    assert pm.timeline() == sm.timeline()


class TestRollupPathEquivalence:
    """The tier rollup (``rollup_arrays``: the Arrow ``reduceat`` path at
    strides > 1), the explode+groupBy oracle and a per-doc Python
    reference emit identical rows, edge docs (empty, singleton, constant)
    included."""

    @pytest.fixture(scope="class")
    def toks(self, spark):
        from tsc_spark.sources.synth import synth_tokens_table

        df = synth_tokens_table(spark, n_docs=40, include_edges=True)
        df.cache().count()
        return df

    @pytest.mark.parametrize("stride,tier", [(8, 1), (64, 2), (5, 9)])
    def test_three_paths_agree(self, spark, toks, stride, tier):
        from tsc_spark.operators.rollup import (
            explode_points,
            rollup_arrays,
            rollup_points,
        )

        cols = ["doc_id", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum", "tier"]

        def rows(df):
            return sorted(
                tuple(r) for r in df.select(*cols).collect()
            )

        arrow = rows(rollup_arrays(toks, stride, tier))
        grp = rows(rollup_points(explode_points(toks), stride, tier))
        docs = toks.collect()
        ref = sorted(
            (r.doc_id, w // stride, len(c), min(c), max(c), sum(c), tier)
            for r in docs
            for w in range(0, len(r.tokens), stride)
            for c in [r.tokens[w : w + stride]]
        )
        assert arrow == grp == ref
        assert len(arrow) > 0
        assert any(r.n_tok == 0 for r in docs)  # the edge docs ride along


# docs mix free tokens with constant runs: runs make every window of the
# run identical, which is where the unpruned forest grows deepest
doc_tokens = st.lists(
    st.tuples(st.integers(min_value=0, max_value=23), st.integers(min_value=1, max_value=60)),
    max_size=40,
).map(lambda runs: [v for v, n in runs for _ in range(n)][:300])


@settings(deadline=None, max_examples=40)
@given(
    st.lists(st.integers(min_value=0, max_value=23), min_size=4, max_size=16),
    doc_tokens,
)
def test_match_series_rollback_equals_fresh_copy(query, db_toks):
    """The journal-rollback matcher (pruned to the query's subtrees) must
    (a) produce identical matches to the unpruned fresh-copy oracle and
    (b) leave the reusable seed bit-identical, so the Spark worker can
    amortise one unpickle across a whole batch."""
    import pickle

    from tsc_spark.kernel.matching import (
        build_query_seed,
        match_series,
        match_series_rollback,
    )

    seed = build_query_seed(query)
    before = pickle.dumps(seed)
    tl_before = sorted((ws, cid, list(si)) for ws, cid, si in seed.timeline())
    n_before, width_before, ctr_before = seed.n, seed.value_width, seed.cluster_id_counter
    tasks_before = [(list(k), l) for k, l, _node in seed.tasks]

    fresh = pickle.loads(before)
    expected = match_series(fresh, db_toks, copy_seed=False)
    got = match_series_rollback(seed, db_toks)

    assert got == expected
    # seed state semantically restored (buffer capacity growth and set
    # iteration order may differ — both are pickle-visible but inert)
    assert seed.n == n_before
    assert seed.value_width == width_before
    assert seed.cluster_id_counter == ctr_before
    assert [(list(k), l) for k, l, _node in seed.tasks] == tasks_before
    assert sorted((ws, cid, list(si)) for ws, cid, si in seed.timeline()) == tl_before


def test_match_series_rollback_builds_no_level_past_the_query(monkeypatch):
    """On a repetitive doc the unpruned forest extends its subtrees level
    after level toward the doc length; the pruned matcher never extends a
    node to a window size above qlen + 1."""
    from tsc_spark.kernel.manager import ClusterManager
    from tsc_spark.kernel.matching import build_query_seed, match_series_rollback

    query = [0, 1, 3, 2, 4, 5, 3, 1]
    doc = [0, 1, 3, 2, 4, 5, 3, 1] * 37 + [0, 1, 3, 2]
    assert len(doc) == 300
    seed = build_query_seed(query)
    lengths = []

    def recording(method, pos):
        def wrapper(self, *args):
            lengths.append(args[pos])
            return method(self, *args)

        return wrapper

    # new_length is the 5th / 6th positional argument after self
    monkeypatch.setattr(
        ClusterManager, "_process_existing", recording(ClusterManager._process_existing, 4)
    )
    monkeypatch.setattr(ClusterManager, "_process_new", recording(ClusterManager._process_new, 5))
    kept, _score = match_series_rollback(seed, doc)
    assert kept
    assert max(lengths) <= len(query) + 1


@settings(deadline=None, max_examples=200)
@given(
    st.integers(min_value=2, max_value=10).flatmap(
        lambda qlen: st.lists(
            st.integers(min_value=2, max_value=qlen).flatmap(
                lambda ws: st.tuples(
                    st.integers(min_value=0, max_value=qlen - ws),
                    st.integers(min_value=0, max_value=12),
                    st.just(ws),
                )
            ),
            max_size=150,
        )
    ),
    st.randoms(use_true_random=False),
)
def test_filter_contained_matches_equals_pairwise_predicate(matches, rnd):
    """The grouped containment sweep keeps exactly what a double loop over
    the reference predicate keeps, after dedup and the output sort."""
    from tsc_spark.kernel.matching import _match_contains, filter_contained_matches

    # duplicate a random share of the matches (0–300 in all) and shuffle
    matches = matches + rnd.sample(matches, rnd.randint(0, len(matches)))
    rnd.shuffle(matches)
    deduped = set(matches)
    expected = sorted(
        (m for m in deduped if not any(_match_contains(o, m) for o in deduped if o != m)),
        key=lambda m: (m[0], m[1], -m[2]),
    )
    assert filter_contained_matches(matches) == expected


def test_match_series_rollback_reusable_across_docs():
    """Sequential reuse over many docs == fresh copy per doc."""
    import pickle

    from tsc_spark.kernel.matching import (
        build_query_seed,
        match_series,
        match_series_rollback,
    )
    from tsc_spark.sources.synth import synth_tokens

    seed = build_query_seed([0, 1, 3, 2, 4, 5, 3, 1])
    seed_bytes = pickle.dumps(seed)
    for _doc_id, toks, _src in synth_tokens(24, include_edges=True):
        expected = match_series(pickle.loads(seed_bytes), toks, copy_seed=False)
        assert match_series_rollback(seed, toks) == expected


def test_window_matches_cap_bounds_degenerate_docs(spark):
    """A constant-token doc makes every window identical; the per-key
    position cap bounds the pair expansion while leaving normal docs
    untouched (operators.matching.exact_window_matches skew guard)."""
    from pyspark.sql import functions as F

    from tsc_spark.operators.matching import exact_window_matches

    df = spark.createDataFrame(
        [("const", [3] * 40), ("normal", [0, 1, 2, 0, 1, 2, 5, 7])],
        "doc_id string, tokens array<int>",
    )
    exact = exact_window_matches(df, window_sizes=(3,))
    capped = exact_window_matches(df, window_sizes=(3,), max_positions_per_key=8)

    n_exact = {r["doc_id"]: r["n"] for r in exact.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    n_capped = {r["doc_id"]: r["n"] for r in capped.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    # constant doc: 38 identical windows -> C(38,2)=703 exact, C(8,2)=28 capped
    assert n_exact["const"] == 703
    assert n_capped["const"] == 28
    # normal doc unaffected by the cap
    assert n_exact["normal"] == n_capped["normal"]
    norm_rows = lambda d: sorted(
        (r.q_start, r.db_start) for r in d.filter(F.col("doc_id") == "normal").collect()
    )
    assert norm_rows(exact) == norm_rows(capped)
