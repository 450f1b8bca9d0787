"""Spark clustering operator vs the oracle kernel: exact golden equality
(FIXTURES.md §2.1-2.2) and parallelism invariance."""

import pytest
from pyspark.sql import functions as F

from tsc_spark.kernel.api import analyse_tokens
from tsc_spark.operators._util import balance_for_kernel
from tsc_spark.operators.clustering import cluster_timeline, cluster_tree


def _oracle_timeline(rows, mtr=0.3, cmw=1.0):
    golden = {}
    for doc_id, toks, _src in rows:
        golden[doc_id] = analyse_tokens(toks, mtr, cmw).timeline()
    return golden


@pytest.fixture(scope="module")
def golden(tokens_rows):
    return _oracle_timeline(tokens_rows)


def _collect_timeline(df):
    out = {}
    for r in df.collect():
        out.setdefault(r.doc_id, []).append((r.window_size, r.cluster_id, list(r.indices)))
    for v in out.values():
        v.sort(key=lambda t: (t[0], int(t[1])))
    return out


class TestTimelineExactEquality:
    def test_matches_oracle(self, spark, tokens_df, golden):
        result = _collect_timeline(cluster_timeline(tokens_df))
        assert set(result) == {d for d in golden if golden[d]}
        for doc_id, rows in result.items():
            assert rows == golden[doc_id], doc_id

    def test_edge_docs_present(self, spark, tokens_df, golden):
        result = _collect_timeline(cluster_timeline(tokens_df))
        # the degenerate seed cluster (si=[0]) exists even for empty docs
        assert result["edge_empty"] == [(2, "0", [0])]
        assert result["edge_one"] == [(2, "0", [0])]
        assert result["edge_two"] == [(2, "0", [0])]

    def test_parallelism_invariance(self, spark, tokens_df, golden):
        r1 = _collect_timeline(cluster_timeline(tokens_df.repartition(1)))
        r8 = _collect_timeline(cluster_timeline(tokens_df.repartition(8)))
        assert r1 == r8

    def test_balanced_partitioning_same_result(self, spark, tokens_df, golden):
        balanced = _collect_timeline(
            cluster_timeline(balance_for_kernel(tokens_df, 4, F.size("tokens")))
        )
        plain = _collect_timeline(cluster_timeline(tokens_df))
        assert balanced == plain


class TestTreeBitEquality:
    def test_rep_floats_bit_equal(self, spark, tokens_df, tokens_rows):
        got = {}
        for r in cluster_tree(tokens_df).collect():
            got.setdefault(r.doc_id, []).append(
                (list(r.path), list(r.si), [float(x) for x in r.rep])
            )
        for v in got.values():
            v.sort(key=lambda t: t[0])
        for doc_id, toks, _src in tokens_rows:
            want = [
                (list(p), list(s), list(rep))
                for p, s, rep in analyse_tokens(toks).tree()
            ]
            want.sort(key=lambda t: t[0])
            assert got[doc_id] == want, doc_id  # == on floats → bit-exact up to -0.0


def test_null_tokens_row_emits_nothing(spark):
    """A row whose series is NULL emits no rows from the per-doc kernel
    operators (like the rollup); the doc beside it is unaffected."""
    from tsc_spark.kernel.matching import build_query_seed, match_series
    from tsc_spark.operators.clustering import cluster_timeline_poly
    from tsc_spark.operators.matching import (
        note_vol_query_matches,
        query_matches,
        stm_interference_events,
    )

    toks = [0, 1, 3, 2, 4, 5, 3, 1, 0, 1, 3, 2, 4]
    df = spark.createDataFrame(
        [("null", None), ("ok", toks)], "doc_id string, tokens array<int>"
    )
    mgr = analyse_tokens(toks)

    timeline = _collect_timeline(cluster_timeline(df))
    assert timeline == {"ok": [(ws, cid, list(i)) for ws, cid, i in mgr.timeline()]}

    tree = cluster_tree(df).collect()
    assert {r.doc_id for r in tree} == {"ok"} and len(tree) == len(mgr.tree())

    query = [0, 1, 3, 2, 4, 5, 3, 1]
    got = [
        (r.doc_id, r.q_start, r.db_start, r.window_size)
        for r in query_matches(spark, df, query).collect()
    ]
    want = match_series(build_query_seed(query), toks)[0]
    assert sorted(got) == [("ok", *m) for m in want] and want

    chords = spark.createDataFrame(
        [("null", None), ("ok", [[float(t)] for t in toks])],
        "doc_id string, chords array<array<double>>",
    )
    poly = cluster_timeline_poly(chords).collect()
    assert {r.doc_id for r in poly} == {"ok"}

    notevol = spark.createDataFrame(
        [("null", None, None), ("ok", [float(t) for t in toks], [0.5] * len(toks))],
        "doc_id string, notes array<double>, vols array<double>",
    )
    nv_query = [[float(t) + 12.0, 0.5] for t in toks[:3]]
    nv = note_vol_query_matches(spark, notevol, nv_query).collect()
    assert {r.doc_id for r in nv} == {"ok"}

    stm = stm_interference_events(df).collect()
    assert {r.doc_id for r in stm} == {"ok"} and len(stm) == 4


def test_under_partitioned_input_without_tokens_column(spark):
    """A 1-partition input is spread by the shell on its own series
    column: frames with no ``tokens`` column (chords, notes/vols) run."""
    from tsc_spark.kernel.notevol import find_octave_invariant_matches
    from tsc_spark.operators.clustering import cluster_timeline_poly
    from tsc_spark.operators.matching import note_vol_query_matches

    toks = [0, 1, 3, 2, 4, 5, 3, 1, 0, 1, 3, 2, 4]
    chords = spark.createDataFrame(
        [(f"d{i}", [[float(t + i)] for t in toks]) for i in range(3)],
        "doc_id string, chords array<array<double>>",
    ).coalesce(1)
    assert chords.rdd.getNumPartitions() == 1
    poly = sorted(map(tuple, cluster_timeline_poly(chords).collect()))
    spread = sorted(map(tuple, cluster_timeline_poly(chords.repartition(4)).collect()))
    assert poly == spread and {r[0] for r in poly} == {"d0", "d1", "d2"}

    docs = {f"d{i}": [[float(t + i), 0.5] for t in toks] for i in range(3)}
    notevol = spark.createDataFrame(
        [(d, [n for n, _ in pts], [v for _, v in pts]) for d, pts in docs.items()],
        "doc_id string, notes array<double>, vols array<double>",
    ).coalesce(1)
    assert notevol.rdd.getNumPartitions() == 1
    query = [[float(t) + 12.0, 0.5] for t in toks[:3]]
    got = sorted(map(tuple, note_vol_query_matches(spark, notevol, query).collect()))
    want = sorted(
        (d, *m)
        for d, pts in docs.items()
        for m in find_octave_invariant_matches(query, pts, 0.0, 3)
    )
    assert got == want and want
