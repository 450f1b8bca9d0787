"""Spark clustering operator vs the oracle kernel: exact golden equality
(FIXTURES.md §2.1-2.2) and parallelism invariance."""

import pytest

from tsc_spark.kernel.api import analyse_tokens
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
            cluster_timeline(tokens_df, balance_parallelism=4)
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


def test_query_matches_max_series_caps_the_scan(spark, tokens_df):
    from pyspark.sql import functions as F

    from tsc_spark.operators.matching import query_matches

    capped = query_matches(spark, tokens_df, [0, 1, 3, 2, 4, 5, 3, 1], max_series=5)
    docs = {r.doc_id for r in capped.select("doc_id").distinct().collect()}
    allowed = {r.doc_id for r in tokens_df.orderBy("doc_id").limit(5).collect()}
    assert docs <= allowed and len(allowed) == 5


def test_null_tokens_row_emits_nothing(spark):
    """A row whose series is NULL emits no rows from the per-doc kernel
    operators (like the rollup); the doc beside it is unaffected."""
    from tsc_spark.kernel.matching import build_query_seed, match_series
    from tsc_spark.operators.clustering import cluster_timeline_poly
    from tsc_spark.operators.matching import query_matches

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
