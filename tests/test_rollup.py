"""Tier rollups + gap-fill vs a straightforward numpy oracle
(FIXTURES.md §2.3), plus sparse-gap and LOCF semantics."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tsc_spark.codecs import decode
from tsc_spark.config import TIER_STRIDES
from tsc_spark.kernel.scoring import combine_complexity_metric_scores, normalize_scores
from tsc_spark.operators.retention import _sweep_batch, retention_sweep
from tsc_spark.operators.rollup import (
    _AGGS,
    combined_window_scores,
    explode_points,
    gapfill,
    gapfill_locf,
    rollup_batch,
    rollup_points,
    series_stats,
    tiered_rollups,
)
from tsc_spark.plans.pipeline import _doc_rows


def _oracle_rollup(tokens, stride):
    """{window_idx: (count, min, max, sum)} for one doc."""
    arr = np.asarray(tokens, dtype=np.int64)
    out = {}
    for w in range(0, (len(arr) + stride - 1) // stride):
        seg = arr[w * stride : (w + 1) * stride]
        out[w] = (len(seg), int(seg.min()), int(seg.max()), int(seg.sum()))
    return out


@pytest.fixture(scope="module")
def rollups(spark, tokens_df):
    return {t: df.collect() for t, df in tiered_rollups(tokens_df).items()}


class TestTierRollups:
    @pytest.mark.parametrize("tier", [0, 1, 2])
    def test_matches_oracle(self, rollups, tokens_rows, tier):
        stride = TIER_STRIDES[tier]
        golden = {}
        for doc_id, toks, _src in tokens_rows:
            for w, aggs in _oracle_rollup(toks, stride).items():
                golden[(doc_id, w)] = aggs
        got = {
            (r.doc_id, r.window_idx): (r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in rollups[tier]
        }
        assert got == golden

    def test_tier2_composes_from_tier1(self, spark, tokens_df):
        # composing 8×8 from tier-1 must equal a direct 64× rollup
        points = explode_points(tokens_df)
        direct = {
            (r.doc_id, r.window_idx): (r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in rollup_points(points, 64, 2).collect()
        }
        composed = {
            (r.doc_id, r.window_idx): (r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
            for r in tiered_rollups(tokens_df)[2].collect()
        }
        assert composed == direct


def _batch(docs, tokens=None):
    """(doc_id, tokens) Arrow batch; ``docs`` maps doc_id → list or None."""
    if tokens is None:
        tokens = pa.array(list(docs.values()), type=pa.list_(pa.int32()))
    return pa.RecordBatch.from_arrays(
        [pa.array(list(docs), type=pa.string()), tokens], names=["doc_id", "tokens"]
    )


def _batch_windows(batch, stride, keep=None, tier=1):
    out = rollup_batch(batch, stride, tier, keep)
    assert out.schema == pa.schema(
        [("doc_id", pa.string()), ("window_idx", pa.int64()), ("agg_count", pa.int64()),
         ("agg_min", pa.int32()), ("agg_max", pa.int32()), ("agg_sum", pa.int64()),
         ("tier", pa.int32())]
    )
    assert set(out.column("tier").to_pylist()) <= {tier}
    return {
        (r["doc_id"], r["window_idx"]): (r["agg_count"], r["agg_min"], r["agg_max"], r["agg_sum"])
        for r in out.to_pylist()
    }


def _reference_windows(docs, stride, keep=None):
    """Per-doc oracle windows, cut to each doc's last ``keep`` windows."""
    out = {}
    for d, toks in docs.items():
        wins = _oracle_rollup(toks, stride) if toks else {}
        out.update(((d, w), aggs) for w, aggs in wins.items()
                   if keep is None or w >= len(wins) - keep)
    return out


# ``keep`` values every batch test runs: no cut, cut everything, and
# keep-last horizons shorter and longer than some docs
KEEPS = (None, 0, 1, 3)


class TestRollupBatch:
    """``rollup_batch`` straight on Arrow batches, against the per-doc
    numpy reference (no Spark), with and without the keep-last cut."""

    @pytest.mark.parametrize("stride", [1, 8, 64])
    def test_exact_multiples_and_remainders(self, stride):
        rng = np.random.default_rng(stride)
        docs = {f"d{n}": rng.integers(-50, 50, n).tolist()
                for n in (1, 7, 8, 9, 63, 64, 65, 128, 130)}
        for keep in KEEPS:
            assert _batch_windows(_batch(docs), stride, keep) == _reference_windows(
                docs, stride, keep
            )

    def test_null_and_empty_arrays_have_no_windows(self):
        docs = {"a": None, "b": [], "c": [3, 1, 2], "d": None, "e": []}
        assert _batch_windows(_batch(docs), 2) == {("c", 0): (2, 1, 3, 4), ("c", 1): (1, 2, 2, 2)}
        assert _batch_windows(_batch(docs), 2, keep=1) == {("c", 1): (1, 2, 2, 2)}
        for keep in KEEPS:
            assert _batch_windows(_batch({"a": None, "b": []}), 8, keep) == {}
            assert _batch_windows(_batch({}), 8, keep) == {}

    def test_null_over_a_nonempty_segment_is_skipped(self):
        # Arrow lets a NULL list slot span child values; they are not the doc's
        tokens = pa.ListArray.from_arrays(
            pa.array([0, 3, 6, 9], type=pa.int32()),
            pa.array([1, 2, 3, 100, 200, 300, 4, 5, 6], type=pa.int32()),
            mask=pa.array([False, True, False]),
        )
        docs = {"a": [1, 2, 3], "b": None, "c": [4, 5, 6]}
        for keep in KEEPS:
            assert _batch_windows(_batch(docs, tokens), 2, keep) == _reference_windows(
                docs, 2, keep
            )

    @pytest.mark.parametrize("stride", [1, 8])
    def test_sliced_batch_with_nonzero_offset(self, stride):
        rng = np.random.default_rng(7)
        docs = {f"d{i}": rng.integers(0, 24, int(n)).tolist() if n else None
                for i, n in enumerate(rng.integers(0, 30, 12))}
        sliced = _batch(docs).slice(3, 6)
        assert sliced.column(1).offset == 3
        kept = dict(list(docs.items())[3:9])
        for keep in KEEPS:
            assert _batch_windows(sliced, stride, keep) == _reference_windows(kept, stride, keep)

    @pytest.mark.parametrize("stride", [1, 8, 64])
    def test_null_elements_skip_like_sql_aggregates(self, stride):
        """A NULL element is not counted and not reduced; a window of
        NULLs alone has count 0 and NULL aggregates."""
        docs = {"a": [1, None, 3], "b": [None] * 9,
                "c": [None, -4] + [7] * 14 + [None] * 8 + [2] * 50}
        for keep in KEEPS:
            expected = {}
            for d, toks in docs.items():
                n_win = -(-len(toks) // stride)
                for w in range(0 if keep is None else max(n_win - keep, 0), n_win):
                    seg = [v for v in toks[w * stride : (w + 1) * stride] if v is not None]
                    expected[(d, w)] = (
                        (len(seg), min(seg), max(seg), sum(seg)) if seg else (0, None, None, None)
                    )
            assert _batch_windows(_batch(docs), stride, keep) == expected

    def test_int32_extremes_and_int64_sums(self):
        lo, hi = np.iinfo(np.int32).min, np.iinfo(np.int32).max
        docs = {"hi": [hi] * 70, "lo": [lo] * 70, "mixed": [lo, hi] * 40}
        for keep in KEEPS:
            assert _batch_windows(_batch(docs), 64, keep) == _reference_windows(docs, 64, keep)
        got = _batch_windows(_batch(docs), 64)
        assert got[("hi", 0)] == (64, hi, hi, 64 * hi)
        assert got[("lo", 0)] == (64, lo, lo, 64 * lo)


class TestGapfill:
    def test_sparse_points_gapfilled(self, spark):
        # simulate retention-expired segment: doc with 40 tokens but
        # points 8..31 deleted → tier-1 windows 1..3 are gaps
        tokens_df = spark.createDataFrame(
            [("d1", list(range(40)), 40, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        points = explode_points(tokens_df).filter(
            ~F.col("point_index").between(8, 31)
        )
        filled = gapfill(rollup_points(points, 8, 1), tokens_df, 8, 1).collect()
        by_w = {r.window_idx: r for r in filled}
        assert sorted(by_w) == [0, 1, 2, 3, 4]
        for w in (1, 2, 3):
            r = by_w[w]
            assert r.gapfilled and r.agg_count == 0
            assert r.agg_min is None and r.agg_max is None and r.agg_sum is None
        assert not by_w[0].gapfilled and by_w[0].agg_count == 8

    def test_locf_carry_forward(self, spark):
        tokens_df = spark.createDataFrame(
            [("d1", list(range(40)), 40, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        )
        points = explode_points(tokens_df).filter(
            ~F.col("point_index").between(8, 31)
        )
        filled = gapfill_locf(gapfill(rollup_points(points, 8, 1), tokens_df, 8, 1))
        by_w = {r.window_idx: r for r in filled.collect()}
        # gaps carry window 0's aggregates
        for w in (1, 2, 3):
            assert by_w[w].agg_min == 0
            assert by_w[w].agg_max == 7
            assert by_w[w].agg_sum == 28
            assert by_w[w].agg_count == 0  # count stays 0: window truly empty
        assert by_w[4].agg_min == 32  # real data resumes


class TestSeriesStats:
    def test_counts(self, spark, tokens_df, tokens_rows):
        got = {r.doc_id: r.point_count for r in series_stats(tokens_df).collect()}
        for doc_id, toks, _src in tokens_rows:
            assert got[doc_id] == len(toks)


def test_combined_window_scores_match_kernel_scoring(spark):
    """combined_window_scores is the relational twin of kernel.scoring,
    per doc: reliability is normalize_scores' weight over agg_sum,
    norm_score × reliability its score, and combined_score is
    combine_complexity_metric_scores over (sum, count, max, min)."""
    # per doc, one (agg_count, agg_min, agg_max, agg_sum) per window
    docs = {
        # every metric single-valued: reliability 0, combined 0.0
        "const": [(8, 2, 5, 30)] * 3,
        # agg_sum takes exactly two values: reliability 0.2
        "two": [(8, 1, 9, 10), (8, 0, 7, 20), (5, 3, 6, 10), (2, 4, 4, 20)],
        "many": [(8, 0, 23, 97), (8, 1, 20, 60), (8, 3, 17, 75),
                 (8, 0, 22, 88), (3, 5, 11, 24)],
    }
    df = spark.createDataFrame(
        [(d, w, *v) for d, wins in docs.items() for w, v in enumerate(wins)],
        "doc_id string, window_idx long, agg_count long, agg_min long, "
        "agg_max long, agg_sum long",
    )
    got: dict = {}
    for r in combined_window_scores(df).collect():
        got.setdefault(r.doc_id, {})[r.window_idx] = r

    for doc, wins in docs.items():
        cnt, mn, mx, sm = ([float(x) for x in col] for col in zip(*wins))
        scores, weight = normalize_scores(sm, True)
        combined = combine_complexity_metric_scores(sm, cnt, mx, mn)
        assert sorted(got[doc]) == list(range(len(wins)))
        for w, r in got[doc].items():
            assert r.reliability == weight
            assert r.norm_score * r.reliability == pytest.approx(scores[w], abs=1e-6)
            assert r.combined_score == round(combined[w], 6)

    const = got["const"].values()
    assert {(r.reliability, r.norm_score, r.combined_score) for r in const} == {
        (0.0, 0.5, 0.0)
    }
    assert {r.reliability for r in got["two"].values()} == {0.2}


def test_exact_window_matches_null_tokens_never_match(spark):
    """Windows containing NULL tokens key to NULL and are dropped —
    concat_ws alone would skip the null and collide [1,NULL,2] with
    [1,2,NULL] (the DuckDB twin's || yields NULL keys that never join)."""
    from tsc_spark.operators.matching import exact_window_matches

    df = spark.createDataFrame(
        [("d1", [1, None, 2, 1, 2, None])],
        "doc_id string, tokens array<int>",
    )
    assert exact_window_matches(df, window_sizes=(3,)).count() == 0
    import pytest

    with pytest.raises(ValueError):
        exact_window_matches(df, window_sizes=())


def test_filter_contained_relational_dedups_exact_duplicates(spark):
    from tsc_spark.operators.matching import filter_contained_relational

    dup = spark.createDataFrame(
        [("d", 0, 5, 3), ("d", 0, 5, 3)],
        "doc_id string, q_start int, db_start int, window_size int",
    )
    assert filter_contained_relational(dup).count() == 1


def test_octave_matches_skew_cap_bounds_pairs(spark):
    """The grouped expansion + cap from exact_window_matches now guards
    the octave matcher too: a constant-token doc's quadratic key is
    bounded."""
    from tsc_spark.operators.matching import octave_invariant_matches

    deg = spark.createDataFrame(
        [("d", [5] * 40)], "doc_id string, tokens array<int>"
    )
    uncapped = octave_invariant_matches(deg, window_size=4).count()
    capped = octave_invariant_matches(
        deg, window_size=4, max_positions_per_key=8
    ).count()
    assert uncapped == 37 * 36 // 2
    assert capped == 8 * 7 // 2


def test_synth_tokens_skewed_parallelism_invariant(spark):
    """The skew-bench corpus must be bit-identical at any partitioning —
    the property that makes the balanced-vs-hash comparison a controlled
    experiment (same input, only the partitioning varies)."""
    from tsc_spark.sources.synth import synth_tokens_skewed

    a = synth_tokens_skewed(spark, 300, heavy_docs=4, heavy_len=64, partitions=2)
    b = synth_tokens_skewed(spark, 300, heavy_docs=4, heavy_len=64, partitions=7)
    ra = sorted((r.doc_id, list(r.tokens), r.n_tok, r.source) for r in a.collect())
    rb = sorted((r.doc_id, list(r.tokens), r.n_tok, r.source) for r in b.collect())
    assert ra == rb
    heavy = [r for r in ra if r[3] == "heavy"]
    assert len(heavy) == 4 and all(r[2] == 64 for r in heavy)


# docs for the doc-major tier pass: NULL and empty docs, NULL token
# elements, docs shorter than one tier-2 window and docs over several;
# the batch is sliced (a nonzero offset) when ``cut`` is drawn
_token = st.one_of(st.none(), st.integers(-(2**31), 2**31 - 1)) | st.integers(-3, 3)
_doc = st.one_of(
    st.none(),
    st.lists(_token, max_size=20),
    st.lists(st.integers(-(2**31), 2**31 - 1) | st.none(), min_size=60, max_size=200),
)


@st.composite
def _doc_batches(draw):
    docs = draw(st.lists(_doc, max_size=8))
    batch = _batch({f"d{i}": toks for i, toks in enumerate(docs)})
    if draw(st.booleans()) and len(batch):
        start = draw(st.integers(0, len(batch) - 1))
        batch = batch.slice(start, draw(st.integers(0, len(batch) - start)))
    return batch


def _exploded(rows: pa.RecordBatch, tier: int) -> list[tuple]:
    """Window rows of a batch's doc-major ``tier{tier}`` structs, in
    Python; tier 0 explodes each row's ``encoded`` blob, its windows
    indexed from the end of the doc (``n_tok``)."""
    if tier == 0:
        tokens = decode(rows.column("encoded")).to_pylist()
        return [
            (d, n - len(toks) + k, int(t is not None), t, t, t, 0)
            for d, n, toks in zip(rows.column("doc_id").to_pylist(),
                                  rows.column("n_tok").to_pylist(), tokens)
            for k, t in enumerate(toks or ())
        ]
    return [
        (d, r["first_window_idx"] + k, *aggs, tier)
        for d, r in zip(rows.column("doc_id").to_pylist(), rows.column(f"tier{tier}").to_pylist())
        for k, aggs in enumerate(zip(r["agg_count"], r["agg_min"], r["agg_max"], r["agg_sum"]))
    ]


def _stored_rows(batch: pa.RecordBatch) -> pa.RecordBatch:
    """The pipeline's stored rows (``_doc_rows``) of a ``(doc_id, tokens)``
    batch."""
    tokens = batch.column(1)
    n_tok = pa.array([len(t or ()) for t in tokens.to_pylist()], pa.int32())
    source = pa.array(["s"] * len(batch))
    return _doc_rows(
        pa.RecordBatch.from_arrays([batch.column(0), tokens, n_tok, source],
                                   names=["doc_id", "tokens", "n_tok", "source"]),
    )


class TestDocMajorTiers:
    """The doc-major tier pass (``rollup.doc_tier_structs``, in the
    pipeline's stored rows) against ``rollup_batch``, and the one-pass sweep of the
    stored rows (``retention._sweep_batch``) against ``retention_sweep``."""

    @settings(max_examples=80, deadline=None)
    @given(_doc_batches())
    def test_packed_tiers_explode_to_rollup_batch(self, batch):
        rows = _stored_rows(batch)
        tier1, tier2 = rows.column("tier1"), rows.column("tier2")
        assert tier1.type == tier2.type
        assert [f.name for f in tier1.type] == ["first_window_idx", *_AGGS]
        # one struct per doc, a doc without windows holding empty arrays;
        # tier 2 is reduced from the tier-1 partials, rollup_batch at
        # stride 64 reduces the tokens directly: every field bit-equal
        assert len(tier1) == len(tier2) == len(batch)
        for tier in (1, 2):
            direct = rollup_batch(batch, TIER_STRIDES[tier], tier)
            assert _exploded(rows, tier) == [tuple(r.values()) for r in direct.to_pylist()], tier
            counts = [len(r["agg_count"]) for r in rows.column(f"tier{tier}").to_pylist()]
            assert counts == [-(-n // TIER_STRIDES[tier]) for n in rows.column("n_tok").to_pylist()]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(_doc_batches(), st.integers(0, 12), st.none() | st.integers(0, 12),
           st.none() | st.integers(0, 70), st.integers(0, 12))
    def test_slice_sweep_equals_retention_sweep(self, spark, batch, keep1, keep2, keep0, smaller):
        """``keep`` 0, ``keep`` past a doc's window count, a tier the
        policy omits (kept whole), and a second sweep with a smaller
        ``keep`` over the first one's output, on every tier."""
        policy = {1: keep1} | ({} if keep2 is None else {2: keep2}) | (
            {} if keep0 is None else {0: keep0}
        )
        rows = spark.createDataFrame(
            [r for t in (0, 1, 2) for r in rollup_batch(batch, TIER_STRIDES[t], t).to_pylist()],
            "doc_id string, window_idx long, agg_count long, agg_min int, agg_max int, "
            "agg_sum long, tier int",
        )

        def swept(stored, pol):
            out = _sweep_batch(stored, pol)
            assert out.column("n_before").to_pylist() == (
                [len(t or ()) for t in decode(stored.column("encoded")).to_pylist()]
                if 0 in pol else [0] * len(stored)
            )
            return out.select(stored.schema.names)

        def windows(stored):
            return sorted((r for t in (0, 1, 2) for r in _exploded(stored, t)), key=repr)

        def collect(df):
            return sorted(map(tuple, df.collect()), key=repr)

        once = swept(_stored_rows(batch), policy)
        assert windows(once) == collect(retention_sweep(rows, policy))
        again = {t: max(k - smaller, 0) for t, k in policy.items()}
        assert windows(swept(once, again)) == collect(
            retention_sweep(retention_sweep(rows, policy), again)
        )
