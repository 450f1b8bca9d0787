"""Similarity search: exact cosine baseline vs LSH and IVF scale paths."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb_df(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def query_vec(emb_df):
    row = emb_df.filter(F.col("vec_id") == 0).select("embedding").collect()[0]
    return [float(v) for v in row[0]]


def _exact_topk_ids(emb_df, query_vec, k):
    from tsc_spark.operators.similarity import cosine_topk

    rows = cosine_topk(emb_df.filter(F.col("vec_id") != 0), query_vec, k).collect()
    return [r["vec_id"] for r in rows], {r["vec_id"]: r["cosine"] for r in rows}


def test_cosine_topk_matches_numpy(emb_df, query_vec):
    ids, scores = _exact_topk_ids(emb_df, query_vec, 10)
    pdf = emb_df.filter(F.col("vec_id") != 0).toPandas()
    x = np.array([list(v) for v in pdf["embedding"]], dtype=np.float64)
    q = np.asarray(query_vec)
    cos = (x @ q) / (np.linalg.norm(x, axis=1) * np.linalg.norm(q))
    order = np.lexsort((pdf["vec_id"].to_numpy(), -np.round(cos, 6)))[:10]
    want = pdf["vec_id"].to_numpy()[order].tolist()
    assert ids == want


def test_ivf_recall_against_exact(emb_df, query_vec):
    from tsc_spark.operators.similarity import ivf_topk

    exact_ids, _ = _exact_topk_ids(emb_df, query_vec, 10)
    got = ivf_topk(
        emb_df.filter(F.col("vec_id") != 0), query_vec, dim=len(query_vec), k=10
    ).collect()
    got_ids = [r["vec_id"] for r in got]
    assert len(got_ids) == 10
    recall = len(set(got_ids) & set(exact_ids)) / 10
    assert recall >= 0.5  # nprobe=4 of 16 lists


def test_ivf_deterministic(emb_df, query_vec):
    from tsc_spark.operators.similarity import ivf_fit_centroids, ivf_topk

    src = emb_df.filter(F.col("vec_id") != 0)
    c1 = ivf_fit_centroids(src, len(query_vec))
    c2 = ivf_fit_centroids(src, len(query_vec))
    assert np.array_equal(c1, c2)
    a = [r["vec_id"] for r in ivf_topk(src, query_vec, len(query_vec), cents=c1).collect()]
    b = [r["vec_id"] for r in ivf_topk(src, query_vec, len(query_vec), cents=c2).collect()]
    assert a == b


def test_ivf_assign_partitions_all_vectors(emb_df, query_vec):
    from tsc_spark.operators.similarity import ivf_assign, ivf_fit_centroids

    src = emb_df.filter(F.col("vec_id") != 0)
    cents = ivf_fit_centroids(src, len(query_vec))
    assigned = ivf_assign(src, cents)
    assert assigned.filter(F.col("ivf_list").isNull()).count() == 0
    n_lists = assigned.select("ivf_list").distinct().count()
    assert 2 <= n_lists <= 16
    # the Arrow-batched matmul argmax, cross-checked against numpy's
    # argmax over the collected embeddings (same first-occurrence ties)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    rows = sorted(assigned.collect(), key=lambda r: r.vec_id)
    x = np.array([r.embedding for r in rows], dtype=np.float64)
    assert [r.ivf_list for r in rows] == np.argmax(x @ cents.T, axis=1).tolist()


def test_lsh_multiprobe_fills_k(emb_df, query_vec):
    from tsc_spark.operators.similarity import ann_topk_lsh

    got = ann_topk_lsh(
        emb_df.filter(F.col("vec_id") != 0), query_vec, dim=len(query_vec), k=10
    ).collect()
    assert len(got) == 10


def test_dedup_components_resolves_groups(spark):
    """Hand-built pair graph: a chain, a triangle, and an isolated pair
    resolve to min-doc components with one canonical per group."""
    pairs = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "d"),      # chain -> comp a
            ("x", "y"), ("y", "z"), ("x", "z"),      # triangle -> comp x
            ("m", "n"),                                # pair -> comp m
        ],
        "doc_a string, doc_b string",
    )
    from tsc_spark.operators.dedup import dedup_components

    out = {r.doc_id: (r.component, r.is_canonical) for r in dedup_components(pairs).collect()}
    assert out == {
        "a": ("a", True), "b": ("a", False), "c": ("a", False), "d": ("a", False),
        "x": ("x", True), "y": ("x", False), "z": ("x", False),
        "m": ("m", True), "n": ("m", False),
    }


def test_dedup_components_long_chain_converges(spark):
    """A 30-doc chain needs multiple propagation rounds; the fixpoint
    loop with lineage checkpoints must converge to one component."""
    docs = [f"d{i:02d}" for i in range(30)]
    pairs = spark.createDataFrame(
        list(zip(docs[:-1], docs[1:])), "doc_a string, doc_b string"
    )
    from tsc_spark.operators.dedup import dedup_components

    rows = dedup_components(pairs, max_iters=40, local_threshold=None).collect()
    assert {r.component for r in rows} == {"d00"}
    assert sum(r.is_canonical for r in rows) == 1


def test_contamination_flags_exact_ngram_overlap(spark):
    from tsc_spark.operators.dedup import contamination_flags

    corpus = spark.createDataFrame(
        [
            ("c1", "the quick brown fox jumps over the lazy dog"),
            ("c2", "completely unrelated words in this line here"),
            ("c3", "prefix the quick brown fox jumps suffix words"),
        ],
        "doc_id string, text string",
    )
    bench = spark.createDataFrame(
        [("b1", "the quick brown fox jumps across town")],
        "doc_id string, text string",
    )
    out = {r.doc_id: (r.n_overlapping_ngrams, list(r.bench_doc_ids))
           for r in contamination_flags(corpus, bench, n=5).collect()}
    # 'the quick brown fox jumps' is the only shared 5-gram
    assert out == {"c1": (1, ["b1"]), "c3": (1, ["b1"])}


def test_dedup_components_adversarial_chain_log_rounds(spark):
    """A 1000-doc chain has diameter 999: plain neighbor-min label
    propagation would need ~999 rounds, the pointer-jump (doubling) step
    must converge in O(log n) — well under 15 rounds."""
    docs = [f"d{i:04d}" for i in range(1000)]
    pairs = spark.createDataFrame(
        list(zip(docs[:-1], docs[1:])), "doc_a string, doc_b string"
    )
    from tsc_spark.operators.dedup import dedup_components

    stats = {}
    rows = dedup_components(
        pairs, max_iters=20, stats=stats, local_threshold=None
    ).collect()
    assert stats["converged"]
    assert stats["mode"] == "distributed"
    assert stats["rounds"] <= 15
    assert {r.component for r in rows} == {"d0000"}
    assert sum(r.is_canonical for r in rows) == 1
    assert len(rows) == 1000


def test_ngram_jaccard_posting_list_cap_bounds_pairs(spark):
    """Degenerate corpus: every doc shares one boilerplate shingle.
    Uncapped, the inverted index expands ~n²/2 pairs off that single
    posting list; with the doc-frequency cap the stop-shingle is dropped
    and only genuine near-dups pair up."""
    boiler = "all rights reserved worldwide"
    docs = [(f"d{i:03d}", f"{boiler} unique content piece number {i}")
            for i in range(60)]
    # one genuine near-dup pair sharing their distinctive tail
    docs.append(("dupA", f"{boiler} shared telltale phrase ending here"))
    docs.append(("dupB", f"{boiler} shared telltale phrase ending here"))
    df = spark.createDataFrame(docs, "doc_id string, text string")
    from tsc_spark.operators.dedup import ngram_jaccard_pairs

    # uncapped: the boilerplate 4-gram joins every doc with every doc
    uncapped = ngram_jaccard_pairs(df, n=4, threshold=0.0, max_doc_freq=None)
    assert uncapped.count() > 1000
    # capped: only the true dup pair survives candidate generation
    capped = ngram_jaccard_pairs(df, n=4, threshold=0.5, max_doc_freq=10)
    rows = capped.collect()
    assert [(r.doc_a, r.doc_b) for r in rows] == [("dupA", "dupB")]
    assert rows[0].jaccard == 1.0
    # and the candidate set itself is bounded, not just the thresholded
    # output: with the cap no posting list exceeds max_doc_freq, so even
    # at threshold 0 the pair count stays tiny
    assert ngram_jaccard_pairs(df, n=4, threshold=0.0, max_doc_freq=10).count() < 10


def test_adaptive_n_planes_bounds_bucket_population():
    """Expected bucket population N/2^p stays ≤ target (until the int32
    hi-clamp), instead of growing linearly as with a fixed plane count."""
    from tsc_spark.operators.similarity import adaptive_n_planes

    for n in (1_000, 100_000, 10_000_000, 1_000_000_000):
        p = adaptive_n_planes(n, target_bucket_size=64)
        if p < 24:  # below the clamp the guarantee is exact
            assert n / (1 << p) <= 64, (n, p)
    # monotone in corpus size, clamped to [4, 24]
    assert adaptive_n_planes(0) == 4
    assert adaptive_n_planes(100) == 4
    assert adaptive_n_planes(10**12) == 24
    ps = [adaptive_n_planes(10**k) for k in range(2, 13)]
    assert ps == sorted(ps)


def test_near_dup_multi_table_finds_planted_pair(spark):
    """Two near-identical vectors among random noise are recovered by the
    banded multi-table LSH + exact verify."""
    import numpy as np

    rng = np.random.default_rng(3)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(1, 40)]
    base = rng.standard_normal(16)
    near = base + rng.standard_normal(16) * 0.01
    vecs.append((100, base.tolist()))
    vecs.append((101, near.tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    from tsc_spark.operators.similarity import near_dup_embeddings

    rows = near_dup_embeddings(emb, dim=16, threshold=0.99).collect()
    assert [(r.vec_a, r.vec_b) for r in rows] == [(100, 101)]
    assert rows[0].cosine > 0.99


def test_dedup_components_random_graphs_match_union_find(spark):
    """Randomized equivalence: pointer-jump min-label propagation ==
    exact transitive closure (Python union-find oracle) on 30 random
    pair graphs of varying density.  These graphs sit under the default
    local_threshold, so this exercises the numpy small-graph finish;
    the distributed loop gets its own forced variant below."""
    import random

    from tsc_spark.operators.dedup import dedup_components

    rng = random.Random(7)
    for trial in range(30):
        n = rng.randint(2, 40)
        n_edges = rng.randint(1, 60)
        docs = [f"t{trial}_{i:02d}" for i in range(n)]
        pairs = []
        for _ in range(n_edges):
            a, b = rng.sample(docs, 2)
            pairs.append((min(a, b), max(a, b)))
        # union-find oracle
        parent = {d: d for d in docs}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {d for p in pairs for d in p}
        expected = {d: find(d) for d in touched}

        df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
        got = {r.doc_id: r.component for r in dedup_components(df).collect()}
        assert got == expected, f"trial {trial}"


def test_dedup_components_local_matches_distributed(spark):
    """Both execution paths — driver-side numpy finish and the
    checkpointed distributed join loop — must produce identical
    components, canonical flags and row sets on the same random graphs."""
    import random

    from tsc_spark.operators.dedup import dedup_components

    rng = random.Random(23)
    for trial in range(5):
        n = rng.randint(5, 30)
        docs = [f"e{trial}_{i:02d}" for i in range(n)]
        pairs = [
            tuple(sorted(rng.sample(docs, 2)))
            for _ in range(rng.randint(2, 40))
        ]
        df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
        key = lambda r: (r.doc_id, r.component, r.is_canonical)
        stats_l, stats_d = {}, {}
        local = sorted(
            map(key, dedup_components(df, stats=stats_l).collect())
        )
        dist = sorted(
            map(
                key,
                dedup_components(
                    df, stats=stats_d, local_threshold=None
                ).collect(),
            )
        )
        assert stats_l["mode"] == "local" and stats_d["mode"] == "distributed"
        assert local == dist, f"trial {trial}"


def test_zero_norm_embeddings_never_rank_or_pair(spark):
    """All-zero embeddings (padding / failed encodes) must score 0.0,
    not NaN — Spark sorts NaN above everything and NaN >= t is true, so
    unclamped zero vectors would fill top-k and near-dup outputs."""
    import numpy as np

    rng = np.random.default_rng(5)
    vecs = [(i, rng.standard_normal(8).tolist()) for i in range(1, 6)]
    vecs.append((100, [0.0] * 8))
    vecs.append((101, None))  # NULL embeddings are ignored, not a crash
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    from tsc_spark.operators.similarity import cosine_topk, near_dup_embeddings

    top = cosine_topk(emb, [1.0] * 8, k=10).collect()
    by_id = {r.vec_id: r.cosine for r in top}
    assert by_id[100] == 0.0  # clamped, not NaN
    assert top[0].vec_id != 100  # and not ranked first
    assert 101 not in by_id
    pairs = near_dup_embeddings(emb, dim=8, threshold=0.9).collect()
    assert all(100 not in (r.vec_a, r.vec_b) for r in pairs)


def test_lsh_bands_validation(spark, docs_df=None):
    import pytest

    from tsc_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.createDataFrame(
        [("d1", "a b c d e"), ("d2", "a b c d e")], "doc_id string, text string"
    )
    with pytest.raises(ValueError, match="bands must divide k"):
        lsh_candidate_pairs(docs, k=8, bands=3)
    with pytest.raises(ValueError, match="bands must be in"):
        lsh_candidate_pairs(docs, k=8, bands=16)


def test_simhash_bits_validation(spark):
    import pytest

    from tsc_spark.operators.dedup import simhash

    docs = spark.createDataFrame([("d1", "a b")], "doc_id string, text string")
    with pytest.raises(ValueError, match="bits must be in"):
        simhash(docs, bits=48)


def test_ragged_embedding_batch_raises_clearly(spark):
    import pytest

    from tsc_spark.operators.similarity import cosine_scores

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>",
    ).repartition(1)  # same Arrow batch -> the batch-shape guard fires
    with pytest.raises(Exception, match="ragged embedding lengths"):
        cosine_scores(emb, [1.0, 1.0]).collect()
    # a homogeneous batch whose dim differs from the query also reports
    # clearly instead of an opaque matmul gufunc error
    emb2 = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="ragged embedding lengths"):
        cosine_scores(emb2, [1.0, 1.0]).collect()


def test_near_dup_measured_recall_and_precision(spark):
    """MEASURED recall of the banded multi-table LSH against brute-force
    ground truth (the recall formula in near_dup_embeddings' docstring is
    otherwise only asserted on one planted pair): 12 base vectors x 5
    perturbed copies plant 120 true near-dup pairs among 440 noise
    vectors.  At p=adaptive_n_planes(500)=4 planes and L=4 tables the
    formula gives recall = 1-(1-(1-theta/pi)^4)^4 ~= 0.997 at cos 0.98;
    assert the measurement clears 0.9.  Precision must be exactly 1.0 —
    every emitted pair passes the exact-cosine verify, so the output is
    a subset of the brute-force truth set at the same round(6)."""
    import numpy as np

    from tsc_spark.operators.similarity import near_dup_embeddings

    rng = np.random.default_rng(11)
    dim = 32
    vecs = []
    for b in range(12):
        base = rng.standard_normal(dim)
        for _ in range(5):
            vecs.append(
                (len(vecs), (base + rng.standard_normal(dim) * 0.02).tolist())
            )
    for _ in range(440):
        vecs.append((len(vecs), rng.standard_normal(dim).tolist()))

    x = np.array([v for _, v in vecs], dtype=np.float64)
    nrm = np.maximum(np.linalg.norm(x, axis=1), 1e-12)
    cos = (x @ x.T) / np.outer(nrm, nrm)
    ia, ib = np.triu_indices(len(vecs), 1)
    keep = np.round(cos[ia, ib], 6) >= 0.98
    truth = set(zip(ia[keep].tolist(), ib[keep].tolist()))
    assert len(truth) >= 100  # the plant worked

    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    got = {
        (r.vec_a, r.vec_b)
        for r in near_dup_embeddings(emb, dim=dim, threshold=0.98).collect()
    }
    assert got <= truth  # exact verify => precision 1.0
    assert len(got) / len(truth) >= 0.9  # measured recall


def test_ann_lsh_measured_recall_planted(spark):
    """MEASURED recall for multi-probe LSH top-k: 5 planted vectors at
    cos ~0.9996 to the query among 495 noise vectors.  Per-plane flip
    probability is theta/pi ~= 0.009, so P(>2 of 8 planes flip) ~= 4e-5
    — radius-2 multi-probe must recover all 5 in the top-10 (and the
    exact path agrees on the full top-5 prefix)."""
    import numpy as np

    from tsc_spark.operators.similarity import ann_topk_lsh, cosine_topk

    rng = np.random.default_rng(13)
    dim = 32
    query = rng.standard_normal(dim)
    vecs = [
        (1000 + i, (query + rng.standard_normal(dim) * 0.02).tolist())
        for i in range(5)
    ]
    for i in range(495):
        vecs.append((i, rng.standard_normal(dim).tolist()))
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")

    got = ann_topk_lsh(emb, query.tolist(), dim=dim, k=10).collect()
    got_ids = [r.vec_id for r in got]
    assert set(range(1000, 1005)) <= set(got_ids)
    exact = [r.vec_id for r in cosine_topk(emb, query.tolist(), k=5).collect()]
    assert got_ids[:5] == exact


def test_lsh_probe_set_enumerates_hamming_ball(query_vec):
    """The exposed probe-set helper (bench measures scan fraction with
    it) must enumerate exactly the Hamming ball: own bucket + C(8,1) +
    C(8,2) = 37 distinct buckets, all within radius 2 of the center."""
    from tsc_spark.operators.similarity import lsh_probe_set

    probes = lsh_probe_set(query_vec, dim=len(query_vec))
    assert len(probes) == 37
    assert len(set(probes)) == 37
    center = probes[0]
    assert all(bin(p ^ center).count("1") <= 2 for p in probes)
    assert all(0 <= p < 256 for p in probes)


def test_ivf_probe_lists_matches_topk_path(emb_df, query_vec):
    """ivf_probe_lists (exposed for the bench scan-fraction figure) must
    pick exactly the lists ivf_topk scans: the nprobe nearest centroids,
    deterministic across calls."""
    from tsc_spark.operators.similarity import (
        ivf_assign,
        ivf_fit_centroids,
        ivf_probe_lists,
        ivf_topk,
    )

    base = emb_df.filter(F.col("vec_id") != 0)
    cents = ivf_fit_centroids(base, dim=len(query_vec))
    lists = ivf_probe_lists(query_vec, cents)
    assert lists == ivf_probe_lists(query_vec, cents)
    assert len(lists) == 4 and len(set(lists)) == 4
    assert all(0 <= p < cents.shape[0] for p in lists)
    # the candidate set those lists hold contains every id ivf_topk returns
    cand_ids = {
        r["vec_id"]
        for r in ivf_assign(base, cents)
        .filter(F.col("ivf_list").isin(lists))
        .select("vec_id")
        .collect()
    }
    top_ids = {
        r["vec_id"]
        for r in ivf_topk(base, query_vec, dim=len(query_vec), cents=cents).collect()
    }
    assert top_ids <= cand_ids
