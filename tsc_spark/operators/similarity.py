"""Similarity search over the embeddings table (array<float> column).

Brute-force cosine top-k is the exact baseline (native F.zip_with /
F.aggregate arithmetic — stays in codegen, no Python).  The scale path
is LSH bucketing by random-hyperplane sign bits: candidates meet only
inside a bucket, turning the O(N·Q) scan into an equi-join.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from ._util import bucket_pairs

__all__ = [
    "cosine_scores",
    "cosine_topk",
    "hyperplane_buckets",
    "ann_topk_lsh",
    "ivf_fit_centroids",
    "ivf_assign",
    "ivf_topk",
    "adaptive_n_planes",
    "near_dup_embeddings",
]


def _matmul_udf(mat: np.ndarray, post, rtype: str):
    """Arrow-batched ``post(x, x @ matᵀ)`` per embedding batch ``x``:
    one BLAS matmul per batch instead of Spark's per-element array HOFs.
    One check of the list offsets (every row holds ``mat``'s dim), then
    the flat values reshape to ``(n, dim)`` with no per-row copy (NULL
    rows are filtered upstream).  ``post`` gives one value per row, or a
    fixed-length row per row for an array ``rtype``."""
    mat = np.asarray(mat, dtype=np.float64)
    dim = mat.shape[1]

    @arrow_udf(rtype)
    def _f(emb: pa.Array) -> pa.Array:
        lens = np.diff(emb.offsets.to_numpy())
        if (lens != dim).any():
            raise ValueError(
                f"ragged embedding lengths in batch: {sorted(set(lens.tolist()))}"
                f" (expected dim {dim})"
            )
        x = emb.flatten().to_numpy(zero_copy_only=False).reshape(-1, dim)
        x = x.astype(np.float64)
        out = post(x, x @ mat.T)
        if out.ndim == 1:
            return pa.array(out)
        offsets = np.arange(len(out) + 1, dtype=np.int32) * out.shape[1]
        return pa.ListArray.from_arrays(offsets, pa.array(out.ravel()))

    return _f


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_scores(
    emb: DataFrame, query_vec: list[float], out_col: str = "cosine"
) -> DataFrame:
    """Cosine similarity to a literal query vector, Arrow-batched numpy.

    Spark's array higher-order functions are interpreted per element
    (measured in BASELINE.md), so the exact scorer is a vectorized
    arrow_udf: one ``m @ q`` per Arrow batch — the per-row cost is a
    C-loop multiply-add, not 64 interpreted expression nodes."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = max(float(np.sqrt((q * q).sum())), 1e-12)

    def cos(x, dots):
        # zero-norm clamp: an all-zero embedding scores 0.0, not NaN
        # (Spark treats NaN as greatest, so NaN would top the DESC sort
        # and pass >= thresholds)
        norms = np.maximum(np.sqrt((x * x).sum(axis=1)), 1e-12)
        return dots[:, 0] / (norms * qn)

    _score = _matmul_udf(q[None, :], cos, "double")
    return emb.filter(F.col("embedding").isNotNull()).withColumn(
        out_col, F.round(_score("embedding"), 6)
    )


def cosine_topk(emb: DataFrame, query_vec: list[float], k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector."""
    return (
        cosine_scores(emb, query_vec)
        .select("vec_id", "cosine")
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """Deterministic seeded hyperplane matrix — the single source for
    corpus bucketing, query bucketing and the oracle replica (a seed
    drift between them would silently send probes to the wrong buckets)."""
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def _buckets_udf(dim: int, n_planes: int, seeds) -> F.Column:
    """Sign-bit bucket id under each seed's plane set, as array<int>:
    the plane sets stack into one matrix, so one matmul serves them all."""
    seeds = list(seeds)
    planes = np.vstack([_planes(dim, n_planes, s) for s in seeds])
    bits = 1 << np.arange(n_planes)

    def post(x, sims):
        signs = (sims > 0).reshape(len(x), len(seeds), n_planes)
        return (signs @ bits).astype(np.int32)

    return _matmul_udf(planes, post, "array<int>")("embedding")


def hyperplane_buckets(
    emb: DataFrame, dim: int, n_planes: int = 8, seed: int = 7
) -> DataFrame:
    """Random-hyperplane (SimHash) bucket id per vector.

    Planes are a deterministic seeded matrix; the bucket is the
    concatenated sign bits of the plane dot products, computed as one
    vectorized matmul per Arrow batch.  NULL embeddings are ignored."""
    return emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding", _buckets_udf(dim, n_planes, [seed])[0].alias("bucket")
    )


def lsh_probe_set(
    query_vec: list[float],
    dim: int,
    n_planes: int = 8,
    probe_radius: int = 2,
    seed: int = 7,
) -> list[int]:
    """Multi-probe bucket set for a query: its own bucket plus every
    bucket within Hamming distance ``probe_radius`` (radius 2 over 8
    planes = 37 of 256).  Exposed separately so the bench harness can
    measure the candidate scan fraction the probe set actually touches
    next to the recall it buys."""
    from itertools import combinations

    planes = _planes(dim, n_planes, seed=seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    qbucket = 0
    for j in range(n_planes):
        if float(planes[j] @ qv) > 0:
            qbucket |= 1 << j
    probes = [qbucket]
    for r in range(1, probe_radius + 1):
        for flips in combinations(range(n_planes), r):
            b = qbucket
            for j in flips:
                b ^= 1 << j
            probes.append(b)
    return probes


def ann_topk_lsh(
    emb: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate top-k with multi-probe LSH.

    Probes every bucket within Hamming distance ``probe_radius`` of the
    query's bucket (radius 2 over 8 planes = 37 of 256 buckets), trading
    a bounded widening of the scan for recall — single-bucket probing
    misses near neighbors that fall on the far side of one hyperplane.
    At 10^12-vector scale the bucketed table is written partitioned by
    bucket → the probe set is an IN-list partition-pruned scan."""
    probes = lsh_probe_set(query_vec, dim, n_planes, probe_radius, seed=7)
    bucketed = hyperplane_buckets(emb, dim, n_planes, seed=7)
    cand = bucketed.filter(F.col("bucket").isin(probes))
    return cosine_topk(cand, query_vec, k)


def ivf_fit_centroids(
    emb: DataFrame,
    dim: int,
    n_centroids: int = 16,
    n_iters: int = 5,
    max_train: int = 65536,
    seed: int = 11,
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic mini k-means for IVF coarse quantization.

    Centroids are fit driver-side on a **bounded, deterministic**
    training sample — the ``max_train`` lowest ids via a TopK
    (TakeOrderedAndProject — never a full sort, never a full-corpus
    collect, so the driver footprint is O(max_train·dim) even at 100 TB).
    The standard IVF recipe: the training set is tiny relative to the
    corpus, the expensive part (assignment) stays distributed.  Lloyd
    iterations over unit-normalized vectors ≈ spherical k-means for
    cosine.  Fully reproducible from SQL (ORDER BY id LIMIT max_train),
    which is how the DuckDB oracle re-derives the same centroids."""
    df = (
        emb.filter(F.col("embedding").isNotNull())
        .select(id_col, "embedding")
        .orderBy(id_col)
        .limit(int(max_train))
    )
    x = np.array([list(r[1]) for r in df.collect()], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1, keepdims=True)
    x = x / np.maximum(norms, 1e-12)
    return _kmeans_numpy(x, n_centroids, n_iters, seed)


def det_sims(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """``x @ cents.T`` with a FIXED accumulation order (sequential over
    the feature axis, elementwise FMA per step — no BLAS reduction).

    BLAS gemm picks its reduction order per CPU microarchitecture and
    thread count, so the same fit re-run on a different host drifts
    centroid literals at the last ulp (observed: 118/1024 literals moved
    across two sandbox VMs) — which would desynchronize the committed
    oracle SQL from a driver-side refit.  The coarse-quantizer fit is
    tiny (≤64k×dim), so fixed-order costs nothing measurable; the hot
    distributed assignment path (ivf_assign) keeps BLAS, whose ulp noise
    only matters at exact argmax ties."""
    sims = np.zeros((x.shape[0], cents.shape[0]), dtype=np.float64)
    for d in range(x.shape[1]):
        sims += x[:, d : d + 1] * cents[None, :, d]
    return sims


def det_rowdot(m: np.ndarray, v: np.ndarray) -> np.ndarray:
    """``m @ v`` via numpy pairwise reduce (BLAS-free, order-stable)."""
    return np.add.reduce(m * v, axis=1)


def _kmeans_numpy(
    x: np.ndarray, n_centroids: int, n_iters: int, seed: int
) -> np.ndarray:
    """Shared spherical-k-means core (also used by the oracle replica).

    Every reduction is fixed-order (det_sims / np.add.reduce) so the
    fit is bit-reproducible across hosts — the committed ANN oracle
    literals must equal a driver-side refit exactly."""
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(x.shape[0], size=min(n_centroids, x.shape[0]), replace=False)]
    for _ in range(n_iters):
        assign = det_sims(x, cents).argmax(axis=1)
        for c in range(cents.shape[0]):
            members = x[assign == c]
            if members.shape[0]:
                m = members.mean(axis=0)
                cents[c] = m / max(float(np.sqrt(np.add.reduce(m * m))), 1e-12)
    return cents


def ivf_assign(emb: DataFrame, cents: np.ndarray) -> DataFrame:
    """Attach the IVF list id (nearest centroid) to every vector.

    One Arrow-batched matmul-argmax per batch (``np.argmax`` keeps the
    first-occurrence tie rule).  At corpus scale the result is written
    partitioned by ``ivf_list`` so a probe scans only
    nprobe/n_centroids of the data (partition pruning), the IVF payoff."""
    emb = emb.filter(F.col("embedding").isNotNull())
    assign_udf = _matmul_udf(
        cents, lambda x, sims: sims.argmax(axis=1).astype(np.int32), "int"
    )
    return emb.withColumn("ivf_list", assign_udf("embedding"))


def ivf_probe_lists(
    query_vec: list[float], cents: np.ndarray, nprobe: int = 4
) -> list[int]:
    """The ``nprobe`` inverted lists nearest the query (by cosine against
    the coarse centroids).  det_rowdot: probe choice must be bit-stable
    across hosts so the committed oracle's probe set always matches a
    driver-side refit.  Exposed separately so the bench harness can
    measure the scan fraction those lists hold next to measured recall."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = q / max(float(np.sqrt(np.add.reduce(q * q))), 1e-12)
    return [int(p) for p in np.argsort(-det_rowdot(cents, qn))[: max(nprobe, 1)]]


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    cents: np.ndarray | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: score only the nprobe nearest lists."""
    if cents is None:
        cents = ivf_fit_centroids(emb, dim, n_centroids)
    probe_lists = ivf_probe_lists(query_vec, cents, nprobe)
    assigned = ivf_assign(emb, cents)
    cand = assigned.filter(F.col("ivf_list").isin([int(p) for p in probe_lists]))
    return cosine_topk(cand.drop("ivf_list"), query_vec, k)


def adaptive_n_planes(
    n_rows: int, target_bucket_size: int = 64, lo: int = 4, hi: int = 24
) -> int:
    """Plane count so the *expected* bucket population N/2^p stays at or
    under ``target_bucket_size`` — within-bucket pair expansion is then
    bounded ~N·target/2 (linear in N) instead of ~N²/2^p with a fixed p.
    Clamped to [lo, hi]; hi=24 keeps bucket ids in int32."""
    import math

    if n_rows <= 0:
        return lo
    need = math.ceil(math.log2(max(n_rows / float(target_bucket_size), 2.0)))
    return min(hi, max(lo, need))


def near_dup_embeddings(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.95,
    n_planes: int | None = None,
    n_tables: int = 4,
    target_bucket_size: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded multi-table LSH + exact
    verify.

    ``n_planes`` defaults to ``adaptive_n_planes(count)`` — derived from
    the corpus size so expected bucket population stays constant as N
    grows (a fixed plane count makes within-bucket pairs ~N²/2^p, a
    stage-killer at 10⁹ vectors).  Deeper buckets lose single-table
    recall (each plane keeps a θ/π-angle pair with prob 1-θ/π), so
    ``n_tables`` independent plane sets (seeds seed..seed+L-1) are
    unioned — recall = 1-(1-(1-θ/π)^p)^L stays controlled while the
    candidate volume stays ~L·N·target/2.

    One matmul per Arrow batch gives every table's bucket id; the
    (vec_id, table, bucket) rows meet in ONE checkpointed self-join
    (``_util.bucket_pairs``, shared with dedup.lsh_candidate_pairs).
    Embeddings re-attach for the exact-cosine verify (native fold,
    bit-matching the SQL oracle's sequential SUM)."""
    if n_planes is None:
        # one count job (parquet scans serve this from footer stats)
        n_planes = adaptive_n_planes(emb.count(), target_bucket_size)
    emb = emb.filter(F.col("embedding").isNotNull())
    buckets = _buckets_udf(dim, n_planes, range(seed, seed + int(n_tables)))
    stacked = emb.select("vec_id", F.posexplode(buckets).alias("table", "bucket"))
    cand = bucket_pairs(stacked, "vec_id", "vec_a", "vec_b")
    # norms computed ONCE per vector (same fold expression, so the values
    # are bit-identical to computing them inside each pair) — the verify
    # join then pays one dot per candidate pair instead of dot + 2 norms
    ids = emb.select(
        "vec_id",
        "embedding",
        F.greatest(_norm(F.col("embedding")), F.lit(1e-12)).alias("nrm"),
    )
    pairs = cand.join(
        ids.withColumnRenamed("vec_id", "vec_a")
        .withColumnRenamed("embedding", "emb_a")
        .withColumnRenamed("nrm", "nrm_a"),
        "vec_a",
    ).join(
        ids.withColumnRenamed("vec_id", "vec_b")
        .withColumnRenamed("embedding", "emb_b")
        .withColumnRenamed("nrm", "nrm_b"),
        "vec_b",
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return pairs.select(
        "vec_a",
        "vec_b",
        F.round(cos, 6).alias("cosine"),
    ).filter(F.col("cosine") >= threshold)
