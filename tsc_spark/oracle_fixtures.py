"""Fixture oracles for the non-SQL-expressible kernel queries.

The clustering/matching/generation kernels are pure Python (no Spark),
so the oracle for their queries is computed independently of the Spark
execution path: read the driver parquet directly (duckdb), replicate
the deterministic input derivations (tokenize / chords / notevol), run
the kernel per series on the *driver*, and emit a DuckDB ``VALUES``
table.  The driver then compares the distributed Spark result against
this single-process ground truth — exactly the "checked-in fixture
oracle" pattern, with the fixture generated from the same public kernel
semantics the pytest goldens pin against the reference docs
(/root/reference/docs/analyse.md, polyphonic_cluster_manager.jl:744-768).

Fixtures are cached as SQL files under ``fixtures/<sf_name>/`` so the
driver-time ``oracle_sql()`` call is a file read; ``scripts/gen_fixtures.py``
pre-generates and commits them.  The target scale-factor directory is
``$TSC_ORACLE_SF_DIR`` (default ``/root/testdata/sf0.01`` — the scale
the driver's correctness gate runs at).
"""

from __future__ import annotations

import os

import duckdb

from .config import TOKEN_VOCAB
from .functions.canon import fmt_double_seq

DEFAULT_ORACLE_SF_DIR = "/root/testdata/sf0.01"
FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")

QUERY_TOKENS = [0, 1, 3, 2, 4, 5, 3, 1]  # reference warmup payload
GENERATE_REQUESTS = [
    ("warmup", [0, 1, 3], [0.2, 0.5], 0.02, 0, 11),
    ("alt", [5, 7, 5], [0.1, 0.9], 0.3, 0, 24),
]

# canonical polyphonic requests: the reference warmup payload
# (config/warmup_actions.json:66-140) plus a multi-stream request that
# exercises fork/lifecycle, chord_range search and register windows
GENERATE_POLY_REQUESTS = [
    (
        "warmup",
        {
            "bpm": 480,
            "future_bpm": [480],
            "initial_context_bpm": [480],
            "initial_context": [[[[60], 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]]],
            "stream_counts": [1],
            "stream_strength_target": [0.5],
            "stream_strength_spread": [0.2],
            "dissonance_target": [0.3],
            "vol_global": [0.5],
            "vol_center": [0.5],
            "vol_spread": [0.2],
            "vol_conc": [0.5],
            "vol_target": [0.5],
            "vol_target_spread": [1.0],
            "area_global": [0.5],
            "area_center": [0.5],
            "area_spread": [0.2],
            "area_conc": [0.5],
            "note_register_freedom": [1.0],
            "merge_threshold_ratio": 0.02,
        },
    ),
    (
        "duo",
        {
            "bpm": 240,
            "initial_context": [
                [[[60, 64], 1.0, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]],
                [[[62, 65], 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]],
            ],
            "stream_counts": [1, 2, 2],
            "stream_strength_target": [0.5, 0.6, 0.6],
            "stream_strength_spread": [0.0, 0.4, 0.4],
            "dimension_policy": {
                "area": {"accept_params": True},
                "chord_range": {"accept_params": True},
            },
            "dissonance_target": [0.4, 0.6, 0.2],
            "vol_global": [0.5],
            "vol_center": [0.6],
            "vol_spread": [0.3],
            "area_global": [0.5],
            "area_center": [0.5],
            "area_spread": [0.3],
            "area_conc": [-0.3],
            "chord_range_global": [0.5],
            "chord_range_center": [0.4],
            "chord_range_target": [2.0],
            "chord_range_target_spread": [2.0],
            "note_register_freedom": [0.5],
            "legato": [0.0, 0.5, 1.0],
            "recency_center": [0.2],
            "recency_spread": [0.2],
            "merge_threshold_ratio": 0.02,
        },
    ),
]


def oracle_sf_dir() -> str:
    return os.environ.get("TSC_ORACLE_SF_DIR", DEFAULT_ORACLE_SF_DIR)


# ----------------------------------------------------------------------
# deterministic input derivations (pure-Python twins of the Spark exprs)
# ----------------------------------------------------------------------
def tokenize_text(text: str) -> list[int]:
    """Twin of operators.text.tokenize_documents / SQL_TOKENS."""
    return [
        (7 * len(w) + (ord(w[0]) if w else 0)) % TOKEN_VOCAB for w in text.split(" ")
    ]


_TOKEN_CACHE: dict[str, list] = {}
_KEPT_CACHE: dict[str, list] = {}


def load_token_series(sf_dir: str) -> list[tuple[str, list[int]]]:
    if sf_dir in _TOKEN_CACHE:
        return _TOKEN_CACHE[sf_dir]
    con = duckdb.connect()
    rows = con.sql(
        "SELECT CAST(doc_id AS VARCHAR), text FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    con.close()
    out = [(doc_id, tokenize_text(text)) for doc_id, text in rows]
    _TOKEN_CACHE[sf_dir] = out
    return out


def _csv(vals) -> str:
    return ",".join(str(int(v)) for v in vals)


# ----------------------------------------------------------------------
# per-query fixture builders → (columns, list[tuple])
# ----------------------------------------------------------------------
def _fx_cluster_timeline(sf_dir: str):
    from .kernel.api import analyse_tokens

    rows = []
    for doc_id, toks in load_token_series(sf_dir):
        mgr = analyse_tokens(toks, 0.3)
        for ws, cid, inds in mgr.timeline():
            rows.append((doc_id, int(ws), cid, _csv(inds)))
    return ["doc_id", "window_size", "cluster_id", "indices"], rows


def _fx_cluster_timeline_streamed(sf_dir: str):
    """Batch-kernel oracle for the stateful-streaming query: the final
    streamed timeline must equal the batch timeline on the same
    deterministic `doc_id % 25 == 0` slice (chunk-order invariance is
    the streaming operator's contract, tests/test_streaming_stateful)."""
    from .kernel.api import analyse_tokens

    rows = []
    for doc_id, toks in load_token_series(sf_dir):
        if int(doc_id) % 25 != 0:
            continue
        mgr = analyse_tokens(toks, 0.3)
        for ws, cid, inds in mgr.timeline():
            rows.append((doc_id, int(ws), cid, _csv(inds)))
    return ["doc_id", "window_size", "cluster_id", "indices"], rows


def _fx_cluster_tree(sf_dir: str):
    from .kernel.api import analyse_tokens

    rows = []
    for doc_id, toks in load_token_series(sf_dir):
        mgr = analyse_tokens(toks, 0.3)
        for path, si, rep in mgr.tree():
            rows.append((doc_id, _csv(path), _csv(si), fmt_double_seq(rep)))
    return ["doc_id", "path", "si", "rep"], rows


def _fx_cluster_timeline_poly(sf_dir: str):
    from .config import DEFAULT_CONTEXTUAL_MIN_WIDTH
    from .kernel.polymanager import PolyClusterManager

    rows = []
    for doc_id, toks in load_token_series(sf_dir):
        chords = [
            [float(x), float((x + 4) % 24)] if i % 2 == 0 else [float(x)]
            for i, x in enumerate(toks)
        ]
        if not chords:
            continue
        mgr = PolyClusterManager(
            chords,
            0.3,
            2,
            True,
            scale_mode="contextual_global_halves",
            contextual_min_width=DEFAULT_CONTEXTUAL_MIN_WIDTH,
            max_set_size=4,
        )
        mgr.process_data()
        for ws, cid, inds in mgr.timeline():
            rows.append((doc_id, int(ws), cid, _csv(inds)))
    return ["doc_id", "window_size", "cluster_id", "indices"], rows


def _kept_matches(sf_dir: str):
    import pickle

    from .kernel.matching import build_query_seed, match_series

    if sf_dir in _KEPT_CACHE:
        return _KEPT_CACHE[sf_dir]
    seed_bytes = pickle.dumps(build_query_seed(QUERY_TOKENS))
    per_doc = []
    for doc_id, toks in load_token_series(sf_dir):
        if not toks:
            continue
        local = pickle.loads(seed_bytes)
        kept, _score = match_series(local, toks, copy_seed=False)
        if kept:
            per_doc.append((doc_id, kept))
    _KEPT_CACHE[sf_dir] = per_doc
    return per_doc


def _fx_query_matches(sf_dir: str):
    rows = []
    for doc_id, kept in _kept_matches(sf_dir):
        for qs, ds, ws in kept:
            rows.append((doc_id, int(qs), int(ds), int(ws)))
    return ["doc_id", "q_start", "db_start", "window_size"], rows


def _fx_match_scores(sf_dir: str):
    rows = []
    for doc_id, kept in _kept_matches(sf_dir):
        counts: dict[int, int] = {}
        for _qs, _ds, ws in kept:
            counts[ws] = counts.get(ws, 0) + 1
        score = [counts[k] for k in sorted(counts, reverse=True)]
        rows.append((doc_id, _csv(score)))
    return ["doc_id", "score"], rows


def _fx_note_vol_matches(sf_dir: str):
    from .kernel.notevol import find_octave_invariant_matches

    nv = []
    for doc_id, toks in load_token_series(sf_dir):
        notes = [float(t + 48) for t in toks]
        vols = [((t * 7) % 16) / 15.0 for t in toks]
        nv.append((doc_id, notes, vols))
    # query = first-3 points of the lexicographically-first doc with >= 3
    # notes, lifted one octave (twin of q_note_vol_matches)
    eligible = sorted((d for d in nv if len(d[1]) >= 3), key=lambda d: d[0])
    if not eligible:
        # corpus has no doc with >= 3 tokens: the query side yields no
        # matches either — keep the oracle intact instead of crashing
        # (which would silently weaken the gate to rows-only)
        return ["doc_id", "q_start", "db_start", "window_size"], []
    first = eligible[0]
    q = [[first[1][i] + 12.0, first[2][i]] for i in range(3)]
    rows = []
    for doc_id, notes, vols in nv:
        pts = [[n, v] for n, v in zip(notes, vols)]
        for qs, ds, ws in find_octave_invariant_matches(q, pts, 0.0, 3):
            rows.append((doc_id, int(qs), int(ds), int(ws)))
    return ["doc_id", "q_start", "db_start", "window_size"], rows


def _fx_generate(sf_dir: str):
    from .kernel.api import generate_tokens

    rows = []
    for name, first, targets, mtr, lo, hi in GENERATE_REQUESTS:
        result, _mgr = generate_tokens(first, targets, mtr, lo, hi)
        rows.append((name, _csv(result)))
    return ["request", "series"], rows


def _fx_generate_poly(sf_dir: str):
    """Twin of q_generate_poly: run the polyphonic orchestrator on the
    canonical requests (no sf dependence); the record flattening is the
    operator's own ``flatten_poly_result`` so the layout cannot drift —
    the fixture independently verifies the distribution plumbing, the
    kernel itself is anchored by the pytest goldens + hand vectors."""
    from .kernel.polygen import generate_polyphonic
    from .operators.generate import POLY_RECORD_COLS, flatten_poly_result

    rows = []
    for name, payload in GENERATE_POLY_REQUESTS:
        res = generate_polyphonic(payload)
        for rec in flatten_poly_result(name, res):
            rec = list(rec)
            rec[3] = _csv(rec[3])  # notes list -> canonical CSV
            rows.append(tuple(rec))
    return list(POLY_RECORD_COLS), rows


def _fx_stm_interference(sf_dir: str):
    """Twin of q_stm_interference: replay dyad events through the STM
    manager in pure Python."""
    from .kernel.dissonance import StmManager

    rows = []
    for doc_id, toks in load_token_series(sf_dir):
        n_events = min(len(toks) // 2, 4)
        if n_events == 0:
            continue
        stm = StmManager()
        for k in range(n_events):
            notes = [int(toks[2 * k]) + 48, int(toks[2 * k + 1]) + 48]
            amps = [0.5, 0.5]
            onset = k * 0.25
            d_cur, interf = stm.commit_with_parts(notes, amps, onset)
            rows.append((doc_id, k, round(d_cur, 6), round(interf, 6)))
    return ["doc_id", "step", "d_current", "interference"], rows


def _fx_image_features(sf_dir: str):
    """Twin of q_image_features: media_from_documents → fake decode →
    8-dim features, rendered with the shared double formatter."""
    import numpy as np

    from .operators.multimodal import fake_image_decode, image_feature_vector

    con = duckdb.connect()
    rows_in = con.sql(
        "SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS BIGINT), text FROM "
        f"read_parquet('{sf_dir}/documents.parquet') WHERE doc_id % 3 = 0"
    ).fetchall()
    con.close()
    rows = []
    for doc_id, did, text in rows_in:
        w = 64 + (did % 8) * 32
        h = 64 + (did % 4) * 32
        img = fake_image_decode(text.encode("utf-8"), int(w), int(h))
        feats = image_feature_vector(img)
        rows.append((doc_id, f"media_{doc_id}", fmt_double_seq(feats)))
    return ["doc_id", "media_id", "features"], rows


FIXTURE_BUILDERS = {
    "cluster_timeline": _fx_cluster_timeline,
    "cluster_timeline_streamed": _fx_cluster_timeline_streamed,
    "cluster_tree": _fx_cluster_tree,
    "cluster_timeline_poly": _fx_cluster_timeline_poly,
    "query_matches": _fx_query_matches,
    "match_scores": _fx_match_scores,
    "note_vol_matches": _fx_note_vol_matches,
    "generate": _fx_generate,
    "generate_poly": _fx_generate_poly,
    "stm_interference": _fx_stm_interference,
    "image_features": _fx_image_features,
}

# int columns are rendered as BIGINT casts so the driver-side pandas
# dtype matches Spark's long projections; doubles/bools likewise
_INT_COLS = {"window_size", "q_start", "db_start", "step", "stream", "chord_range"}
_DOUBLE_COLS = {
    "vol", "brightness", "noise", "harmonicity", "attack", "decay_sustain",
    "release", "density", "sustain", "legato", "d_current", "interference",
}
_BOOL_COLS = {"generated"}


def _sql_literal(v) -> str:
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, float):
        if v != v:  # NaN: repr() would emit the bare identifier `nan`
            return "CAST('nan' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('inf' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-inf' AS DOUBLE)"
        return repr(v)
    return str(v)


def _col_cast(c: str) -> str:
    if c in _INT_COLS:
        return f"CAST({c} AS BIGINT) AS {c}"
    if c in _DOUBLE_COLS:
        return f"CAST({c} AS DOUBLE) AS {c}"
    if c in _BOOL_COLS:
        return f"CAST({c} AS BOOLEAN) AS {c}"
    return f"CAST({c} AS VARCHAR) AS {c}"


def build_fixture_sql(name: str, sf_dir: str) -> str:
    cols, rows = FIXTURE_BUILDERS[name](sf_dir)
    proj = ", ".join(_col_cast(c) for c in cols)
    if not rows:
        return f"SELECT {proj} FROM (VALUES ({', '.join(['NULL'] * len(cols))})) AS t({', '.join(cols)}) WHERE FALSE"
    values = ",\n".join("(" + ", ".join(_sql_literal(v) for v in r) + ")" for r in rows)
    return f"SELECT {proj} FROM (VALUES\n{values}\n) AS t({', '.join(cols)})"


_CHECKSUM_CACHE: dict[str, str] = {}


def _sf_checksum(sf_dir: str) -> str:
    """Content hash of the tables the fixtures derive from — guards the
    cache against regenerated testdata (stale fixtures would otherwise
    mis-compare silently).  Memoized per directory and hashed in chunks
    (oracle_sql() asks for it once per fixture)."""
    sf_dir = os.path.normpath(sf_dir)
    cached = _CHECKSUM_CACHE.get(sf_dir)
    if cached is not None:
        return cached
    import hashlib

    h = hashlib.md5()
    for t in ("documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            with open(p, "rb") as f:
                for chunk in iter(lambda: f.read(1 << 20), b""):
                    h.update(chunk)
    _CHECKSUM_CACHE[sf_dir] = h.hexdigest()
    return _CHECKSUM_CACHE[sf_dir]


_CODE_CHECKSUM: str | None = None

# fixture output depends on these sources; hashing them into the stamp
# makes a kernel/builder change auto-invalidate the cache (previously a
# kernel fix required remembering to hand-delete fixtures/<sf>/)
_CODE_STAMP_GLOBS = (
    "kernel/*.py",
    "operators/generate.py",
    "operators/multimodal.py",
    "operators/matching.py",
    "functions/canon.py",
    "config.py",
    "oracle_fixtures.py",
)


def _code_checksum() -> str:
    global _CODE_CHECKSUM
    if _CODE_CHECKSUM is None:
        import glob
        import hashlib

        root = os.path.dirname(os.path.abspath(__file__))
        h = hashlib.md5()
        for pattern in _CODE_STAMP_GLOBS:
            for p in sorted(glob.glob(os.path.join(root, pattern))):
                with open(p, "rb") as f:
                    h.update(f.read())
        _CODE_CHECKSUM = h.hexdigest()
    return _CODE_CHECKSUM


def _cache_dir_for(sf: str) -> tuple[str, str, str]:
    """(cache_dir, stamp_path, stamp_value) for an sf dir.

    The canonical committed cache lives at fixtures/<basename>; a
    DIFFERENT source path that happens to share the basename (e.g. a
    test's /tmp/.../sf0.01) is redirected to a per-path temp cache so it
    can never clobber the committed fixtures."""
    sf = os.path.normpath(sf)
    stamp_value = f"{_sf_checksum(sf)}:{_code_checksum()}:{sf}"
    cache_dir = os.path.join(FIXTURE_ROOT, os.path.basename(sf))
    stamp = os.path.join(cache_dir, "_source_checksum")
    if os.path.exists(stamp):
        parts = open(stamp).read().strip().split(":")
        recorded_path = parts[2] if len(parts) >= 3 else sf
        if recorded_path != sf:
            import hashlib
            import tempfile

            tag = hashlib.md5(sf.encode()).hexdigest()[:8]
            cache_dir = os.path.join(
                tempfile.gettempdir(),
                "tsc_fixture_cache",
                f"{os.path.basename(sf)}_{tag}",
            )
            stamp = os.path.join(cache_dir, "_source_checksum")
    return cache_dir, stamp, stamp_value


def fixture_sql(name: str, sf_dir: str | None = None, force: bool = False) -> str:
    """Cached fixture SQL for one query (generated on miss, or when the
    source testdata OR the kernel/builder code checksum changed)."""
    sf = sf_dir or oracle_sf_dir()
    cache_dir, stamp, stamp_value = _cache_dir_for(sf)
    cache = os.path.join(cache_dir, f"{name}.sql")
    stamp_ok = os.path.exists(stamp) and open(stamp).read().strip() == stamp_value
    if not force and stamp_ok and os.path.exists(cache):
        with open(cache) as f:
            return f.read()
    if not stamp_ok:
        # invalidate every cached fixture for this sf in one sweep
        if os.path.isdir(cache_dir):
            for fn in os.listdir(cache_dir):
                if fn.endswith(".sql"):
                    os.remove(os.path.join(cache_dir, fn))
    sql = build_fixture_sql(name, sf)
    os.makedirs(cache_dir, exist_ok=True)
    with open(cache, "w") as f:
        f.write(sql)
    with open(stamp, "w") as f:
        f.write(stamp_value)
    return sql


# ----------------------------------------------------------------------
# ANN oracles: real DuckDB SQL with the deterministic literals (LSH
# planes / fitted IVF centroids / probe lists) inlined.  The distributed
# parts — bucket assignment, list assignment, candidate scan, exact
# cosine top-k — are recomputed independently by DuckDB.
#
# Known ulp-scale caveat (accepted by design): the Spark side computes
# plane/centroid dots and cosines with numpy BLAS matmuls (pairwise
# summation) while these oracles recompute them as sequential SQL sums.
# A dot within 1 ulp of 0 could flip a bucket bit, and a cosine within
# 1 ulp of a 6th-decimal rounding boundary could round differently —
# measure-zero events on continuous synthetic data (the testdata is
# fixed per round, so a green gate stays green), accepted in exchange
# for keeping the oracle's arithmetic genuinely independent of the
# engine's.  The near-dup VERIFY step is exempt: both sides use the
# same sequential fold there.
# ----------------------------------------------------------------------
def _lit_list(vals) -> str:
    return "[" + ", ".join(repr(float(v)) for v in vals) + "]"


def _dot_sql(vec_expr: str, lits) -> str:
    return f"list_dot_product(CAST({vec_expr} AS DOUBLE[]), {_lit_list(lits)})"


def _bucket_sql(vec_expr: str, planes) -> str:
    return " + ".join(
        f"(CASE WHEN {_dot_sql(vec_expr, planes[j])} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(planes.shape[0])
    )


_COSINE_TAIL = """
scored AS (
  SELECT c.vec_id,
         round(
           (SELECT SUM(c.emb[i] * q.qe[i])
            FROM unnest(generate_series(1, len(c.emb))) AS t(i))
           / (greatest(sqrt((SELECT SUM(c.emb[i] * c.emb[i])
                    FROM unnest(generate_series(1, len(c.emb))) AS t(i))), 1e-12)
              * greatest(sqrt((SELECT SUM(q.qe[i] * q.qe[i])
                      FROM unnest(generate_series(1, len(q.qe))) AS t(i))), 1e-12)),
           6) AS cosine
  FROM cand c, q
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10"""


def ann_oracle_sql(sf_dir: str | None = None) -> dict[str, str]:
    import numpy as np

    from .operators.similarity import _kmeans_numpy

    sf = sf_dir or oracle_sf_dir()
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{sf}/embeddings.parquet') "
        "ORDER BY vec_id"
    ).fetchall()
    con.close()
    qv = np.asarray(
        next(e for vid, e in rows if vid == 0), dtype=np.float64
    )
    dim = qv.shape[0]

    out = {}

    # --- multi-probe LSH (twin of operators.similarity.ann_topk_lsh) ---
    rng = np.random.default_rng(7)
    planes = rng.standard_normal((8, dim))
    qbucket = 0
    for j in range(8):
        if float(planes[j] @ qv) > 0:
            qbucket |= 1 << j
    out["ann_topk_lsh"] = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         {_bucket_sql("embedding", planes)} AS bucket
  FROM embeddings WHERE vec_id != 0
),
cand AS (
  SELECT vec_id, emb FROM b
  WHERE bit_count(CAST(xor(bucket, {qbucket}) AS BIGINT)) <= 2
),{_COSINE_TAIL}"""

    # --- IVF (twin of operators.similarity.ivf_topk) ---
    x = np.array([e for vid, e in rows if vid != 0][:65536], dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cents = _kmeans_numpy(x, 16, 5, 11)
    # fixed-order reductions, mirroring ivf_topk exactly — BLAS matvec
    # order varies per host and would desync probe choice (similarity.
    # det_rowdot docstring)
    from .operators.similarity import det_rowdot

    qn = qv / max(float(np.sqrt(np.add.reduce(qv * qv))), 1e-12)
    probes = np.argsort(-det_rowdot(cents, qn))[:4].tolist()
    sims = "[" + ", ".join(_dot_sql("embedding", cents[c]) for c in range(cents.shape[0])) + "]"
    # --- embedding near-dups (twin of similarity.near_dup_embeddings) ---
    # mirrors the multi-table adaptive scheme: n_planes derived from the
    # corpus count exactly like adaptive_n_planes, one plane matrix per
    # table (seeds 7..10), candidates = distinct union over tables
    from .operators.similarity import adaptive_n_planes

    nd_n = sum(1 for vid, _ in rows if vid != 0)
    nd_planes_n = adaptive_n_planes(nd_n)
    nd_tables = [
        np.random.default_rng(7 + t).standard_normal((nd_planes_n, dim))
        for t in range(4)
    ]
    nd_union = "\n    UNION ALL\n".join(
        f"""    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM (SELECT vec_id, {_bucket_sql("embedding", p)} AS bucket
          FROM embeddings WHERE vec_id != 0) a
    JOIN (SELECT vec_id, {_bucket_sql("embedding", p)} AS bucket
          FROM embeddings WHERE vec_id != 0) b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id"""
        for p in nd_tables
    )
    out["near_dup_embeddings"] = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
  FROM embeddings WHERE vec_id != 0
),
cand AS (
  SELECT DISTINCT vec_a, vec_b FROM (
{nd_union}
  )
),
pairs AS (
  SELECT c.vec_a, c.vec_b, ea.emb AS ea, eb.emb AS eb
  FROM cand c
  JOIN e ea ON ea.vec_id = c.vec_a
  JOIN e eb ON eb.vec_id = c.vec_b
),
scored AS (
  SELECT vec_a, vec_b,
         round(
           (SELECT SUM(ea[i] * eb[i])
            FROM unnest(generate_series(1, len(ea))) AS t(i))
           / (greatest(sqrt((SELECT SUM(ea[i] * ea[i])
                    FROM unnest(generate_series(1, len(ea))) AS t(i))), 1e-12)
              * greatest(sqrt((SELECT SUM(eb[i] * eb[i])
                      FROM unnest(generate_series(1, len(eb))) AS t(i))), 1e-12)),
           6) AS cosine
  FROM pairs
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.3"""

    out["ann_topk_ivf"] = f"""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
assigned AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
         (list_position(sims, list_aggregate(sims, 'max')) - 1) AS ivf_list
  FROM (SELECT vec_id, embedding, {sims} AS sims
        FROM embeddings WHERE vec_id != 0)
),
cand AS (
  SELECT vec_id, emb FROM assigned
  WHERE ivf_list IN ({", ".join(str(int(p)) for p in probes)})
),{_COSINE_TAIL}"""
    return out


_ANN_NAMES = ("ann_topk_lsh", "near_dup_embeddings", "ann_topk_ivf")


def ann_oracle_sql_cached(sf_dir: str | None = None) -> dict[str, str]:
    """ANN oracles through the same checksum-stamped cache as the
    fixtures — without caching, every driver ``oracle_sql()`` call would
    re-scan embeddings and re-fit k-means.

    Invariant: this function never WRITES the stamp (only fixture_sql
    does, after its stale-sweep) — writing it here first would validate
    stale builder fixtures that haven't been regenerated yet."""
    sf = sf_dir or oracle_sf_dir()
    cache_dir, stamp, stamp_value = _cache_dir_for(sf)
    stamp_ok = os.path.exists(stamp) and open(stamp).read().strip() == stamp_value
    paths = {n: os.path.join(cache_dir, f"{n}.sql") for n in _ANN_NAMES}
    if stamp_ok and all(os.path.exists(p) for p in paths.values()):
        return {n: open(p).read() for n, p in paths.items()}
    out = ann_oracle_sql(sf)
    os.makedirs(cache_dir, exist_ok=True)
    for n, sql in out.items():
        with open(paths[n], "w") as f:
            f.write(sql)
    return out


def all_fixture_sql() -> dict[str, str]:
    """Every fixture oracle; failures degrade to rows-only — loudly, so a
    weakened correctness gate is visible in driver logs."""
    import sys

    out = {}
    for name in FIXTURE_BUILDERS:
        try:
            out[name] = fixture_sql(name)
        except Exception as exc:
            print(
                f"WARNING: fixture oracle for '{name}' failed "
                f"({type(exc).__name__}: {exc}); degraded to rows-only check",
                file=sys.stderr,
            )
    try:
        out.update(ann_oracle_sql_cached())
    except Exception as exc:
        print(
            "WARNING: ANN literal oracles failed "
            f"({type(exc).__name__}: {exc}); ann_topk_lsh/ann_topk_ivf/"
            "near_dup_embeddings degraded to rows-only checks",
            file=sys.stderr,
        )
    return out
