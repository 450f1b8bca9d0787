"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Hashing is md5-derived everywhere (F.md5 → hex → int) so the SQL oracle
can reproduce signatures bit-for-bit; at production scale swap the hash
for xxhash64 (same plan shape, cheaper hash) — the band/bucket join
topology is what matters:

  shingle → k minhashes (groupBy doc, min per seed)
          → b bands (hash of r consecutive minhashes)
          → bucket self-join (only within-band equality, never a cross
            join) → candidate pairs → exact-Jaccard verify.

All joins are equi-joins on band hashes, so Catalyst plans shuffled hash
joins with AQE skew splitting; nothing is quadratic in corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ._util import bucket_pairs, ensure_min_partitions

__all__ = [
    "exact_dup_groups",
    "shingles",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "simhash",
    "dedup_components",
    "contamination_flags",
]


def _norm_text() -> F.Column:
    # explicit class == RE2 \s (DuckDB oracle); Java \s would also eat \x0B
    return F.lower(F.regexp_replace(F.col("text"), "[ \t\n\f\r]+", " "))


def _ngrams(words: F.Column, n: int) -> F.Column:
    """The space-joined word n-grams of ``words`` in order; empty below
    ``n`` words."""
    # guard: sequence(0, size-n) is only valid when size >= n (Spark's
    # sequence auto-steps backwards for stop < start, which would emit
    # bogus negative indices)
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - n),
            lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup by content hash: groups with >1 member."""
    return (
        docs.select("doc_id", F.md5(_norm_text()).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingles(
    docs: DataFrame, n: int = 3, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    ``extra_cols`` carries doc-level attributes (e.g. ``source``) through
    in the same scan — they're functionally dependent on doc_id, so the
    distinct is unaffected and callers avoid a re-scan + join."""
    sh = _ngrams(F.split(F.col("text"), " "), n)
    return (
        ensure_min_partitions(docs)
        .select("doc_id", *extra_cols, F.explode(sh).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard ≥ threshold.

    Inverted-index self-join on shingles (equi-join; only docs sharing a
    shingle ever meet) — never a cross join.

    ``max_doc_freq`` is the posting-list skew cap: a shingle that occurs
    in more than this many docs (boilerplate — "all rights reserved …")
    is dropped from the shingle universe *before* both the intersection
    join and the per-doc sizes, because its within-key pair expansion is
    quadratic in its document frequency while it carries no dedup signal
    (standard stop-shingle practice).  The cap bounds any single join
    key's output at max_doc_freq² regardless of corpus size.  Pass
    ``None`` for the exact uncapped semantics.

    The shingle table is MATERIALIZED (lazy localCheckpoint) before use:
    it is consumed up to 4× (posting-list DF count, per-doc sizes, both
    sides of the intersection join), and without materialization each
    consumer re-executes the docs-scan → explode → distinct subtree —
    4 corpus scans instead of 1 at 100 TB.  The downstream anti-join /
    sizes / join passes then all read the checkpointed partitions
    (zero file scans in the final plan; tests/test_plan_reuse.py)."""
    sh = shingles(docs, n).localCheckpoint(eager=False)
    if max_doc_freq is not None:
        # the hot set is tiny at any scale (few shingles exceed the cap),
        # so the anti-join broadcasts
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > int(max_doc_freq))
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _h32(col: F.Column, seed: int) -> F.Column:
    """Deterministic 32-bit hash reproducible in ANSI SQL:
    first 8 hex digits of md5(seed || value) as bigint."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col)), 1, 8), 16, 10).cast(
        "bigint"
    )


def minhash_signatures(docs: DataFrame, n: int = 3, k: int = 8) -> DataFrame:
    """MinHash signature per doc: k per-seed minima over shingle hashes."""
    sh = shingles(docs, n)
    aggs = [F.min(_h32(F.col("shingle"), i)).alias(f"mh{i}") for i in range(k)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    docs: DataFrame, n: int = 3, k: int = 8, bands: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs."""
    if not (1 <= bands <= k):
        raise ValueError(f"bands must be in [1, k]; got bands={bands}, k={k}")
    if k % bands != 0:
        # a non-dividing band count would silently ignore the trailing
        # minhashes, changing recall from the requested configuration
        raise ValueError(f"bands must divide k; got bands={bands}, k={k}")
    sig = minhash_signatures(docs, n, k)
    rows_per_band = k // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.md5(F.concat_ws("_", *[c.cast("string") for c in cols])).alias(f"band{b}")
        )
    banded = sig.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    return bucket_pairs(stacked, "doc_id", "doc_a", "doc_b")


def contamination_flags(
    docs: DataFrame, benchmark: DataFrame, n: int = 5
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any exact word
    n-gram with a benchmark/eval set.

    The standard eval-overlap detector: shingle both sides, broadcast
    the (small) benchmark shingle set, equi-join — a corpus doc is
    flagged with how many distinct benchmark n-grams it contains and
    the benchmark docs it overlaps.  Never a text cross join; corpus
    side is one shingle pass."""
    corpus_sh = shingles(docs, n)
    bench_sh = shingles(benchmark, n).select(
        F.col("doc_id").alias("bench_doc_id"), "shingle"
    )
    hits = corpus_sh.join(F.broadcast(bench_sh), "shingle")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_overlapping_ngrams"),
        F.sort_array(F.collect_set("bench_doc_id")).alias("bench_doc_ids"),
    )


def _local_components(
    spark,
    id_type,
    arcs_pdf,
    stats: dict | None,
) -> DataFrame:
    """Driver-side finish for a bounded component graph: numpy scatter-min
    + pointer doubling over the Arrow-collected arc table.

    Same fixpoint as the distributed loop (labels are exact per-component
    doc_id minima), just materialized in one process: nodes sorted, label
    = own index; each round takes the neighbor minimum with
    ``np.minimum.at`` then jumps the pointer twice (``lab[lab]``).  Both
    moves are monotone non-increasing and stay inside the component, so
    the only fixpoint is the component minimum — O(E) work per round,
    O(log diameter) rounds.  The arc table arrives as a pandas frame
    (Arrow transfer) and node indexing is one ``np.unique`` — at the
    2M-arc threshold this stays ~tens of MB of numpy/Arrow buffers,
    never millions of Python Row/tuple objects.  Node ordering note:
    numpy's str/bytes comparison, Python's and Spark's UTF8 binary
    ordering agree on ASCII doc ids; all paths produce lexicographic
    minima."""
    import numpy as np
    import pandas as pd

    schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("component", id_type),
            T.StructField("is_canonical", T.BooleanType()),
        ]
    )
    if len(arcs_pdf) == 0:
        if stats is not None:
            stats.update(
                {"rounds": 0, "converged": True, "mode": "local",
                 "round_secs": []}
            )
        return spark.createDataFrame([], schema)
    both = np.concatenate(
        [arcs_pdf["src"].to_numpy(), arcs_pdf["dst"].to_numpy()]
    )
    # sorted unique nodes + per-arc indices in one vectorized pass
    nodes, inv = np.unique(both, return_inverse=True)
    n_arcs = len(arcs_pdf)
    a, b = inv[:n_arcs], inv[n_arcs:]
    lab = np.arange(len(nodes), dtype=np.int64)
    rounds = 0
    import time as _time

    round_secs: list[float] = []
    while True:
        _t0 = _time.perf_counter()
        rounds += 1
        new = lab.copy()
        np.minimum.at(new, a, lab[b])
        new = new[new]
        new = new[new]
        round_secs.append(round(_time.perf_counter() - _t0, 6))
        if np.array_equal(new, lab):
            break
        lab = new
    if stats is not None:
        stats.update(
            {"rounds": rounds, "converged": True, "mode": "local",
             "round_secs": round_secs}
        )
    out = pd.DataFrame(
        {
            "doc_id": nodes,
            "component": nodes[lab],
            "is_canonical": lab == np.arange(len(nodes), dtype=np.int64),
        }
    )
    return spark.createDataFrame(out, schema)


def _cc_round(edges2: DataFrame, labels: DataFrame) -> DataFrame:
    """One pointer-jump CC round, pre-checkpoint: neighbor-min (with the
    old label read off the self-loop row) + double pointer jump through
    the previous mapping.  `labels` is checkpointed by the caller, so
    each consumption re-reads materialized partitions, never re-executes
    a join.  prev(x) ≤ x and stays inside x's component, so both hops
    preserve the invariants (see dedup_components' fixpoint proof).

    Split out so the per-round job — the constant-size unit of work the
    loop repeats O(log diameter) times at any scale — has an inspectable
    plan (`scripts/dump_plans.py` dumps it into PLANS.md)."""
    nm = (
        edges2.join(labels, edges2["dst"] == labels["doc_id"])
        .groupBy("src")
        .agg(
            F.min("comp").alias("nmin"),
            # v's own previous label, read off the self-loop row
            F.min(
                F.when(F.col("dst") == F.col("src"), F.col("comp"))
            ).alias("old"),
        )
    )
    j1 = labels.select(
        F.col("doc_id").alias("p_id"), F.col("comp").alias("p_comp")
    )
    j2 = labels.select(
        F.col("doc_id").alias("q_id"), F.col("comp").alias("q_comp")
    )
    return (
        nm.join(j1, nm["nmin"] == j1["p_id"])
        .join(j2, F.col("p_comp") == F.col("q_id"))
        .select(
            F.col("src").alias("doc_id"),
            F.col("q_comp").alias("comp"),
            (F.col("q_comp") != F.col("old")).alias("changed"),
        )
    )


def dedup_components(
    pairs: DataFrame,
    max_iters: int = 20,
    stats: dict | None = None,
    local_threshold: int | None = 2_000_000,
) -> DataFrame:
    """Resolve near-dup pairs into dedup groups: (doc_id, component,
    is_canonical) where ``component`` is the minimum doc_id reachable
    through the pair graph and the canonical doc is the one kept.

    The group-resolution step every dedup pipeline needs after candidate
    pairing.  Each round folds the neighbor-min and pointer-jump moves of
    large-star/small-star-style CC (Kiveris et al., "Connected Components
    in MapReduce and Beyond") into ONE materialized job:

      nmin(v)  = min label over N(v) ∪ {v}   — self-loops added to the
                 edge set once, so no separate left-join with the old
                 labels is needed; the groupBy also carries v's old label
                 (the min over the self-loop row alone) for the probe
      comp'(v) = prev(nmin(v))               — pointer jump through the
                 *previous* mapping; prev(x) ≤ x and prev(x) lies in x's
                 component, so the update is monotone non-increasing and
                 its only fixpoint is the exact component minimum (at a
                 fixpoint m(v) = m(nmin) ≤ nmin ≤ m(u) for every
                 neighbor u ⇒ m constant per component, and m(d) ≤ d
                 pins the constant to the minimum d)

    Neighbor-min alone needs O(diameter) rounds (a 1000-doc chain takes
    ~1000); jumping the pointer TWICE per round (comp ← prev(prev(nmin)),
    the second hop being one more tiny join inside the same job) cuts
    every label's distance-to-root to ~1/4 per round, so convergence is
    O(log diameter) — ``max_iters=20`` covers diameters past 4^20-ish.
    Each round is exactly ONE Spark job: the new labels are marked for
    LAZY localCheckpoint (eager=False) and the convergence probe — a
    count of changed labels — is the action that materializes them, so
    probing costs nothing extra, plans stay constant-size across rounds
    (checkpoint = lineage truncation; the plain-cache alternative
    re-executed the whole lineage per round under AQE, measured 2-3x
    slower), and the loop stops at the earliest possible round.
    Deterministic: labels are lexicographic
    doc_id minima.  Warns on stderr if the loop exits without
    converging (labels may then disagree with exact transitive
    closure); pass a ``stats`` dict to receive
    {"rounds": int, "converged": bool, "mode": "local"|"distributed"}.

    **Bounded small-graph finish** (``local_threshold``, counted in
    directed arcs = 2× pairs): the pair graph that survives LSH + verify
    is tiny relative to the corpus — near-dup rates of a few percent
    leave millions of edges at billion-doc scale, not billions — so when
    the materialized arc count fits the bound (default 2M arcs ≈ tens of
    MB) the components are finished on the driver in one numpy
    pointer-doubling pass instead of ~log(diameter) join jobs.  This is
    the standard CC hybrid (Kiveris et al. §6 finish small partitions
    locally; GraphFrames similarly short-circuits); the distributed loop
    below remains the path for graphs past the bound.  The collect is
    bounded and counted BEFORE collecting.  Pass ``local_threshold=None``
    (or 0) to force the distributed loop."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    # cache the UNDIRECTED edge set first: the labels checkpoint below is
    # the one job that executes the (expensive) upstream pairing, and
    # everything else — self-loops included — derives from materialized
    # state, so the pairing never runs twice
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()
    # one cheap job materializes the cache (so the expensive upstream
    # pairing runs exactly once on either path) and sizes the graph
    n_arcs = edges.count()
    if local_threshold and n_arcs <= int(local_threshold):
        arcs_pdf = edges.toPandas()  # Arrow-batched; bounded by the count above
        edges.unpersist()
        return _local_components(
            pairs.sparkSession, pairs.schema["doc_a"].dataType, arcs_pdf, stats
        )
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = nodes.withColumn("comp", F.col("doc_id")).localCheckpoint()
    edges2 = edges.union(
        labels.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst"))
    ).cache()
    import time as _time

    converged = False
    rounds = 0
    round_secs: list[float] = []
    for it in range(int(max_iters)):
        _t0 = _time.perf_counter()
        rounds = it + 1
        new_labels = _cc_round(edges2, labels).localCheckpoint(eager=False)
        # the ONE job per round: materializes the lazy checkpoint and
        # returns the convergence count in the same pass
        changed = new_labels.filter("changed").count()
        labels = new_labels.select("doc_id", "comp")
        round_secs.append(round(_time.perf_counter() - _t0, 3))
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    edges2.unpersist()
    if not converged:
        import sys

        print(
            f"WARNING: dedup_components did not converge in {max_iters} "
            "rounds; components may be under-merged vs exact transitive "
            "closure — raise max_iters",
            file=sys.stderr,
        )
    if stats is not None:
        stats["rounds"] = rounds
        stats["converged"] = converged
        stats["round_secs"] = round_secs
        stats["mode"] = "distributed"
    return labels.select(
        "doc_id",
        F.col("comp").alias("component"),
        (F.col("doc_id") == F.col("comp")).alias("is_canonical"),
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over word features: sign-aggregated bit votes.

    bit_j(doc) = 1 iff Σ_words (hash_bit_j(word) ? +1 : -1) > 0."""
    if not (1 <= bits <= 32):
        raise ValueError(f"bits must be in [1, 32] (_h32 is 32-bit); got {bits}")
    words = ensure_min_partitions(docs).select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    h = _h32(F.col("word"), 99)
    votes = [
        F.sum(
            F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    agg = words.groupBy("doc_id").agg(*votes)
    sim = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sim = bit if sim is None else (sim + bit)
    return agg.select("doc_id", sim.cast("bigint").alias("simhash"))
