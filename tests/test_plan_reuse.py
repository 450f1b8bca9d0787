"""Subtree-reuse guarantees for self-joining operators.

The 100 TB claim being tested (round-4 verdict, 'What's wrong #1'): a
self-join whose input is NOT materialized re-executes the full upstream
corpus-scan subtree once per plan reference — measured 6 parquet scans
for window_matches at sf0.1.  After materializing (lazy localCheckpoint)
the match/shingle/band tables before their self-joins, the final
executed plan reads the checkpointed RDD on every side: ZERO file scans
in the consuming plan, the corpus is scanned only by the one
materialization job.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tsc_spark.plans.bucketing import plan_file_scans, plan_nodes  # noqa: E402


@pytest.fixture(scope="module")
def parquet_tokens(spark, tokens_df, tmp_path_factory):
    """Tokens at rest in parquet — file scans only exist for file-backed
    sources, so the plan assertions need the production storage shape,
    not an in-memory createDataFrame relation."""
    path = str(tmp_path_factory.mktemp("reuse") / "tokens")
    tokens_df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def parquet_docs(spark, tmp_path_factory):
    rows = [
        (f"d{i:03d}", " ".join(f"w{(i * 7 + j) % 13}" for j in range(20)))
        for i in range(40)
    ]
    # clone a few docs so near-dup pairs actually exist
    rows += [(f"c{i}", rows[i][1]) for i in range(4)]
    path = str(tmp_path_factory.mktemp("reuse") / "docs")
    spark.createDataFrame(rows, "doc_id string, text string").write.mode(
        "overwrite"
    ).parquet(path)
    return spark.read.parquet(path)


def test_walker_sees_self_join_scans(spark, parquet_tokens):
    """Control for the zero-scan assertions below: an UNmaterialized
    parquet self-join shows one file scan per side, so plan_file_scans
    returning 0 elsewhere is a property of checkpointing, not a broken
    walker."""
    j = parquet_tokens.alias("a").join(
        parquet_tokens.alias("b").withColumnRenamed("n_tok", "n2"),
        "doc_id",
    )
    j.collect()
    assert plan_file_scans(j) >= 2


def test_window_matches_plan_single_consumption(spark, parquet_tokens):
    """The grouped in-array containment filter consumes the upstream
    window-index subtree exactly once: one file scan per ws branch
    (ws∈{3,4} → 2), never the 6 the anti-join shape re-executed."""
    from tsc_spark.operators.matching import (
        exact_window_matches,
        filter_contained_relational,
    )

    out = filter_contained_relational(
        exact_window_matches(parquet_tokens, window_sizes=(3, 4))
    )
    rows = out.collect()
    assert len(rows) > 0  # non-vacuous: the synth corpus self-matches
    assert plan_file_scans(out) <= 2, plan_nodes(out)


def test_ngram_jaccard_plan_reads_checkpoint_not_parquet(spark, parquet_docs):
    from tsc_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(parquet_docs, n=3, threshold=0.8)
    rows = out.collect()
    assert len(rows) >= 4  # the cloned docs pair up
    assert plan_file_scans(out) == 0, plan_nodes(out)


def test_lsh_pairs_plan_reads_checkpoint_not_parquet(spark, parquet_docs):
    from tsc_spark.operators.dedup import lsh_candidate_pairs

    out = lsh_candidate_pairs(parquet_docs, n=3, k=8, bands=4)
    rows = out.collect()
    assert len(rows) >= 4
    # the banded self-join reads the checkpointed band table; the one
    # materialization job upstream is where the single corpus scan lives
    assert plan_file_scans(out) == 0, plan_nodes(out)


_PY_EVAL = ("ArrowEvalPythonExec", "BatchEvalPythonExec")


def test_text_stats_plan_one_scan_no_join(spark, parquet_docs):
    """Every text signal comes from one select over one scan: no
    per-signal re-scan of `documents` and no join back on doc_id."""
    from tsc_spark.operators.text import text_stats

    out = text_stats(parquet_docs)
    assert out.count() == 44
    nodes = plan_nodes(out)
    assert plan_file_scans(out) == 1, nodes
    assert not [n for n in nodes if "Join" in n], nodes


def test_chord_roughness_plan_one_scan_no_join(spark, parquet_tokens):
    """Each doc's partial pairs are summed inside its own row: one scan
    of the chords' source, no self-join and no join back to the docs
    (the only Exchange is ensure_min_partitions' spread)."""
    from pyspark.sql import functions as F

    from tsc_spark.functions.roughness import chord_roughness

    chords = parquet_tokens.select(
        "doc_id",
        F.transform(F.slice("tokens", 1, 3), lambda x: x + F.lit(48)).alias("notes"),
        F.lit(1.0).alias("vol"),
    )
    out = chord_roughness(chords)
    rows = out.collect()
    assert len(rows) == parquet_tokens.count()
    assert any(r.roughness > 0 for r in rows)  # non-vacuous: pairs were scored
    nodes = plan_nodes(out)
    assert plan_file_scans(out) == 1, nodes
    assert not [n for n in nodes if "Join" in n], nodes


def test_near_dup_embeddings_plan_one_bucket_self_join(spark, tmp_path):
    """All LSH tables' buckets come from one matmul UDF into one stacked
    (vec_id, table, bucket) table, paired by ONE checkpointed self-join;
    only the two verify joins re-read the parquet embeddings."""
    import numpy as np

    from tsc_spark.operators.similarity import near_dup_embeddings

    rng = np.random.default_rng(5)
    base = rng.standard_normal(16)
    vecs = [(i, rng.standard_normal(16).tolist()) for i in range(40)]
    vecs += [(100 + i, (base + rng.standard_normal(16) * 0.01).tolist()) for i in range(3)]
    path = str(tmp_path / "emb")
    spark.createDataFrame(vecs, "vec_id long, embedding array<double>").write.parquet(path)

    out = near_dup_embeddings(spark.read.parquet(path), dim=16, threshold=0.99)
    pairs = {(r.vec_a, r.vec_b) for r in out.collect()}
    assert {(100, 101), (100, 102), (101, 102)} <= pairs
    nodes = plan_nodes(out)
    assert plan_file_scans(out) <= 2, nodes
    assert sum(n in _PY_EVAL for n in nodes) <= 1, nodes
    # the bucket self-join is the one join whose both sides read the
    # checkpointed bucket table; the others attach embeddings to pairs
    assert sum("Join" in n for n in nodes) == 3, nodes
    assert sum(n == "RDDScanExec" for n in nodes) == 2, nodes


def execution_plans(spark, fn) -> list[list[str]]:
    """Final-plan node names of each SQL execution ``fn`` runs, as the SQL
    status store records them (the listener bus is drained around ``fn``,
    so the store has caught up).  Writes are executions too, which is why
    the store is read instead of a DataFrame's plan."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids():
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    bus.waitUntilEmpty()
    seen = max(ids(), default=-1)
    fn()
    bus.waitUntilEmpty()
    plans = []
    for eid in sorted(i for i in ids() if i > seen):
        nodes = store.planGraph(eid).allNodes()
        plans.append([nodes.apply(j).name() for j in range(nodes.size())])
    return plans


_PY_NODES = ("MapInArrow", "PythonMapInArrow", "MapInPandas", "ArrowEvalPython")


@pytest.fixture()
def one_bucket(spark, tokens_df, tmp_path):
    from tsc_spark.plans.pipeline import ingest

    base = str(tmp_path / "pipe")
    ingest(spark, tokens_df, base, n_buckets=1)
    return base


def test_pipeline_bucket_pass_scans_once(spark, one_bucket):
    """A bucket's pass reads the bucket once: one mapInArrow emits each
    doc's whole stored row (its blob and both doc-major tiers) — one
    scan, one Python node and no Arrow UDF."""
    from tsc_spark.plans.pipeline import run_pipeline

    plans = execution_plans(spark, lambda: run_pipeline(spark, one_bucket, with_timeline=False))
    nodes = [n for plan in plans for n in plan]
    assert sum(n.startswith("Scan ") for n in nodes) == 1, plans
    assert [n for n in nodes if n in _PY_NODES] == ["MapInArrow"], plans


def test_stored_tier_sweep_is_narrow(spark, one_bucket):
    """apply_retention cuts each stored doc row in place: one job with
    one scan and one mapInArrow, and no Exchange or Window, where the
    window-row sweep it replaces (retention_sweep, kept as its oracle)
    has an Exchange, a Sort and a Window.  Its write adds one Sort by
    doc_id inside each task: doc_id order is the file layout."""
    from tsc_spark.operators.retention import apply_retention, retention_sweep
    from tsc_spark.plans.pipeline import read_tier, run_pipeline

    run_pipeline(spark, one_bucket, with_timeline=False)
    shuffled = {"Exchange", "Sort", "Window"}
    oracle_sweep = retention_sweep(read_tier(spark, one_bucket, 1), {1: 2})
    (oracle,) = execution_plans(spark, oracle_sweep.collect)
    assert shuffled <= set(oracle), oracle  # the walker sees them when they are there
    plans = execution_plans(spark, lambda: apply_retention(spark, one_bucket, {0: 4, 1: 2, 2: 1}))
    assert len(plans) == 1, plans  # every tier in one job
    (nodes,) = plans
    assert sum(n.startswith("Scan ") for n in nodes) == 1, nodes
    assert [n for n in nodes if n in _PY_NODES] == ["MapInArrow"], nodes
    assert not {"Exchange", "Window"} & set(nodes), nodes
    assert nodes.count("Sort") == 1, nodes
