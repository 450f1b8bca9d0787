"""Resumable pipeline: checkpoint manifests, no duplicate work on
resume, identical outputs vs a fresh full run (SURVEY §5.5)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tsc_spark.codecs import decode
from tsc_spark.config import TIER_STRIDES
from tsc_spark.functions import decode_tokens_table
from tsc_spark.operators.retention import (
    DEFAULT_RETENTION_POLICY,
    apply_retention,
    retention_sweep,
)
from tsc_spark.operators.rollup import tiered_rollups
from tsc_spark.plans.pipeline import (
    _dir_bytes,
    ingest,
    pipeline_metrics,
    read_tier,
    run_pipeline,
)


@pytest.fixture()
def base_dir(tmp_path, spark, tokens_df):
    d = str(tmp_path / "pipe")
    ingest(spark, tokens_df, d, n_buckets=4)
    return d


_TIER_COLS = ["doc_id", "tier", "window_idx", "agg_count", "agg_min", "agg_max", "agg_sum"]


def _tier_rows(df):
    return sorted(tuple(r) for r in df.select(*_TIER_COLS).collect())


class TestPipeline:
    def test_full_run_writes_all_manifests(self, spark, base_dir):
        manifests = run_pipeline(spark, base_dir, with_timeline=False)
        assert len(manifests) == 4
        assert all(m["watermarks"]["tier2_max_window_idx"] >= -1 for m in manifests)
        assert all(m["docs"] > 0 for m in manifests)
        assert sum(m["docs"] for m in manifests) == 56  # 48 synth + 8 edge

    def test_resume_skips_done_buckets(self, spark, base_dir):
        first = run_pipeline(spark, base_dir, buckets=[0, 1], with_timeline=False)
        assert [m["bucket"] for m in first] == [0, 1]
        # mtimes of finished buckets must not change on resume
        m0 = os.path.join(base_dir, "_checkpoints", "bucket=00000.json")
        mtime_before = os.path.getmtime(m0)
        rest = run_pipeline(spark, base_dir, with_timeline=False)
        assert [m["bucket"] for m in rest] == [2, 3]
        assert os.path.getmtime(m0) == mtime_before

    def test_resumed_equals_fresh(self, spark, tokens_df, tmp_path):
        d1 = str(tmp_path / "fresh")
        ingest(spark, tokens_df, d1, n_buckets=4)
        run_pipeline(spark, d1, with_timeline=False)

        d2 = str(tmp_path / "resumed")
        ingest(spark, tokens_df, d2, n_buckets=4)
        run_pipeline(spark, d2, buckets=[1, 3], with_timeline=False)  # partial
        run_pipeline(spark, d2, with_timeline=False)  # resume the rest

        for tier in (0, 1, 2):
            assert _tier_rows(read_tier(spark, d1, tier)) == _tier_rows(read_tier(spark, d2, tier))

    def test_encoded_roundtrip_through_parquet(self, spark, base_dir, tokens_rows):
        run_pipeline(spark, base_dir, with_timeline=False)
        enc = spark.read.parquet(os.path.join(base_dir, "encoded"))
        dec = decode_tokens_table(enc)
        got = {r.doc_id: list(r.tokens) for r in dec.collect()}
        for doc_id, toks, _src in tokens_rows:
            assert got[doc_id] == toks, doc_id

    def test_metrics_readable(self, spark, base_dir):
        run_pipeline(spark, base_dir, with_timeline=False)
        metrics = pipeline_metrics(base_dir)
        assert len(metrics) == 4
        assert all("points_per_sec" in m and "doc_id_range" in m for m in metrics)


def test_cli_emits_processing_time_stage_records(tmp_path):
    """The pipeline CLI stamps per-stage processing_time and a total
    processingTime, reference-compatibly rounded to 2 digits
    (time_series_controller.jl:2240, config.jl:17)."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "run_pipeline.py"),
         "--synth-docs", "200", "--buckets", "2", "--master", "local[2]",
         "--retention", "8,4,2", "--base-dir", str(tmp_path / "p")],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    stage_names = [s["stage"] for s in out["stages"]]
    assert stage_names == ["ingest", "rollup", "retention"]
    for s in out["stages"]:
        assert isinstance(s["processing_time"], float)
        assert s["processing_time"] == round(s["processing_time"], 2)
    assert out["processingTime"] >= max(s["processing_time"] for s in out["stages"])


def test_processing_time_rounding():
    from tsc_spark.config import PROCESSING_TIME_DIGITS, processing_time_s

    assert PROCESSING_TIME_DIGITS == 2
    assert processing_time_s(10.0, now=11.236) == 1.24
    assert processing_time_s(10.0, now=11.2) == 1.2


def test_empty_buckets_complete_with_empty_manifests(spark, tmp_path):
    """More buckets than docs: hash-empty buckets get no directory from
    partitionBy, but the run must still complete and commit an empty
    manifest so resume terminates."""
    few = spark.createDataFrame(
        [(f"d{i}", list(range(5)), 5, "s") for i in range(3)],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    d = str(tmp_path / "sparse")
    ingest(spark, few, d, n_buckets=16)
    manifests = run_pipeline(spark, d, with_timeline=False, with_encoded=False)
    assert len(manifests) == 16
    empties = [m for m in manifests if m["docs"] == 0]
    assert empties, "expected at least one hash-empty bucket"
    assert all(m["points"] == 0 for m in empties)
    # the same manifest fields as a filled bucket, from zero stats
    full = next(m for m in manifests if m["docs"])
    for m in empties:
        assert m.keys() == full.keys() and m["bytes"] == {}
        assert m["doc_id_range"] == [None, None] and set(m["watermarks"].values()) == {-1}
    # second run resumes cleanly past the empty buckets
    assert run_pipeline(spark, d, with_timeline=False, with_encoded=False) == []


def test_resume_produces_outputs_missing_from_earlier_run(spark, base_dir):
    """A run with with_timeline=False must not suppress the timeline a
    later with_timeline=True run asks for (manifests record outputs)."""
    run_pipeline(spark, base_dir, with_timeline=False, with_encoded=False)
    assert not os.path.isdir(os.path.join(base_dir, "timeline"))
    redone = run_pipeline(spark, base_dir, with_timeline=True, with_encoded=False)
    assert len(redone) == 4  # all buckets reprocessed for the new output
    assert os.path.isdir(os.path.join(base_dir, "timeline"))
    # and a third identical run is a full skip
    assert run_pipeline(spark, base_dir, with_timeline=True, with_encoded=False) == []


def test_resume_without_encoded_keeps_an_earlier_raw_tier(spark, base_dir, tokens_df):
    """A with_encoded=False run that reprocesses buckets (for the
    timeline an earlier run left out) rewrites each bucket's rows but
    keeps the blobs that earlier run stored, so the manifests still list
    'encoded' truthfully and a later with_encoded=True run redoes
    nothing."""
    tier0 = _tier_rows(tiered_rollups(tokens_df)[0])
    run_pipeline(spark, base_dir, with_timeline=False, with_encoded=True)
    redone = run_pipeline(spark, base_dir, with_timeline=True, with_encoded=False)
    assert len(redone) == 4
    assert all({"encoded", "timeline"} <= set(m["outputs"]) <= set(m["bytes"]) for m in redone)
    assert _tier_rows(read_tier(spark, base_dir, 0)) == tier0
    assert run_pipeline(spark, base_dir, with_timeline=True, with_encoded=True) == []
    assert _tier_rows(read_tier(spark, base_dir, 0)) == tier0


def test_buckets_with_and_without_blobs_read_together(spark, base_dir, tokens_df):
    """A bucket stored without blobs next to buckets with them: tier 0
    reads the other buckets' points, whichever footer comes first, and
    tiers 1/2 read every bucket."""
    run_pipeline(spark, base_dir, buckets=[0], with_timeline=False, with_encoded=False)
    run_pipeline(spark, base_dir, buckets=[1, 2, 3], with_timeline=False, with_encoded=True)
    bucketed = spark.read.parquet(os.path.join(base_dir, "tokens_bucketed"))
    in_bucket0 = {r.doc_id for r in bucketed.filter("bucket = 0").select("doc_id").collect()}
    assert in_bucket0
    tiers = tiered_rollups(tokens_df)
    assert _tier_rows(read_tier(spark, base_dir, 0)) == _tier_rows(
        tiers[0].filter(~F.col("doc_id").isin(*in_bucket0))
    )
    for tier in (1, 2):
        assert _tier_rows(read_tier(spark, base_dir, tier)) == _tier_rows(tiers[tier]), tier


def test_manifest_watermarks_match_written_files(spark, base_dir):
    """The derived per-tier watermark (from max n_tok) must equal the
    actual max window_idx in the written rollup files."""
    import pyspark.sql.functions as F

    manifests = run_pipeline(spark, base_dir, with_timeline=False)
    for m in manifests:
        for tier in (0, 1, 2):
            actual = (
                read_tier(spark, base_dir, tier)
                .where(F.col("bucket") == m["bucket"])
                .agg(F.max("window_idx"))
                .collect()[0][0]
            )
            assert m["watermarks"][f"tier{tier}_max_window_idx"] == int(actual), (
                m["bucket"], tier
            )


def test_manifest_stats_equal_direct_agg_over_bucket(spark, base_dir):
    """The manifest's stats come from an Observation on the bucket scan;
    they must equal a direct agg over the bucket directory, including the
    n_tok == 0 edge doc that tier-0's filter drops downstream."""
    import pyspark.sql.functions as F

    bucketed = spark.read.parquet(os.path.join(base_dir, "tokens_bucketed"))
    (bucket,) = [r.bucket for r in bucketed.filter("doc_id = 'edge_empty'").collect()]
    (m,) = run_pipeline(spark, base_dir, buckets=[bucket], with_timeline=False)

    scan = spark.read.parquet(os.path.join(base_dir, "tokens_bucketed", f"bucket={bucket}"))
    assert scan.filter("n_tok = 0").count() > 0
    d = scan.agg(
        F.count("*").alias("docs"),
        F.sum("n_tok").alias("points"),
        F.min("doc_id").alias("doc_min"),
        F.max("doc_id").alias("doc_max"),
        *[
            F.max(F.ceil(F.col("n_tok") / stride) - 1).alias(f"tier{tier}_max_window_idx")
            for tier, stride in TIER_STRIDES.items()
        ],
    ).collect()[0]
    assert (m["docs"], m["points"], m["doc_id_range"]) == (
        d["docs"], d["points"], [d["doc_min"], d["doc_max"]]
    )
    assert m["watermarks"] == {
        f"tier{t}_max_window_idx": d[f"tier{t}_max_window_idx"] for t in TIER_STRIDES
    }


def test_retention_rewrite_preserves_tier_column(spark, base_dir):
    """Swept buckets must keep the same file schema (incl. tier) as
    unswept ones, or read_tier's merged schema becomes nondeterministic."""
    from tsc_spark.operators.retention import apply_retention

    run_pipeline(spark, base_dir, with_timeline=False)
    cols_before = set(read_tier(spark, base_dir, 0).columns)
    apply_retention(spark, base_dir, {0: 4, 1: 2, 2: 1}, buckets=[0, 1])
    cols_after = set(read_tier(spark, base_dir, 0).columns)
    assert cols_after == cols_before
    # every row still carries a concrete tier value
    assert read_tier(spark, base_dir, 0).filter("tier IS NULL").count() == 0


def _walk_bytes(path):
    """Data-file bytes under ``path``, Hadoop .crc checksums skipped."""
    return sum(
        os.path.getsize(os.path.join(root, name))
        for root, _dirs, files in os.walk(path)
        for name in files
        if not name.endswith(".crc")
    )


def _max_stored_tokens(spark, base_dir):
    blobs = spark.read.parquet(os.path.join(base_dir, "encoded")).select("encoded").toArrow()
    return max(len(t or ()) for t in decode(blobs.column(0).combine_chunks()).to_pylist())


def test_tier_store_reads_back_the_logical_rollups(spark, tmp_path, raw_tokens_df):
    """read_tier gives every tier as tiered_rollups emits it, tier 0
    rebuilt from the encoded table (no tier-0 directory is written), and
    after each of two retention sweeps it gives retention_sweep of it,
    while no stored blob holds more than the 64-token raw horizon.  The
    edge docs (empty, one or two tokens, constant, negative, NULL token
    elements, longer than 64 tokens) are part of the corpus."""
    base_dir = str(tmp_path / "pipe")
    ingest(spark, raw_tokens_df, base_dir, n_buckets=4)
    run_pipeline(spark, base_dir, with_timeline=False)
    tiers = tiered_rollups(raw_tokens_df)
    edges = {"edge_one", "edge_two", "edge_const", "edge_neg", "edge_null", "edge_long"}
    assert edges <= {r.doc_id for r in tiers[0].select("doc_id").distinct().collect()}
    assert tiers[0].filter("agg_count = 0").count() == 2  # edge_null's NULLs
    for tier, tdf in tiers.items():
        assert _tier_rows(read_tier(spark, base_dir, tier)) == _tier_rows(tdf), tier
    assert _max_stored_tokens(spark, base_dir) == 150

    for _sweep in range(2):
        apply_retention(spark, base_dir)
        for tier, tdf in tiers.items():
            expected = retention_sweep(tdf, DEFAULT_RETENTION_POLICY)
            assert _tier_rows(read_tier(spark, base_dir, tier)) == _tier_rows(expected), tier
        assert _max_stored_tokens(spark, base_dir) == DEFAULT_RETENTION_POLICY[0]


@pytest.mark.parametrize("with_encoded", [True, False])
def test_pipeline_writes_one_table_per_bucket(spark, base_dir, with_encoded):
    """Each bucket is one table, encoded/bucket=b, with one row per doc
    holding its blob (without with_encoded, none) and its tier-1/2
    structs; the pipeline writes no rollup/ directory."""
    run_pipeline(spark, base_dir, with_timeline=False, with_encoded=with_encoded)
    assert sorted(os.listdir(base_dir)) == ["_checkpoints", "_ingest.json", "encoded",
                                            "tokens_bucketed"]
    stored = spark.read.parquet(os.path.join(base_dir, "encoded"))
    blob = ["encoded", "codec_version"] if with_encoded else []
    assert stored.columns == ["doc_id", *blob, "n_tok", "source", "tier1", "tier2", "bucket"]
    assert stored.count() == 56  # every doc, the empty one included
    for tier in (1, 2):
        assert read_tier(spark, base_dir, tier).count() > 0


def test_every_tier_table_has_the_rollup_row_schema(spark, tmp_path, tokens_df, base_dir):
    """One tier-row form: read_tier of every stored tier, tiered_rollups
    and the stream sink all have rollup_arrays' columns and types (the
    stored tiers add the bucket partition column)."""
    from tsc_spark.operators.rollup import _WINDOW_SCHEMA
    from tsc_spark.streaming.rollup_stream import run_rollup_stream_with_retention

    expected = spark.createDataFrame([], _WINDOW_SCHEMA).dtypes
    run_pipeline(spark, base_dir, with_timeline=False)
    src = str(tmp_path / "src")
    tokens_df.write.parquet(src)
    for tier, tdf in tiered_rollups(tokens_df).items():
        assert tdf.dtypes == expected, tier
        stored = read_tier(spark, base_dir, tier).dtypes
        assert [c for c in stored if c[0] != "bucket"] == expected, tier
        sink = str(tmp_path / f"sink{tier}")
        run_rollup_stream_with_retention(spark, src, sink, str(tmp_path / f"ckpt{tier}"),
                                         tier=tier, policy={})
        assert spark.read.parquet(sink).dtypes == expected, tier


def test_encoded_footers_keep_no_blob_statistics(spark, base_dir):
    """A min/max over DoD blobs prunes nothing: the encoded column is
    written without statistics, doc_id keeps its own."""
    (m,) = run_pipeline(spark, base_dir, buckets=[0], with_timeline=False)
    files = [
        os.path.join(root, name)
        for root, _dirs, names in os.walk(os.path.join(base_dir, "encoded"))
        for name in names
        if name.endswith(".parquet")
    ]
    assert files and m["docs"] > 0
    for path in files:
        meta = pq.ParquetFile(path).metadata
        for g in range(meta.num_row_groups):
            cols = {meta.row_group(g).column(c).path_in_schema: meta.row_group(g).column(c)
                    for c in range(meta.num_columns)}
            assert not cols["encoded"].is_stats_set, path
            assert cols["doc_id"].statistics.has_min_max, path


def test_manifest_bytes_equal_directory_walk(spark, base_dir):
    """Each manifest records the data-file bytes of every output
    directory the bucket wrote; each retention record the bytes of the
    tier and encoded directories after its sweep."""
    (m,) = run_pipeline(spark, base_dir, buckets=[1])
    dirs = {out: os.path.join(base_dir, out, "bucket=1") for out in ("encoded", "timeline")}
    assert m["bytes"] == {name: _walk_bytes(path) for name, path in dirs.items()}
    assert all(n > 0 for n in m["bytes"].values())

    (record,) = apply_retention(spark, base_dir, {0: 4, 1: 2, 2: 1}, buckets=[1])
    swept = {"encoded": _walk_bytes(dirs["encoded"])}
    assert record["bytes"] == swept
    assert swept["encoded"] < m["bytes"]["encoded"]
    (committed,) = pipeline_metrics(base_dir)
    assert committed["retention"] == [record]


def test_recorded_bytes_sum_to_the_buckets_directories(spark, base_dir):
    """A bucket's recorded bytes add up to every output directory it has
    on disk (whatever the names), before and after a sweep: no output is
    left out of the record and no stale directory is left behind."""

    def bucket_dirs_bytes(bucket):
        return sum(
            _dir_bytes(root)
            for root, dirs, _files in os.walk(base_dir)
            if os.path.basename(root) == f"bucket={bucket}" and "tokens_bucketed" not in root
        )

    (m,) = run_pipeline(spark, base_dir, buckets=[2], with_timeline=False)
    assert sum(m["bytes"].values()) == bucket_dirs_bytes(2) > 0
    (record,) = apply_retention(spark, base_dir, buckets=[2])
    assert sum(record["bytes"].values()) == bucket_dirs_bytes(2)
