"""Retention/TTL sweep: policy semantics, plan actions, and the
end-to-end apply over the bucketed pipeline layout (north-rule
retention leg; reference analogue seed_influx.jl:152-177)."""

import os

import pytest
from pyspark.sql import functions as F

from tsc_spark.operators.retention import (
    DEFAULT_RETENTION_POLICY,
    apply_retention,
    retention_plan,
    retention_sweep,
    with_expiry_flags,
)
from tsc_spark.operators.rollup import tiered_rollups
from tsc_spark.plans.pipeline import ingest, read_tier, run_pipeline


def _mini_rollup(spark):
    """Two docs, tier 1; doc A has 10 windows, doc B has 3."""
    rows = []
    for d, n in (("a", 10), ("b", 3)):
        for w in range(n):
            rows.append((d, 1, w, 8, 0, 5, 20))
    return spark.createDataFrame(
        rows,
        "doc_id string, tier int, window_idx long, agg_count long, "
        "agg_min int, agg_max int, agg_sum long",
    )


class TestSweepSemantics:
    def test_keep_last_k_per_doc(self, spark):
        out = retention_sweep(_mini_rollup(spark), {1: 4}).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r.window_idx)
        assert sorted(by_doc["a"]) == [6, 7, 8, 9]
        # shorter than the horizon → fully retained
        assert sorted(by_doc["b"]) == [0, 1, 2]

    def test_unpolicied_tier_retained_forever(self, spark):
        df = _mini_rollup(spark).withColumn("tier", F.lit(9))
        assert retention_sweep(df, {1: 2}).count() == df.count()

    def test_expiry_flags_match_sweep(self, spark):
        df = _mini_rollup(spark)
        flagged = with_expiry_flags(df, {1: 4})
        assert flagged.filter(~F.col("expired")).count() == retention_sweep(df, {1: 4}).count()
        assert flagged.count() == df.count()


class TestPlan:
    def test_actions_partition_the_segments(self, spark):
        # doc a: 10 windows, keep last 4 → expired 0..5; segments of 4:
        #   seg0 (w0-3)  all expired          → drop
        #   seg1 (w4-7)  w4,w5 expired        → rewrite
        #   seg2 (w8-9)  none expired         → keep
        plan = retention_plan(_mini_rollup(spark), {1: 4}, segment_size=4)
        acts = {(r.doc_id, r.segment): r.action for r in plan.collect()}
        assert acts[("a", 0)] == "drop"
        assert acts[("a", 1)] == "rewrite"
        assert acts[("a", 2)] == "keep"
        assert acts[("b", 0)] == "keep"

    def test_plan_counts_are_exact(self, spark):
        plan = retention_plan(_mini_rollup(spark), {1: 4}, segment_size=4)
        r = {(x.doc_id, x.segment): x for x in plan.collect()}
        assert (r[("a", 1)].n_windows, r[("a", 1)].n_expired) == (4, 2)


class TestApplyRetention:
    def test_end_to_end_over_bucketed_layout(self, spark, raw_tokens_df, tmp_path):
        base = str(tmp_path / "ret")
        ingest(spark, raw_tokens_df, base, n_buckets=2)
        run_pipeline(spark, base, with_timeline=False)

        before = {t: read_tier(spark, base, t).count() for t in (0, 1, 2)}
        records = apply_retention(spark, base, DEFAULT_RETENTION_POLICY)
        assert len(records) == 2
        after = {t: read_tier(spark, base, t).count() for t in (0, 1, 2)}

        # expected survivors: recompute the sweep from scratch per tier
        for tier in (0, 1, 2):
            t_all = tiered_rollups(raw_tokens_df)[tier]
            expected = retention_sweep(t_all, DEFAULT_RETENTION_POLICY).count()
            assert after[tier] == expected
            assert after[tier] <= before[tier]

        # manifests carry the retention record
        import json

        with open(os.path.join(base, "_checkpoints", "bucket=00000.json")) as f:
            m = json.load(f)
        assert m["retention"][0]["tiers"]["0"]["rows_after"] <= m["retention"][0]["tiers"]["0"]["rows_before"]

    def test_sweep_is_idempotent(self, spark, raw_tokens_df, tmp_path):
        base = str(tmp_path / "ret2")
        ingest(spark, raw_tokens_df, base, n_buckets=2)
        run_pipeline(spark, base, with_timeline=False)
        apply_retention(spark, base)
        first = {t: sorted(map(tuple, read_tier(spark, base, t).collect())) for t in (0, 1)}
        blobs = sorted(map(tuple, spark.read.parquet(os.path.join(base, "encoded")).collect()))
        apply_retention(spark, base)
        second = {t: sorted(map(tuple, read_tier(spark, base, t).collect())) for t in (0, 1)}
        assert first == second
        assert sorted(map(tuple, spark.read.parquet(os.path.join(base, "encoded")).collect())) == blobs


def _rows(df):
    return sorted(
        (r.doc_id, r.window_idx, r.agg_count, r.agg_min, r.agg_max, r.agg_sum)
        for r in df.collect()
    )


@pytest.fixture()
def swept_base(spark, raw_tokens_df, tmp_path):
    """Two-bucket pipeline layout of ``raw_tokens_df`` with its tier
    rollups and encoded table written."""
    base = str(tmp_path / "edge")
    ingest(spark, raw_tokens_df, base, n_buckets=2)
    run_pipeline(spark, base, with_timeline=False)
    return base


class TestApplyRetentionEdges:
    def test_fully_expired_tier_stays_readable(self, spark, swept_base):
        """keep 0 expires every window of tier 1: each doc row keeps its
        blob and an empty tier-1 struct, and the tier remains a readable,
        empty table with the unswept columns and types (tier column
        included) — also once both tiers hold no window at all."""
        dtypes = {t: read_tier(spark, swept_base, t).dtypes for t in (1, 2)}
        docs = spark.read.parquet(os.path.join(swept_base, "encoded")).count()
        records = apply_retention(spark, swept_base, {0: 64, 1: 0, 2: 8})
        assert all(r["tiers"]["1"]["rows_after"] == 0 for r in records)
        assert all(r["tiers"]["1"]["rows_before"] > 0 for r in records)
        stored = spark.read.parquet(os.path.join(swept_base, "encoded"))
        assert stored.count() == docs
        assert stored.filter(F.size("tier1.agg_count") > 0).count() == 0
        tier1 = read_tier(spark, swept_base, 1)
        assert tier1.count() == 0
        assert tier1.dtypes == dtypes[1]
        # the other tiers of the same one-job sweep are unaffected
        assert read_tier(spark, swept_base, 0).count() > 0
        assert read_tier(spark, swept_base, 2).count() > 0
        # and a second sweep over the empty tier is a no-op
        again = apply_retention(spark, swept_base, {0: 64, 1: 0, 2: 8})
        assert [r["tiers"]["1"] for r in again] == [{"rows_before": 0, "rows_after": 0}] * 2

        apply_retention(spark, swept_base, {0: 64, 1: 0, 2: 0})
        for tier in (1, 2):
            stored = read_tier(spark, swept_base, tier)
            assert stored.count() == 0, tier
            assert stored.dtypes == dtypes[tier], tier
        again = apply_retention(spark, swept_base, {0: 64, 1: 0, 2: 0})
        assert [r["tiers"]["2"] for r in again] == [{"rows_before": 0, "rows_after": 0}] * 2

    def test_bucket_missing_a_tier_is_recorded_empty(self, spark, raw_tokens_df, tmp_path):
        """A bucket whose docs hold no tokens has no window in any tier:
        each policy tier is recorded 0/0, its doc rows stay, and the
        other bucket is swept as usual."""
        bucket = F.pmod(F.xxhash64("doc_id"), F.lit(2))
        empty = F.when(bucket == 0, F.array().cast("array<int>")).otherwise(F.col("tokens"))
        corpus = raw_tokens_df.withColumn("tokens", empty).withColumn("n_tok", F.size("tokens"))
        base = str(tmp_path / "hollow")
        ingest(spark, corpus, base, n_buckets=2)
        run_pipeline(spark, base, with_timeline=False)
        records = {r["bucket"]: r for r in apply_retention(spark, base)}
        assert records[0]["tiers"] == {t: {"rows_before": 0, "rows_after": 0} for t in "012"}
        assert all(records[1]["tiers"][t]["rows_after"] > 0 for t in "012")
        for tier in (0, 1, 2):
            assert read_tier(spark, base, tier).filter("bucket = 0").count() == 0, tier
        stored = spark.read.parquet(os.path.join(base, "encoded", "bucket=0"))
        assert stored.count() == corpus.filter(bucket == 0).count() > 0

    def test_leftover_tmp_dir_is_invisible_and_overwritten(self, spark, raw_tokens_df, swept_base):
        """A sweep interrupted after its write leaves its tmp dir behind:
        read_tier must not see it, and the next sweep replaces it."""
        tmp = os.path.join(swept_base, "encoded", ".bucket=0.sweep_tmp")
        spark.read.parquet(os.path.join(swept_base, "encoded", "bucket=0")).limit(5).write.parquet(
            tmp
        )
        for tier in (0, 1):
            assert _rows(read_tier(spark, swept_base, tier)) == _rows(
                tiered_rollups(raw_tokens_df)[tier]
            )

        apply_retention(spark, swept_base)
        assert not os.path.exists(tmp)
        for tier in (0, 1, 2):
            expected = retention_sweep(
                tiered_rollups(raw_tokens_df)[tier], DEFAULT_RETENTION_POLICY
            )
            assert _rows(read_tier(spark, swept_base, tier)) == _rows(expected)

    def test_observed_counts_equal_per_tier_counts(self, spark, raw_tokens_df, swept_base):
        """The Observation-derived rows_before/rows_after summed over
        buckets equal per-tier count()s of the sweep on the raw corpus."""
        records = apply_retention(spark, swept_base)
        tiers = tiered_rollups(raw_tokens_df)
        for tier, tdf in tiers.items():
            got = {
                field: sum(r["tiers"][str(tier)][field] for r in records)
                for field in ("rows_before", "rows_after")
            }
            assert got == {
                "rows_before": tdf.count(),
                "rows_after": retention_sweep(tdf, DEFAULT_RETENTION_POLICY).count(),
            }


    def test_policy_without_tier0_keeps_the_raw_archive(self, spark, raw_tokens_df, swept_base):
        """Tier 0 absent from the policy: the encoded blobs stay whole and
        the record has no tier-0 entry, like any tier the policy omits."""
        encoded = os.path.join(swept_base, "encoded")

        def blobs():
            stored = spark.read.parquet(encoded).drop("tier1", "tier2")
            return sorted(map(tuple, stored.collect()))

        before = blobs()
        records = apply_retention(spark, swept_base, {1: 2, 2: 1})
        assert all(sorted(r["tiers"]) == ["1", "2"] for r in records)
        assert blobs() == before
        assert _rows(read_tier(spark, swept_base, 0)) == _rows(
            tiered_rollups(raw_tokens_df)[0]
        )


    def test_swap_backup_is_not_read_as_a_partition(self, spark, raw_tokens_df, swept_base,
                                                    monkeypatch):
        """Between swap_in_dir's second rename and its rmtree (for good,
        after a crash there) every swapped bucket dir has its backup
        beside it: a read of the tier must not take it for a bucket."""
        import shutil

        monkeypatch.setattr(shutil, "rmtree", lambda *a, **k: None)
        apply_retention(spark, swept_base)
        monkeypatch.undo()
        backups = [d for d in os.listdir(os.path.join(swept_base, "encoded")) if "swap_old" in d]
        assert len(backups) == 2  # one swapped table per bucket: the test is not vacuous
        for tier, tdf in tiered_rollups(raw_tokens_df).items():
            stored = read_tier(spark, swept_base, tier)
            assert dict(stored.dtypes)["bucket"] == "int", tier
            assert stored.count() == retention_sweep(tdf, DEFAULT_RETENTION_POLICY).count(), tier


class TestStreamingRetention:
    def test_stream_sweep_equals_batch_sweep(self, spark, tokens_df, tmp_path):
        """Two ingest waves through the streaming retention path end in
        exactly the batch sweep of the full corpus (docs are disjoint
        across waves, so per-doc keep-last is wave-independent) — on
        every tier, so tier-0's posexplode cut runs as well as the
        Arrow cut of tiers 1/2."""
        from tsc_spark.streaming.rollup_stream import run_rollup_stream_with_retention

        half = tokens_df.limit(20).cache()
        rest = tokens_df.subtract(half).cache()
        tiers = tiered_rollups(tokens_df)
        for tier in (0, 1, 2):
            src, out, ckpt = (str(tmp_path / f"{d}{tier}") for d in ("src", "out", "ckpt"))
            half.write.parquet(src)
            run_rollup_stream_with_retention(spark, src, out, ckpt, tier=tier, policy={tier: 3})
            rest.write.mode("append").parquet(src)
            run_rollup_stream_with_retention(spark, src, out, ckpt, tier=tier, policy={tier: 3})

            got = _rows(spark.read.parquet(out))
            assert got == _rows(retention_sweep(tiers[tier], {tier: 3}))
            assert len(got) > 0

    def test_restart_after_failed_batch_is_exact(self, spark, tokens_df, tmp_path):
        """A micro-batch that fails is replayed on restart, and a batch
        whose sink commit landed but whose checkpoint commit did not is
        skipped by the sink's log: the sink ends in exactly the batch
        sweep, with no batch appended twice."""
        from pyspark.errors import StreamingQueryException

        from tsc_spark.streaming.rollup_stream import run_rollup_stream_with_retention

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        tokens_df.repartition(2).write.parquet(src)
        files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        assert len(files) == 2
        first, second = (os.path.join(src, f) for f in files)
        os.utime(first, (1_000_000, 1_000_000))  # file order = batch order
        os.utime(second, (2_000_000, 2_000_000))

        def run():
            run_rollup_stream_with_retention(
                spark, src, out, ckpt, tier=1, policy={1: 3}, max_files=1
            )

        data = open(second, "rb").read()
        with open(second, "wb") as f:
            f.write(data[: len(data) // 2])
        with pytest.raises(StreamingQueryException):
            run()  # batch 0 commits, batch 1 cannot read its file
        with open(second, "wb") as f:
            f.write(data)
        run()

        commits = os.path.join(ckpt, "commits")
        last = max(int(n) for n in os.listdir(commits) if n.isdigit())
        assert last == 1
        os.remove(os.path.join(commits, str(last)))
        os.remove(os.path.join(commits, f".{last}.crc"))

        def sink_log():
            meta = os.path.join(out, "_spark_metadata")
            return sorted(n for n in os.listdir(meta) if not n.startswith("."))

        logged = sink_log()
        run()  # batch 1 replays; the sink already holds it
        assert sink_log() == logged

        expected = retention_sweep(tiered_rollups(tokens_df)[1], {1: 3})
        assert _rows(spark.read.parquet(out)) == _rows(expected)

    def test_doc_arriving_twice_keeps_each_arrivals_windows(self, spark, tmp_path):
        """The keep-last cut is per arrival: a doc_id that arrives in two
        micro-batches leaves each arrival's last windows in the sink,
        once per arrival — the sink is never re-swept across batches."""
        from tsc_spark.streaming.rollup_stream import (
            TOKENS_SCHEMA,
            run_rollup_stream_with_retention,
        )

        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        arrivals = [list(range(40)), list(range(100, 120))]  # 5 windows, then 3
        for toks in arrivals:
            spark.createDataFrame([("d", toks, len(toks), "web")], TOKENS_SCHEMA).coalesce(
                1
            ).write.mode("append").parquet(src)
            run_rollup_stream_with_retention(
                spark, src, out, ckpt, tier=1, policy={1: 2}, max_files=1
            )

        def last_two_windows(toks):
            wins = [toks[i : i + 8] for i in range(0, len(toks), 8)]
            return [
                ("d", w, len(seg), min(seg), max(seg), sum(seg))
                for w, seg in enumerate(wins)
                if w >= len(wins) - 2
            ]

        expected = sorted(last_two_windows(arrivals[0]) + last_two_windows(arrivals[1]))
        assert _rows(spark.read.parquet(out)) == expected


def test_swap_recovery_restores_interrupted_swap(tmp_path):
    """A crash between swap_in_dir's two renames leaves the data in the
    swap_old backup dir; recovery restores it instead of losing history
    or wedging on the stale backup."""
    import os

    from tsc_spark.plans.pipeline import _hidden_sibling, recover_swapped_dir, swap_in_dir

    path = str(tmp_path / "sink")
    backup = _hidden_sibling(path, "swap_old")
    # simulate the crash window: path missing, backup holds the data
    os.makedirs(backup)
    open(os.path.join(backup, "part-0"), "w").write("history")
    recover_swapped_dir(path)
    assert os.path.isdir(path)
    assert open(os.path.join(path, "part-0")).read() == "history"
    assert not os.path.isdir(backup)

    # a normal swap with a stale backup lying around still succeeds
    os.makedirs(backup)
    tmp = str(tmp_path / "new")
    os.makedirs(tmp)
    open(os.path.join(tmp, "part-1"), "w").write("swept")
    swap_in_dir(path, tmp)
    assert open(os.path.join(path, "part-1")).read() == "swept"
    assert not os.path.isdir(backup)
