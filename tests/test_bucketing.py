"""Bucketed co-located join: plan-level and value-level guarantees.

The 100 TB claim being tested: persisting the doc_id hash-partitioning
with the data (bucketBy) removes BOTH Exchanges from later doc_id
equi-joins, while returning exactly the rows a plain shuffled join
returns.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tsc_spark.plans.bucketing import plan_exchanges, write_bucketed  # noqa: E402


@pytest.fixture()
def no_broadcast(spark):
    """Emulate corpus scale for plan assertions: at 10^12 sequences
    neither join side broadcasts, so the planner must choose between a
    shuffled and a bucket-co-located sort-merge join."""
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


@pytest.fixture(scope="module")
def bucketed_tables(spark, tokens_df, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    toks = tokens_df.select("doc_id", "n_tok", "source")
    stats = tokens_df.selectExpr(
        "doc_id", "aggregate(tokens, 0L, (a, t) -> a + t) AS tok_sum"
    )
    write_bucketed(toks, "bt_tokens", n_buckets=8, path=str(root / "toks"))
    write_bucketed(stats, "bt_stats", n_buckets=8, path=str(root / "stats"))
    yield "bt_tokens", "bt_stats"
    spark.sql("DROP TABLE IF EXISTS bt_tokens")
    spark.sql("DROP TABLE IF EXISTS bt_stats")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables, no_broadcast):
    left, right = bucketed_tables
    joined = spark.table(left).join(spark.table(right), "doc_id")
    assert plan_exchanges(joined) == 0, (
        "bucketed doc_id join should be co-located (zero shuffles):\n"
        + joined._jdf.queryExecution().executedPlan().toString()
    )


def test_unbucketed_join_does_exchange(spark, bucketed_tables, tokens_df, no_broadcast):
    """Control: the same join without bucketing shuffles at least once
    (guards against plan_exchanges trivially returning 0)."""
    left, _ = bucketed_tables
    plain = tokens_df.select("doc_id", "n_tok")
    joined = spark.table(left).join(plain.withColumnRenamed("n_tok", "n2"), "doc_id")
    assert plan_exchanges(joined) >= 1


def test_bucketed_join_values_match_shuffled_join(spark, bucketed_tables, tokens_df):
    left, right = bucketed_tables
    got = sorted(tuple(r) for r in spark.table(left).join(spark.table(right), "doc_id").collect())
    toks = tokens_df.select("doc_id", "n_tok", "source")
    stats = tokens_df.selectExpr(
        "doc_id", "aggregate(tokens, 0L, (a, t) -> a + t) AS tok_sum"
    )
    want = sorted(tuple(r) for r in toks.join(stats, "doc_id").collect())
    assert got == want


def test_driver_bucketed_query_plan(spark, no_broadcast):
    """The driver-checked bucketed_rollup_join query (its VALUES are
    oracle-gated by the driver) keeps the zero-Exchange plan property:
    after one invocation, the same-bucket-count doc_id join it runs is
    co-located."""
    import __spark_entry__ as m

    out = m.queries()["bucketed_rollup_join"](spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    joined = spark.table("tsc_bq_tokens").join(spark.table("tsc_bq_rollup"), "doc_id")
    joined.collect()
    assert plan_exchanges(joined) == 0, (
        joined._jdf.queryExecution().executedPlan().toString()
    )


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key also rides the persisted
    partitioning — per-doc rollups over a bucketed corpus never
    shuffle."""
    left, _ = bucketed_tables
    agg = spark.table(left).groupBy("doc_id").count()
    assert plan_exchanges(agg) == 0
