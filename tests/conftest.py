import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tsc_spark.session import get_spark

    s = get_spark("tsc_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tokens_df(spark):
    from tsc_spark.sources import synth_tokens_table

    df = synth_tokens_table(spark, n_docs=48, include_edges=True)
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def tokens_rows():
    from tsc_spark.sources import synth_tokens

    return synth_tokens(48, include_edges=True)


@pytest.fixture(scope="session")
def raw_tokens_df(spark, tokens_df):
    """``tokens_df`` plus a doc with NULL token elements and a doc longer
    than the default 64-token raw horizon (the synth docs stop at 64)."""
    extra = spark.createDataFrame(
        [("edge_null", [4, None, 6, None], 4, "edge"),
         ("edge_long", [(7 * i) % 24 for i in range(150)], 150, "edge")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    df = tokens_df.unionByName(extra)
    df.cache().count()
    return df
