"""Codec round-trip properties (FIXTURES.md §2.4): decode(encode(x)) == x
exactly, across adversarial patterns."""

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tsc_spark.codecs import decode, decode_dod, encode
from tsc_spark.sources import synth_tokens

INT64_LISTS = pa.list_(pa.int64())

ADVERSARIAL_INT = [
    [],
    [0],
    [5],
    [-7],
    [3] * 16,
    list(range(100)),
    [0, 24] * 50,
    [2**31 - 1, -(2**31), 0, 1, -1],
    [1000000, -1000000] * 7,
]


@pytest.mark.parametrize("case", ADVERSARIAL_INT, ids=range(len(ADVERSARIAL_INT)))
def test_dod_roundtrip_adversarial(case):
    out = decode_dod(encode(pa.array([case], INT64_LISTS))[0].as_py())
    assert out.tolist() == case


def test_dod_roundtrip_synth_corpus():
    for doc_id, toks, _src in synth_tokens(64, include_edges=True):
        blob = encode(pa.array([toks], INT64_LISTS))[0].as_py()
        assert decode_dod(blob).tolist() == toks, doc_id


def test_decode_dod_rejects_null_elements():
    """decode_dod's int64 form cannot hold a NULL token element: such a
    blob raises a clear ValueError naming decode, which keeps the NULL."""
    blob = encode(pa.array([[1, None, 3]], pa.list_(pa.int32())))[0].as_py()
    with pytest.raises(ValueError, match=r"NULL token element.*decode\(\)"):
        decode_dod(blob)
    assert decode(pa.array([blob], pa.binary())).to_pylist() == [[1, None, 3]]
    assert decode_dod(encode(pa.array([[1, 2, 3]], INT64_LISTS))[0].as_py()).dtype == "int64"


def test_dod_compresses_constant_runs():
    toks = [7] * 1000
    ramp = list(range(1000))
    # ~1 byte/value worst, constant ≈ n bytes
    assert all(len(b) < 1010 for b in encode(pa.array([toks, ramp], INT64_LISTS)).to_pylist())


@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40), max_size=300))
@settings(max_examples=200, deadline=None)
def test_dod_roundtrip_property(xs):
    assert decode_dod(encode(pa.array([xs], INT64_LISTS))[0].as_py()).tolist() == xs


def _spec_varint(u):
    out = bytearray()
    while u >= 0x80:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    return bytes(out + bytes([u]))


def _spec_encode(doc):
    """Reference encoder: varint n, then zigzag varints of v0, d0, dod..."""
    if doc is None:
        return None
    deltas = [b - a for a, b in zip(doc, doc[1:])]
    stream = doc[:1] + deltas[:1] + [b - a for a, b in zip(deltas, deltas[1:])]
    zigzag = [2 * x if x >= 0 else -2 * x - 1 for x in stream]
    return _spec_varint(len(doc)) + b"".join(map(_spec_varint, zigzag))


INT32 = st.integers(-(2**31), 2**31 - 1)
DOC = st.one_of(st.none(), st.lists(INT32, max_size=3), st.lists(INT32, max_size=60))


@given(st.lists(DOC, max_size=30), st.integers(0, 5))
@settings(max_examples=300, deadline=None)
def test_batch_codec_matches_spec_encoder(docs, cut):
    """The batch encoder writes the spec's bytes for every doc of a sliced
    list array (offset != 0), NULL, empty, 1-/2-token and int32-extreme
    docs included, and decode (of a sliced binary array too) inverts it."""
    docs = [None, [], [7], [-(2**31), 2**31 - 1]] + docs
    arr = pa.array([[1, 2]] * cut + docs, pa.list_(pa.int32()))[cut:]
    enc = encode(arr)
    assert enc.to_pylist() == [_spec_encode(d) for d in docs]
    assert decode(enc).to_pylist() == docs
    assert decode(enc[1:]).to_pylist() == docs[1:]


ELEM = st.one_of(st.none(), INT32)
NULLABLE_DOC = st.one_of(st.none(), st.lists(ELEM, max_size=3), st.lists(ELEM, max_size=60))


@given(st.lists(NULLABLE_DOC, max_size=30), st.integers(0, 5))
@settings(max_examples=300, deadline=None)
def test_codec_roundtrips_null_elements(docs, cut):
    """NULL token elements round-trip through a sliced list array beside
    NULL, empty and int32-extreme docs, also from a sliced binary array.
    A doc's blob is the spec blob of its values with each NULL read as 0,
    followed by the varint position of each NULL: a doc without NULLs
    keeps the spec's bytes exactly."""
    docs = [None, [], [None], [-(2**31), None, 2**31 - 1]] + docs
    arr = pa.array([[1, 2]] * cut + docs, pa.list_(pa.int32()))[cut:]
    enc = encode(arr)
    assert decode(enc).to_pylist() == docs
    assert decode(enc[1:]).to_pylist() == docs[1:]
    for doc, blob in zip(docs, enc.to_pylist()):
        if doc is None:
            assert blob is None
            continue
        nulls = b"".join(_spec_varint(i) for i, t in enumerate(doc) if t is None)
        assert blob == _spec_encode([0 if t is None else t for t in doc]) + nulls


def test_codec_pins_blob_bytes():
    """Literal blobs: [5, 7] is n=2, zigzag 5, zigzag +2; a NULL in the
    middle adds only its position after the values."""
    arr = pa.array([[5, 7], [5, None, 7]], pa.list_(pa.int32()))
    assert encode(arr).to_pylist() == [b"\x02\x0a\x04", b"\x03\x0a\x09\x18\x01"]


def test_codec_rejects_malformed_input():
    with pytest.raises(ValueError, match="corrupt"):
        decode(pa.array([b"\x05\x00"], pa.binary()))  # n=5, one value
    with pytest.raises(ValueError, match="corrupt"):
        decode(pa.array([b"\x01\x00\x05"], pa.binary()))  # a NULL at position 5 of 1


def _encoded_table(df):
    """The blob columns of a stored bucket table, from the encoder UDF."""
    from pyspark.sql import functions as F

    from tsc_spark.codecs.deltadelta import CODEC_VERSION
    from tsc_spark.functions.codec_udfs import encode_tokens_udf

    return df.select(
        "doc_id", encode_tokens_udf("tokens").alias("encoded"),
        F.lit(CODEC_VERSION).alias("codec_version"), "n_tok", "source",
    )


def test_null_tokens_row_roundtrips_to_null(spark):
    from tsc_spark.functions.codec_udfs import decode_tokens_table

    df = spark.createDataFrame(
        [("d1", [1, 2, 3], 3, "s"), ("d2", None, 0, "s"), ("d3", [], 0, "s"),
         ("d4", [1, None, 3], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    enc = _encoded_table(df)
    assert "ArrowEvalPython" in enc._jdf.queryExecution().executedPlan().toString()
    got = {r.doc_id: r.tokens for r in decode_tokens_table(enc).collect()}
    assert got == {"d1": [1, 2, 3], "d2": None, "d3": [], "d4": [1, None, 3]}


def test_decode_rejects_unknown_codec_version(spark):
    import pytest
    from pyspark.sql import functions as F

    from tsc_spark.functions.codec_udfs import decode_tokens_table

    df = spark.createDataFrame(
        [("d1", [1, 2, 3], 3, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    enc = _encoded_table(df)
    # the stamped version decodes fine — run BEFORE the failure-injection
    # query: cancelling that stage kills the reused Python workers, and the
    # next Arrow job can transiently hit ClosedChannelException while the
    # worker pool respawns (observed as a rare flake when this assert ran
    # after the pytest.raises block)
    assert decode_tokens_table(enc).collect()[0].tokens == [1, 2, 3]
    bad = enc.withColumn("codec_version", F.lit(99))
    with pytest.raises(Exception, match="unsupported codec_version"):
        decode_tokens_table(bad).collect()
    # revive the shared session's Python worker pool for subsequent tests;
    # retries absorb the post-cancellation respawn race
    for attempt in range(3):
        try:
            decode_tokens_table(enc).count()
            break
        except Exception:
            if attempt == 2:
                raise


_RESTART = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from tsc_spark.functions import decode_tokens_udf, encode_tokens_udf
from tsc_spark.functions.canon import fmt_double_arr
from tsc_spark.session import get_spark

for _ in range(2):
    spark = get_spark("udf_restart", master="local[1]", shuffle_partitions=1)
    df = spark.createDataFrame([([1, 5, 2],)], "tokens array<int>")
    row = df.select(
        decode_tokens_udf(encode_tokens_udf("tokens")).alias("t"),
        fmt_double_arr(F.transform("tokens", lambda x: x.cast("double"))).alias("f"),
    ).first()
    assert (row.t, row.f) == ([1, 5, 2], "1.0,5.0,2.0"), row
    spark.stop()
"""


def test_udfs_survive_a_session_restart():
    """The codec and canon UDFs work in a second SparkContext of the same
    process: a UDF object that kept the first context's accumulator makes
    every task of the second log 'Failed to update accumulator'."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART.format(repo=repo)],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Failed to update accumulator" not in proc.stderr, proc.stderr[-2000:]
