"""read_tokens: Iceberg-or-parquet entry point + schema canonicalization."""

import pytest

from tsc_spark.sources.tokens import canonicalize_tokens, read_tokens


def test_parquet_roundtrip_canonical(spark, tmp_path):
    path = str(tmp_path / "toks.parquet")
    spark.createDataFrame(
        [("d1", [1, 2, 3], 3, "s"), ("d2", [4], 1, "t")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.parquet(path)
    out = read_tokens(spark, path)
    assert tuple(out.columns) == ("doc_id", "tokens", "n_tok", "source")
    rows = {r.doc_id: r for r in out.collect()}
    assert rows["d1"].tokens == [1, 2, 3] and rows["d1"].n_tok == 3


def test_canonicalize_derives_missing_columns(spark, tmp_path):
    # physical table with int doc_id, bigint tokens, no n_tok/source
    path = str(tmp_path / "raw.parquet")
    spark.createDataFrame(
        [(7, [10, 20])], "doc_id int, tokens array<bigint>"
    ).write.parquet(path)
    out = read_tokens(spark, path)
    row = out.collect()[0]
    assert row.doc_id == "7"  # cast to the contract's string
    assert row.tokens == [10, 20] and row.n_tok == 2 and row.source == "unknown"
    assert out.schema["tokens"].dataType.simpleString() == "array<int>"


def test_canonicalize_bigint_overflow_raises_not_wraps(spark):
    # with ANSI off, a plain bigint->int cast silently WRAPS 2^31+5 to a
    # negative token — the guard must raise instead (and pass values in
    # range untouched, incl. the exact boundaries)
    ok = canonicalize_tokens(
        spark.createDataFrame(
            [("a", [2**31 - 1, -(2**31), 7])], "doc_id string, tokens array<bigint>"
        )
    )
    assert ok.collect()[0].tokens == [2**31 - 1, -(2**31), 7]
    bad = canonicalize_tokens(
        spark.createDataFrame(
            [("a", [2**31 + 5])], "doc_id string, tokens array<bigint>"
        )
    )
    with pytest.raises(Exception, match="out of int32 range"):
        bad.collect()


def test_canonicalize_rejects_missing_tokens(spark):
    df = spark.createDataFrame([("a",)], "doc_id string")
    with pytest.raises(ValueError, match="missing required column"):
        canonicalize_tokens(df)


def test_canonicalize_rejects_non_array_tokens(spark):
    df = spark.createDataFrame([("a", "xyz")], "doc_id string, tokens string")
    with pytest.raises(ValueError, match="must be an integral array"):
        canonicalize_tokens(df)


def test_catalog_table_branch(spark):
    spark.createDataFrame(
        [("d9", [5, 6], 2, "u")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).createOrReplaceTempView("toks_view")
    # no '/' in the location => resolved through the catalog, the Iceberg
    # production path (spark.read.table handles DSv2 tables identically)
    out = read_tokens(spark, "toks_view")
    assert out.collect()[0].doc_id == "d9"


def test_time_travel_rejected_for_parquet(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    with pytest.raises(ValueError, match="snapshot lineage"):
        read_tokens(spark, path, snapshot_id=123)


def test_missing_iceberg_runtime_is_actionable(spark):
    # the sandbox has no iceberg-spark-runtime jar; the failure must say
    # how to get one rather than surfacing a raw ClassNotFoundException
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        read_tokens(spark, "db.tokens", fmt="iceberg")


def test_unknown_fmt_rejected_before_read(spark):
    with pytest.raises(ValueError, match="unknown tokens format"):
        read_tokens(spark, "db.tokens", fmt="Iceberg")


def test_non_integral_tokens_rejected(spark):
    from tsc_spark.sources.tokens import canonicalize_tokens

    df = spark.createDataFrame(
        [("a", ["x", "y"])], "doc_id string, tokens array<string>"
    )
    with pytest.raises(ValueError, match="integral array"):
        canonicalize_tokens(df)


def test_table_time_travel_hard_fails_on_non_iceberg(spark):
    # DSv2 reader options are silently DROPPED by non-Iceberg relations;
    # the SQL `FOR VERSION AS OF` path must hard-fail instead of
    # returning current data for a historical query
    spark.createDataFrame(
        [("d1", [1], 1, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).createOrReplaceTempView("toks_tt_view")
    with pytest.raises(Exception, match="(?i)time travel|iceberg"):
        read_tokens(spark, "toks_tt_view", snapshot_id=1)


def test_bare_existing_dir_inference(spark, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    spark.createDataFrame(
        [("d1", [1, 2], 2, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    ).write.parquet(str(tmp_path / "tokens_data"))
    out = read_tokens(spark, str(tmp_path / "tokens_data"))
    assert out.count() == 1
    from tsc_spark.sources.tokens import _infer_fmt

    # a separator-free name that parses as a catalog table reference AND
    # exists locally is AMBIGUOUS — silently preferring the local dir
    # would shadow a same-named catalog table, so inference refuses and
    # the caller disambiguates with fmt=
    with pytest.raises(ValueError, match="ambiguous"):
        _infer_fmt("tokens_data")
    with pytest.raises(ValueError, match="ambiguous"):
        read_tokens(spark, "tokens_data")
    # a name that is NOT a valid table reference still resolves by path
    # (the JVM's cwd differs from the monkeypatched Python cwd, so only
    # the inference — driver-local os.path — is assertable here)
    import shutil

    shutil.copytree(str(tmp_path / "tokens_data"), str(tmp_path / "tok data"))
    assert _infer_fmt("tok data") == "parquet"


def test_conflicting_time_travel_selectors_rejected(spark):
    # picking a winner would silently ignore the others (branch +
    # timestamp reading MAIN's history instead of the branch)
    for kwargs in (
        dict(snapshot_id=1, branch="audit"),
        dict(snapshot_id=1, as_of_timestamp=1_723_900_000),
        dict(branch="audit", as_of_timestamp=1_723_900_000),
    ):
        with pytest.raises(ValueError, match="mutually exclusive"):
            read_tokens(spark, "cat.db.tokens", **kwargs)


def test_branch_name_validated_before_sql_splice(spark):
    # the branch lands inside a single-quoted SQL literal; a quote-bearing
    # name must be rejected, never spliced
    with pytest.raises(ValueError, match="branch"):
        read_tokens(spark, "cat.db.tokens", branch="x' -- ")


def test_as_of_timestamp_converted_to_ms_on_dsv2_path():
    # the public parameter is epoch-seconds everywhere; Iceberg's DSv2
    # reader option is epoch-milliseconds — read_tokens must convert (a
    # unit mismatch silently time-travels to the wrong snapshot: a
    # "future" instant resolves to the latest snapshot)
    captured = {}

    class _Reader:
        def option(self, k, v):
            captured[k] = v
            return self

        def format(self, f):
            captured["format"] = f
            return self

        def load(self, loc):
            raise RuntimeError("stop-after-capture")

    class _FakeSpark:
        read = _Reader()

    with pytest.raises(RuntimeError, match="stop-after-capture"):
        read_tokens(
            _FakeSpark(), "cat.db.tokens", fmt="iceberg",
            as_of_timestamp=1_723_900_000,
        )
    assert captured["as-of-timestamp"] == str(1_723_900_000 * 1000)
    assert captured["format"] == "iceberg"
