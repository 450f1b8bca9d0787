"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator surface (SURVEY.md §2) over the
driver testdata tables; oracle_sql() carries exact DuckDB twins for
every SQL-expressible operator.  The clustering-kernel queries
(cluster_timeline / cluster_tree / query_matches / generate / ...) are
not SQL-expressible: their oracles are fixture SQL — the pure-Python
kernel's output over the same parquet, cached under fixtures/ (see
tsc_spark.oracle_fixtures) — so every query is value-checked.

The north-rule tokens table is derived deterministically from
`documents` with an engine-portable word→token map (see
tsc_spark.operators.text.tokenize_documents) so Spark and DuckDB compute
over identical inputs with no external data.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _ensure_utc(spark: SparkSession) -> None:
    """Pin the session timezone for queries that RENDER timestamps
    (date_format / window boundaries): the DuckDB oracles render the
    stored naive values, so a driver session in a non-UTC zone would
    shift Spark's rendering and red-flag the row.  Set-and-leave —
    DataFrames are lazy, so a save/restore would undo the conf before
    execution.  get_spark() already pins UTC; this covers driver-owned
    sessions."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tsc_spark.operators.text import tokenize_documents

    return tokenize_documents(_docs(spark, sf_dir))


# at-rest file-stream SOURCE directories, one per (sf_dir, variant).
# Only the source parquet is cached: checkpoints, sinks and the
# streaming drain are fresh on every invocation, so each call still
# exercises the full multi-micro-batch path — but the bench's
# best-of-N repeats stop re-measuring the identical source writer.
_STREAM_SRC_CACHE: dict = {}


def _stream_src(sf_dir: str, variant: str, build) -> str:
    """Materialize (once per process) and return the source dir for a
    file-source streaming query.  ``build(src_path)`` writes the parquet
    files; the directory is registered for atexit cleanup.

    Reuse validates the full (name, size) data-file snapshot taken at
    build time, not just ``_SUCCESS`` or bare existence — a tmp reaper
    that removed OR truncated a part file mid-session would otherwise
    shrink the stream's micro-batch structure (or its data) silently."""
    import atexit
    import os
    import shutil
    import tempfile

    def _snapshot(path: str) -> list[tuple[str, int]]:
        return sorted(
            (f, os.path.getsize(os.path.join(path, f)))
            for f in os.listdir(path)
            if f.endswith(".parquet") or f == "_SUCCESS"
        )

    key = (os.path.abspath(sf_dir), variant)
    cached = _STREAM_SRC_CACHE.get(key)
    if cached:
        src, files = cached
        try:
            if _snapshot(src) == files:
                return src
        except OSError:
            pass  # dir vanished — rebuild below
    root = tempfile.mkdtemp(prefix=f"tsc_stream_src_{variant}_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src = f"{root}/src"
    build(src)
    _STREAM_SRC_CACHE[key] = (src, _snapshot(src))
    return src


# ----------------------------------------------------------------------
# shared SQL fragments (DuckDB)
# ----------------------------------------------------------------------
SQL_TOKENS = """
tokens AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_transform(string_split(text, ' '),
                        w -> CAST((length(w)*7 + ascii(substr(w,1,1))) % 24 AS INT)) AS tokens,
         len(string_split(text, ' ')) AS n_tok,
         source
  FROM documents
)"""

SQL_POINTS = """
points AS (
  SELECT doc_id, i AS point_index, tokens[i+1] AS token
  FROM tokens, unnest(generate_series(0, n_tok-1)) AS t(i)
)"""


def _sql_shingles(n: int, src: str = "documents") -> str:
    words = f"string_split(text, ' ')"
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(1, n + 1))
    return f"""
shingles AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS doc_id, {parts} AS shingle
  FROM (SELECT doc_id, {words} AS w FROM {src}) s,
       unnest(generate_series(0, len(w)-{n})) AS t(i)
  WHERE len(w) >= {n}
)"""


def _sql_h32(expr: str, seed: int) -> str:
    return f"CAST(('0x' || substr(md5('{seed}:' || {expr}), 1, 8)) AS BIGINT)"


# ----------------------------------------------------------------------
# query implementations
# ----------------------------------------------------------------------
def q_series_stats(spark, sf_dir):
    from tsc_spark.operators.rollup import series_stats

    return series_stats(_tokens(spark, sf_dir)).select(
        "doc_id", "source", F.col("point_count").cast("long").alias("point_count")
    )


SQL_SERIES_STATS = f"WITH {SQL_TOKENS} SELECT doc_id, source, n_tok AS point_count FROM tokens"


def _rollup_cols(df: DataFrame) -> DataFrame:
    """The rollup oracles' columns, all BIGINT."""
    return df.select(
        "doc_id",
        *[
            F.col(c).cast("long").alias(c)
            for c in ("window_idx", "agg_count", "agg_min", "agg_max", "agg_sum")
        ],
    )


def q_rollup_tier2(spark, sf_dir):
    from tsc_spark.operators.rollup import tiered_rollups

    return _rollup_cols(tiered_rollups(_tokens(spark, sf_dir))[2])


def q_rollup_tier1_streamed(spark, sf_dir):
    """§2.9 streaming evidence: the SAME tier-1 rollup executed through
    Structured Streaming end-to-end.  The tokenized corpus is written as
    several parquet files, drained by the one streaming runner
    (streaming/rollup_stream.run_rollup_stream_with_retention) with
    ``policy={}`` — no retention cut, the plain tier stream — as a
    checkpointed file-source stream in multiple micro-batches
    (maxFilesPerTrigger=2, availableNow) appending to a parquet sink,
    and the materialized sink is returned — compared against the
    identical *batch* DuckDB oracle, proving batch/stream equivalence.
    Two micro-batches (4 files at 2/trigger) are the minimum that
    exercises cross-batch incremental append; more adds only trigger
    overhead.
    Reference analogue: the incremental per-point ingest loop
    (/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:504-517)."""
    return _streamed_tier1(spark, sf_dir, "tsc_stream_q_", {})


def q_retention_streamed(spark, sf_dir):
    """§2.9 retention-per-micro-batch evidence: the streaming ingest →
    tier-1 rollup with the keep-last cut inside it → parquet append
    loop (streaming/rollup_stream.run_rollup_stream_with_retention)
    driven end-to-end, compared to the BATCH sweep oracle
    (SQL_RETENTION_SWEEP).  Every doc's token row — and hence all its
    rollup windows — lands in exactly one micro-batch, and the
    keep-last-N sweep is per doc, so cutting each batch's docs on
    arrival equals the batch-global sweep exactly.  ``max_files=2``
    over 4 source files forces TWO genuine micro-batches, so append
    across batches through the sink's ``_spark_metadata`` log is
    actually exercised (a single availableNow batch would reduce this
    gate to a batch retention_sweep check)."""
    return _streamed_tier1(spark, sf_dir, "tsc_retstream_q_", {1: 4})


def _streamed_tier1(spark, sf_dir, prefix: str, policy: dict[int, int]) -> DataFrame:
    """Drain the shared 4-file token source (cache key 'tokens4') through
    the tier-1 stream under ``policy`` into a fresh sink; its rows."""
    import atexit
    import shutil
    import tempfile

    from tsc_spark.streaming.rollup_stream import run_rollup_stream_with_retention

    src = _stream_src(
        sf_dir,
        "tokens4",
        lambda p: _tokens(spark, sf_dir)
        .select(
            "doc_id",
            F.col("tokens").cast("array<int>").alias("tokens"),
            F.col("n_tok").cast("int").alias("n_tok"),
            "source",
        )
        .repartition(4)
        .write.parquet(p),
    )
    root = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    out, ckpt = f"{root}/out", f"{root}/ckpt"
    run_rollup_stream_with_retention(
        spark, src, out, ckpt, tier=1, policy=policy, max_files=2
    )
    return _rollup_cols(spark.read.parquet(out))


def q_cluster_timeline_streamed(spark, sf_dir):
    """§2.9 STATEFUL-streaming evidence: the incremental clustering kernel
    executed through ``applyInPandasWithState`` — per-doc kernel state in
    Spark's checkpointed state store, token chunks arriving across TWO
    micro-batches (one parquet file per chunk wave, maxFilesPerTrigger=1,
    availableNow; two batches are the cross-batch minimum, matching the
    other streamed gates — more adds only trigger overhead), final
    per-doc timeline compared against the BATCH kernel's fixture oracle
    on the same docs.  This is the closest Spark
    analogue of the reference's per-point permanent ingest loop
    (/root/reference/src/polyphonic/polyphonic_cluster_manager.jl:504-517):
    state survives between arrivals and each arrival extends the forest
    incrementally.  Docs are the deterministic `doc_id % 25 == 0` slice —
    enough series for real evidence, bounded stream-state cost."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql import Window

    from tsc_spark.streaming.stateful import (
        CHUNK_SCHEMA,
        incremental_cluster_stream,
    )

    root = tempfile.mkdtemp(prefix="tsc_statestream_q_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    out, ckpt = f"{root}/out", f"{root}/ckpt"

    n_chunks = 2

    def _build(src_path: str) -> None:
        toks = _tokens(spark, sf_dir).filter(
            F.col("doc_id").cast("int") % 25 == 0
        )
        chunks = toks.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.explode(F.array(*[F.lit(i) for i in range(n_chunks)])).alias("seq"),
            "tokens",
            "n_tok",
        ).select(
            "doc_id",
            F.col("seq").cast("long").alias("seq_no"),
            F.expr(
                f"slice(tokens, seq * CAST(ceil(n_tok / {n_chunks}.0) AS INT) + 1, "
                f"CAST(ceil(n_tok / {n_chunks}.0) AS INT))"
            )
            .cast("array<int>")
            .alias("tokens_chunk"),
        )
        # one parquet file per chunk wave: with maxFilesPerTrigger=1 every
        # doc's state is built incrementally ACROSS micro-batches, which is
        # the cross-batch path this gate exists to prove (one batch would
        # reduce it to the batch cluster_timeline check).  persist() so the
        # documents scan + tokenize runs once, not once per wave.
        chunks = chunks.persist()
        try:
            for i in range(n_chunks):
                chunks.filter(F.col("seq_no") == i).coalesce(1).write.mode(
                    "append"
                ).parquet(src_path)
        finally:
            chunks.unpersist()

    src = _stream_src(sf_dir, "clusterchunks", _build)

    stream = (
        spark.readStream.schema(CHUNK_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # scope the state-store partition count to the 20-doc evidence slice
    # (state partitions = shuffle partitions at first batch; 32 of them
    # is pure per-batch overhead here — production streams keep the
    # session default so state scales with the cluster)
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            incremental_cluster_stream(stream, merge_threshold_ratio=0.3)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)

    # each micro-batch that applied chunks re-emitted the doc's timeline
    # at its then-current length; the answer is the final one (n_points =
    # the doc's full series length)
    emitted = spark.read.parquet(out)
    final = emitted.withColumn(
        "mx", F.max("n_points").over(Window.partitionBy("doc_id"))
    ).filter(F.col("n_points") == F.col("mx"))
    return final.select(
        "doc_id",
        F.col("window_size").cast("long").alias("window_size"),
        "cluster_id",
        _csv_int_arr("indices").alias("indices"),
    )


def _sql_rollup(stride: int) -> str:
    return f"""WITH {SQL_TOKENS}, {SQL_POINTS}
SELECT doc_id,
       (point_index // {stride}) AS window_idx,
       COUNT(token) AS agg_count,
       CAST(MIN(token) AS BIGINT) AS agg_min,
       CAST(MAX(token) AS BIGINT) AS agg_max,
       CAST(SUM(token) AS BIGINT) AS agg_sum
FROM points GROUP BY 1, 2"""


def q_rollup_gapfill(spark, sf_dir):
    """Sparse point stream (every 7th point deleted) → tier-1 gapfill."""
    from tsc_spark.operators.rollup import explode_points, gapfill, rollup_points

    toks = _tokens(spark, sf_dir)
    points = explode_points(toks).filter(F.col("point_index") % 7 != 3)
    # drop whole windows too: delete points 8..31 of every doc
    points = points.filter(~F.col("point_index").between(8, 31))
    filled = gapfill(rollup_points(points, 8, 1), toks, 8, 1)
    return filled.select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        F.col("agg_count").cast("long").alias("agg_count"),
        F.col("agg_min").cast("long").alias("agg_min"),
        F.col("agg_max").cast("long").alias("agg_max"),
        F.col("agg_sum").cast("long").alias("agg_sum"),
        "gapfilled",
    )


SQL_ROLLUP_GAPFILL = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
sparse AS (
  SELECT * FROM points
  WHERE point_index % 7 != 3 AND point_index NOT BETWEEN 8 AND 31
),
agg AS (
  SELECT doc_id, (point_index // 8) AS window_idx,
         COUNT(token) AS agg_count,
         CAST(MIN(token) AS BIGINT) AS agg_min,
         CAST(MAX(token) AS BIGINT) AS agg_max,
         CAST(SUM(token) AS BIGINT) AS agg_sum
  FROM sparse GROUP BY 1, 2
),
grid AS (
  SELECT doc_id, CAST(w AS BIGINT) AS window_idx
  FROM tokens, unnest(generate_series(0, CAST(ceil(n_tok / 8.0) AS BIGINT) - 1)) AS t(w)
  WHERE n_tok > 0
)
SELECT g.doc_id, g.window_idx,
       COALESCE(a.agg_count, 0) AS agg_count,
       a.agg_min, a.agg_max, a.agg_sum,
       (a.agg_count IS NULL) AS gapfilled
FROM grid g LEFT JOIN agg a USING (doc_id, window_idx)"""


def q_rollup_locf(spark, sf_dir):
    """Sparse stream → gap-fill → LOCF carry-forward (tier-1)."""
    from tsc_spark.operators.rollup import explode_points, gapfill, gapfill_locf, rollup_points

    toks = _tokens(spark, sf_dir)
    points = explode_points(toks).filter(~F.col("point_index").between(8, 31))
    filled = gapfill(rollup_points(points, 8, 1), toks, 8, 1)
    return gapfill_locf(filled).select(
        "doc_id",
        F.col("window_idx").cast("long").alias("window_idx"),
        F.col("agg_count").cast("long").alias("agg_count"),
        F.col("agg_min").cast("long").alias("agg_min"),
        F.col("agg_max").cast("long").alias("agg_max"),
        F.col("agg_sum").cast("long").alias("agg_sum"),
        "gapfilled",
    )


SQL_ROLLUP_LOCF = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
sparse AS (SELECT * FROM points WHERE point_index NOT BETWEEN 8 AND 31),
agg AS (
  SELECT doc_id, (point_index // 8) AS window_idx,
         COUNT(token) AS agg_count,
         CAST(MIN(token) AS BIGINT) AS agg_min,
         CAST(MAX(token) AS BIGINT) AS agg_max,
         CAST(SUM(token) AS BIGINT) AS agg_sum
  FROM sparse GROUP BY 1, 2
),
grid AS (
  SELECT doc_id, CAST(w AS BIGINT) AS window_idx
  FROM tokens, unnest(generate_series(0, CAST(ceil(n_tok / 8.0) AS BIGINT) - 1)) AS t(w)
  WHERE n_tok > 0
),
filled AS (
  SELECT g.doc_id, g.window_idx,
         COALESCE(a.agg_count, 0) AS agg_count,
         a.agg_min, a.agg_max, a.agg_sum,
         (a.agg_count IS NULL) AS gapfilled
  FROM grid g LEFT JOIN agg a USING (doc_id, window_idx)
)
SELECT doc_id, window_idx, agg_count,
       last_value(agg_min IGNORE NULLS) OVER w AS agg_min,
       last_value(agg_max IGNORE NULLS) OVER w AS agg_max,
       last_value(agg_sum IGNORE NULLS) OVER w AS agg_sum,
       gapfilled
FROM filled
WINDOW w AS (PARTITION BY doc_id ORDER BY window_idx
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


# canonical CSV rendering of an int array (driver-hashable; DuckDB twin:
# COALESCE(array_to_string(col, ','), '')) — shared with fixture generation
from tsc_spark.functions.canon import csv_int_arr as _csv_int_arr  # noqa: E402


def q_split_phrases(spark, sf_dir):
    from tsc_spark.operators.sessionize import split_phrases

    return split_phrases(_tokens(spark, sf_dir), jump_threshold=12).select(
        "doc_id",
        F.col("phrase_idx").cast("long").alias("phrase_idx"),
        _csv_int_arr("phrase").alias("phrase"),
        F.col("phrase_len").cast("long").alias("phrase_len"),
    )


SQL_SPLIT_PHRASES = f"""WITH {SQL_TOKENS},
bounds AS (
  SELECT doc_id, tokens, n_tok,
         [0] || list_filter(generate_series(1, n_tok - 1),
                            i -> abs(tokens[i+1] - tokens[i]) >= 12) AS starts
  FROM tokens WHERE n_tok > 0
),
cut AS (
  SELECT doc_id, tokens,
         starts || [n_tok] AS bp,
         len(starts) AS n_phr
  FROM bounds
)
SELECT doc_id,
       CAST(p - 1 AS BIGINT) AS phrase_idx,
       COALESCE(array_to_string(tokens[bp[p]+1 : bp[p+1]], ','), '') AS phrase,
       CAST(bp[p+1] - bp[p] AS BIGINT) AS phrase_len
FROM cut, unnest(generate_series(1, n_phr)) AS t(p)"""


def q_contextual_width(spark, sf_dir):
    from tsc_spark.operators.rollup import contextual_width

    return contextual_width(_tokens(spark, sf_dir))


SQL_CONTEXTUAL_WIDTH = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
m AS (SELECT doc_id, AVG(CAST(token AS DOUBLE)) AS data_mean FROM points GROUP BY 1),
halves AS (
  SELECT p.doc_id,
         AVG(CASE WHEN token <= data_mean THEN CAST(token AS DOUBLE) END) AS lower_half_avg,
         AVG(CASE WHEN token >= data_mean THEN CAST(token AS DOUBLE) END) AS upper_half_avg
  FROM points p JOIN m USING (doc_id) GROUP BY 1
)
SELECT m.doc_id, round(data_mean, 6) AS data_mean,
       round(COALESCE(lower_half_avg, 0.0), 6) AS lower_half_avg,
       round(COALESCE(upper_half_avg, 0.0), 6) AS upper_half_avg,
       round(greatest(abs(COALESCE(upper_half_avg,0.0) - COALESCE(lower_half_avg,0.0)), 1.0), 6)
         AS value_width
FROM m JOIN halves USING (doc_id)"""


def q_text_stats(spark, sf_dir):
    """The per-doc text signals — token counts, quality heuristics,
    language, fingerprint, repetition and PII counts — one select over
    one scan of ``documents`` (operators.text.text_stats)."""
    from tsc_spark.operators.text import text_stats

    return text_stats(
        _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string"))
    )


SQL_TOKEN_STATS = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       len(string_split(text, ' ')) AS n_words,
       length(text) AS n_chars,
       greatest(len(string_split(text, ' ')), CAST(ceil(length(text)/4.0) AS BIGINT)) AS n_tokens_est
FROM documents"""


_SQL_STOP = "['the','a','of','and','to','in','is','on','for','with']"

SQL_QUALITY = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(len(list_filter(string_split(text, ' '),
                             w -> list_contains({_SQL_STOP}, lower(w)))) * 1.0
             / greatest(len(string_split(text, ' ')), 1), 6) AS stopword_ratio,
       round((length(text) - len(string_split(text, ' ')) + 1) * 1.0
             / greatest(len(string_split(text, ' ')), 1), 6) AS mean_word_len
FROM documents"""


SQL_LANG_ID = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CASE WHEN len(list_filter(string_split(text, ' '),
                                 w -> list_contains({_SQL_STOP}, lower(w)))) * 1.0
                 / greatest(len(string_split(text, ' ')), 1) >= 0.02
            THEN 'en' ELSE 'unknown' END AS lang
FROM documents"""


SQL_FINGERPRINT = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       substr(md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))), 1, 16) AS fingerprint
FROM documents"""


SQL_REPETITION = """
WITH lines AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         len(string_split(text, chr(10))) AS n_lines,
         round((len(string_split(text, chr(10)))
                - len(list_distinct(string_split(text, chr(10)))))
               * 1.0 / greatest(len(string_split(text, chr(10))), 1), 6) AS dup_line_frac
  FROM documents
),
bg AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, w[i+1] || ' ' || w[i+2] AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) s,
       unnest(generate_series(0, len(w)-2)) AS t(i)
  WHERE len(w) >= 2
),
per AS (SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY 1, 2),
top AS (
  SELECT doc_id, round(MAX(cnt) * 1.0 / SUM(cnt), 6) AS top_bigram_frac
  FROM per GROUP BY 1
)
SELECT l.doc_id, CAST(n_lines AS BIGINT) AS n_lines, dup_line_frac,
       COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac
FROM lines l LEFT JOIN top USING (doc_id)"""


SQL_PII = r"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS url_count,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS email_count
FROM documents"""

SQL_TEXT_STATS = f"""
SELECT doc_id, t.n_words, t.n_chars, t.n_tokens_est,
       q.punct_ratio, q.stopword_ratio, q.mean_word_len, l.lang, f.fingerprint,
       r.n_lines, r.dup_line_frac, r.top_bigram_frac, p.url_count, p.email_count
FROM ({SQL_TOKEN_STATS}) t
JOIN ({SQL_QUALITY}) q USING (doc_id)
JOIN ({SQL_LANG_ID}) l USING (doc_id)
JOIN ({SQL_FINGERPRINT}) f USING (doc_id)
JOIN ({SQL_REPETITION}) r USING (doc_id)
JOIN ({SQL_PII}) p USING (doc_id)"""


def q_kmv_distinct(spark, sf_dir):
    """KMV distinct-shingle estimate per source (deterministic sketch —
    bounded per-group state, engine-portable bit-for-bit)."""
    from tsc_spark.operators.dedup import shingles
    from tsc_spark.operators.sketch import kmv_distinct

    sh = shingles(
        _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string")),
        n=3,
        extra_cols=("source",),  # one scan; no re-read + join for source
    )
    return kmv_distinct(sh, "source", "shingle", k=64)


SQL_KMV = f"""WITH {_sql_shingles(3)},
tagged AS (
  SELECT d.source, s.shingle
  FROM shingles s JOIN documents d ON s.doc_id = CAST(d.doc_id AS VARCHAR)
),
hashed AS (
  SELECT DISTINCT source, {_sql_h32("shingle", 5)} AS h
  FROM (SELECT DISTINCT source, shingle FROM tagged)
),
topk AS (
  SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM hashed
),
agg AS (
  SELECT source, COUNT(*) AS n_in_sketch, MAX(h) AS kth_min
  FROM topk WHERE rn <= 64 GROUP BY 1
)
SELECT source, CAST(n_in_sketch AS BIGINT) AS n_in_sketch,
       CASE WHEN n_in_sketch < 64 THEN CAST(n_in_sketch AS DOUBLE)
            ELSE round(63.0 * 4294967296.0 / kth_min, 1) END AS distinct_estimate
FROM agg"""


def q_stable_sample(spark, sf_dir):
    """Deterministic ~10% doc sample by id-hash threshold (the stable
    eval-holdout selection; same rows on any engine/partitioning)."""
    from tsc_spark.operators.sketch import stable_sample

    docs = _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string"))
    return stable_sample(docs, "doc_id", 0.1).select("doc_id", "source")


# threshold computed identically to operators/sketch.py::stable_sample
# (Python int() truncation) and inlined as a literal, so both engines
# compare against the exact same integer — CAST(0.1*2^32 AS BIGINT) in
# DuckDB would *round* to 429496730 while Python truncates to 429496729.
_STABLE_SAMPLE_THRESHOLD = int(0.1 * 4294967296.0)

SQL_STABLE_SAMPLE = f"""
SELECT CAST(doc_id AS VARCHAR) AS doc_id, source
FROM documents
WHERE {_sql_h32("CAST(doc_id AS VARCHAR)", 17)} < {_STABLE_SAMPLE_THRESHOLD}"""


def q_exact_dups(spark, sf_dir):
    """Exact-dup groups over the corpus PLUS a deterministic duplicated
    copy of docs 0-9 (doc_id suffixed ``_dup``) — the synthetic corpus
    has no natural exact duplicates, so without the injected copies this
    oracle row would hash-match on emptiness and verify nothing."""
    from tsc_spark.operators.dedup import exact_dup_groups

    base = _docs(spark, sf_dir)
    docs = base.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    dups = base.filter(F.col("doc_id") < 10).select(
        F.concat(F.col("doc_id").cast("string"), F.lit("_dup")).alias("doc_id"),
        "text",
    )
    return exact_dup_groups(docs.unionByName(dups))


# whitespace class spelled out on both sides (RE2 \s would also eat \v);
# the embedded control characters are real chars inside the SQL literal
SQL_EXACT_DUPS = """WITH docs2 AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS VARCHAR) || '_dup' AS doc_id, text
  FROM documents WHERE doc_id < 10
)
SELECT md5(lower(regexp_replace(text, '[ \t\n\f\r]+', ' ', 'g'))) AS content_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id
FROM docs2 GROUP BY 1 HAVING COUNT(*) > 1"""


def q_ngram_jaccard(spark, sf_dir):
    from tsc_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string")),
        n=3,
        threshold=0.12,
    )


# mirrors dedup.ngram_jaccard_pairs(max_doc_freq=1000): stop-shingles with
# doc-frequency above the cap are dropped before both sizes and intersections
SQL_NGRAM_JACCARD = f"""WITH {_sql_shingles(3)},
kept AS (
  SELECT doc_id, shingle FROM shingles
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) >= 0.12"""


def q_minhash_signatures(spark, sf_dir):
    from tsc_spark.operators.dedup import minhash_signatures

    return minhash_signatures(
        _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string")),
        n=3,
        k=8,
    )


SQL_MINHASH = f"""WITH {_sql_shingles(3)}
SELECT doc_id,
       {", ".join(f"MIN({_sql_h32('shingle', i)}) AS mh{i}" for i in range(8))}
FROM shingles GROUP BY doc_id"""


def q_simhash(spark, sf_dir):
    from tsc_spark.operators.dedup import simhash

    return simhash(
        _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string")),
        bits=16,
    )


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN SUM(CASE WHEN ({_sql_h32('word', 99)} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j in range(16)
)

SQL_SIMHASH = f"""WITH words AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, w AS word
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
)
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
FROM words GROUP BY doc_id"""


def q_cosine_topk(spark, sf_dir):
    from tsc_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return cosine_topk(emb.filter(F.col("vec_id") != 0), [float(v) for v in qv], k=10)


SQL_COSINE_TOPK = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         round(
           (SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
            FROM unnest(generate_series(1, len(e.embedding))) AS t(i))
           / (sqrt((SELECT SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))
                    FROM unnest(generate_series(1, len(e.embedding))) AS t(i)))
              * sqrt((SELECT SUM(CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))
                      FROM unnest(generate_series(1, len(q.qe))) AS t(i)))),
           6) AS cosine
  FROM embeddings e, q WHERE e.vec_id != 0
)
SELECT vec_id, cosine FROM scored ORDER BY cosine DESC, vec_id LIMIT 10"""


def q_sessionize(spark, sf_dir):
    from tsc_spark.operators.sessionize import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_seconds=3600).select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("session_idx").cast("long").alias("session_idx"),
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


SQL_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - lag(CAST(floor(epoch(ts)) AS BIGINT))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 3600
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
with_sid AS (
  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
       round(SUM(value), 6) AS total_value
FROM with_sid GROUP BY 1, 2"""


def q_asof_join(spark, sf_dir):
    """As-of join: each click event picks up the latest at-or-before
    view event of the same user (operators.asof — union + one keyed
    sort + LOCF, never a range cross product)."""
    from tsc_spark.operators.asof import asof_join

    _ensure_utc(spark)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # right side made unique per (user, ts) so tie order is well-defined
    # on both engines (ASOF semantics assume unique right timestamps)
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("view_value"))
    )
    out = asof_join(clicks, views, on="user_id", time_col="ts")
    return out.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.round("value", 6).alias("click_value"),
        F.round("view_value_asof", 6).alias("view_value_asof"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss").alias("view_ts_asof"),
    )


SQL_ASOF = """
WITH clicks AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, arg_max(value, event_id) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
)
SELECT c.event_id, c.user_id,
       round(c.value, 6) AS click_value,
       round(v.view_value, 6) AS view_value_asof,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts_asof
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts"""


def q_range_join(spark, sf_dir):
    """Range join: (click, error) pairs of the same user within 300 s
    (operators.asof.range_join — interval-binned equi-join, bounded
    fan-out, never a cross product)."""
    from tsc_spark.operators.asof import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", "ts"
    )
    out = range_join(clicks, errors, on="user_id", time_col="ts", tolerance_seconds=300)
    return out.select(
        F.col("click_id").cast("long").alias("click_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("error_id_r").cast("long").alias("error_id"),
    )


SQL_RANGE_JOIN = """
SELECT c.event_id AS click_id, c.user_id, e.event_id AS error_id
FROM events c JOIN events e
  ON c.user_id = e.user_id
 AND abs(epoch(c.ts) - epoch(e.ts)) <= 300
WHERE c.event_type = 'click' AND e.event_type = 'error'"""


def q_collapse_max(spark, sf_dir):
    from tsc_spark.operators.sessionize import collapse_max_value

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return collapse_max_value(ev).select(
        F.col("user_id").cast("long").alias("user_id"),
        "event_type",
        F.col("top_event_id").cast("long").alias("top_event_id"),
        "max_value",
    )


SQL_COLLAPSE_MAX = """
SELECT user_id, event_type, event_id AS top_event_id, round(value, 6) AS max_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1"""


SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n_events, round(SUM(value), 6) AS total_value
FROM events GROUP BY 1, 2"""


def q_events_hourly_streamed(spark, sf_dir):
    """§2.9 stateful-streaming evidence: the watermarked tumbling-window
    event aggregation (streaming/rollup_stream.windowed_event_counts)
    executed through Structured Streaming end-to-end and compared to the
    identical BATCH oracle (SQL_EVENTS_HOURLY).  The events table is
    re-written as several parquet files and drained as a file-source
    stream in multiple micro-batches (maxFilesPerTrigger=2,
    availableNow) into a complete-mode memory sink — complete mode emits
    every window, so the final table must equal the batch aggregation
    bit-for-bit at 6-decimal rounding regardless of micro-batch merge
    order."""
    from tsc_spark.streaming.rollup_stream import windowed_event_counts

    _ensure_utc(spark)
    # 4 files / 2-file triggers = two genuine micro-batches — enough to
    # prove cross-batch state merging without paying 4+ trigger rounds
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = _stream_src(
        sf_dir, "events4", lambda p: ev.repartition(4).write.parquet(p)
    )

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    # one fixed memory-sink name, dropped before each run: a per-call
    # unique name would pin every prior invocation's complete-mode
    # result table in driver memory for the session lifetime (bench
    # best-of-3 + repeat-invocation tests = unbounded growth).  The
    # prior stream has always terminated (availableNow+await), and the
    # returned DataFrame is consumed before any re-invocation.
    name = "tsc_events_hourly_streamed"
    spark.catalog.dropTempView(name)
    # scope the state-store partition count to the small hourly-window
    # state (same rationale as q_cluster_timeline_streamed: state
    # partitions = shuffle partitions at first batch; 32 of them is pure
    # per-micro-batch task overhead for a few-thousand-row aggregation —
    # production streams keep the session default so state scales out)
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)

    # materialize the complete-mode result to a per-call parquet dir and
    # return a read of THAT: the memory-sink view is re-created by the
    # next invocation, so a lazy DataFrame bound to it would silently
    # read the newer run's data (e.g. a different sf_dir) if held across
    # calls — the returned frame must be immutable
    import atexit
    import shutil
    import tempfile

    snap = tempfile.mkdtemp(prefix="tsc_events_hourly_snap_")
    atexit.register(shutil.rmtree, snap, ignore_errors=True)
    spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    ).write.mode("overwrite").parquet(snap)
    return spark.read.parquet(snap)


def q_recency_weights(spark, sf_dir):
    """Recency curve over rollup windows (reference ...pcm.jl:530-536,
    r=0.5 → span 8): w = 0.5 + 0.5*exp(-age/8)."""
    from tsc_spark.operators.rollup import tiered_rollups

    t1 = tiered_rollups(_tokens(spark, sf_dir))[1]
    w = F.round(
        F.lit(0.5) + F.lit(0.5) * F.exp(-(F.col("max_w") - F.col("window_idx")) / F.lit(8.0)),
        6,
    )
    from pyspark.sql import Window

    win = Window.partitionBy("doc_id")
    return (
        t1.withColumn("max_w", F.max("window_idx").over(win))
        .select(
            "doc_id",
            F.col("window_idx").cast("long").alias("window_idx"),
            w.alias("recency_weight"),
        )
    )


SQL_RECENCY = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
agg AS (
  SELECT doc_id, (point_index // 8) AS window_idx
  FROM points GROUP BY 1, 2
)
SELECT doc_id, window_idx,
       round(0.5 + 0.5 * exp(-(MAX(window_idx) OVER (PARTITION BY doc_id) - window_idx) / 8.0), 6)
         AS recency_weight
FROM agg"""


SQL_RETENTION_SWEEP = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
agg AS (
  SELECT doc_id, (point_index // 8) AS window_idx,
         COUNT(token) AS agg_count,
         CAST(MIN(token) AS BIGINT) AS agg_min,
         CAST(MAX(token) AS BIGINT) AS agg_max,
         CAST(SUM(token) AS BIGINT) AS agg_sum
  FROM points GROUP BY 1, 2
)
SELECT doc_id, window_idx, agg_count, agg_min, agg_max, agg_sum
FROM (SELECT *, MAX(window_idx) OVER (PARTITION BY doc_id) AS max_w FROM agg)
WHERE window_idx >= max_w - 4 + 1"""


def q_retention_plan(spark, sf_dir):
    """Segment-level sweep plan: drop (manifest-only) / keep / rewrite."""
    from tsc_spark.operators.retention import retention_plan
    from tsc_spark.operators.rollup import tiered_rollups

    t1 = tiered_rollups(_tokens(spark, sf_dir))[1]
    return retention_plan(t1, {1: 6}, segment_size=4).select(
        F.col("tier").cast("long").alias("tier"),
        "doc_id",
        F.col("segment").cast("long").alias("segment"),
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_expired").cast("long").alias("n_expired"),
        "action",
    )


SQL_RETENTION_PLAN = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
agg AS (
  SELECT doc_id, (point_index // 8) AS window_idx
  FROM points GROUP BY 1, 2
),
flagged AS (
  SELECT doc_id, window_idx,
         (window_idx < MAX(window_idx) OVER (PARTITION BY doc_id) - 6 + 1) AS expired
  FROM agg
),
seg AS (
  SELECT 1 AS tier, doc_id, (window_idx // 4) AS segment,
         COUNT(*) AS n_windows,
         CAST(SUM(CASE WHEN expired THEN 1 ELSE 0 END) AS BIGINT) AS n_expired
  FROM flagged GROUP BY 2, 3
)
SELECT CAST(tier AS BIGINT) AS tier, doc_id, segment, n_windows, n_expired,
       CASE WHEN n_expired = 0 THEN 'keep'
            WHEN n_expired = n_windows THEN 'drop'
            ELSE 'rewrite' END AS action
FROM seg"""


def q_window_matches(spark, sf_dir):
    from tsc_spark.operators.matching import exact_window_matches, filter_contained_relational

    m = exact_window_matches(_tokens(spark, sf_dir), window_sizes=(3, 4))
    return filter_contained_relational(m).select(
        "doc_id",
        F.col("q_start").cast("long").alias("q_start"),
        F.col("db_start").cast("long").alias("db_start"),
        F.col("window_size").cast("long").alias("window_size"),
    )


def _sql_pos_shingles(n: int) -> str:
    parts = " || '_' || ".join(f"tokens[i+{j}]" for j in range(1, n + 1))
    return f"""
  SELECT doc_id, i AS pos, {parts} AS win
  FROM tokens, unnest(generate_series(0, n_tok-{n})) AS t(i)
  WHERE n_tok >= {n}"""


SQL_WINDOW_MATCHES = f"""WITH {SQL_TOKENS},
sh3 AS ({_sql_pos_shingles(3)}),
sh4 AS ({_sql_pos_shingles(4)}),
matches AS (
  SELECT a.doc_id, a.pos AS q_start, b.pos AS db_start, 3 AS window_size
  FROM sh3 a JOIN sh3 b ON a.doc_id = b.doc_id AND a.win = b.win AND a.pos < b.pos
  UNION ALL
  SELECT a.doc_id, a.pos AS q_start, b.pos AS db_start, 4 AS window_size
  FROM sh4 a JOIN sh4 b ON a.doc_id = b.doc_id AND a.win = b.win AND a.pos < b.pos
)
SELECT CAST(doc_id AS VARCHAR) AS doc_id,
       CAST(q_start AS BIGINT) AS q_start,
       CAST(db_start AS BIGINT) AS db_start,
       CAST(window_size AS BIGINT) AS window_size
FROM matches m
WHERE NOT EXISTS (
  SELECT 1 FROM matches o
  WHERE o.doc_id = m.doc_id
    AND o.q_start <= m.q_start AND o.db_start <= m.db_start
    AND m.q_start + m.window_size <= o.q_start + o.window_size
    AND m.db_start + m.window_size <= o.db_start + o.window_size
    AND (o.window_size > m.window_size OR o.q_start != m.q_start
         OR o.db_start != m.db_start)
)"""


def q_octave_matches(spark, sf_dir):
    from tsc_spark.operators.matching import octave_invariant_matches

    return octave_invariant_matches(_tokens(spark, sf_dir), window_size=4).select(
        "doc_id",
        F.col("q_start").cast("long").alias("q_start"),
        F.col("db_start").cast("long").alias("db_start"),
        F.col("window_size").cast("long").alias("window_size"),
    )


SQL_OCTAVE_MATCHES = f"""WITH {SQL_TOKENS},
sh AS (
  SELECT doc_id, i AS pos,
         {" || '_' || ".join(f"CAST(((tokens[i+{j}] % 12) + 12) % 12 AS VARCHAR)" for j in range(1, 5))} AS key
  FROM tokens, unnest(generate_series(0, n_tok-4)) AS t(i)
  WHERE n_tok >= 4
)
SELECT a.doc_id, CAST(a.pos AS BIGINT) AS q_start, CAST(b.pos AS BIGINT) AS db_start,
       CAST(4 AS BIGINT) AS window_size
FROM sh a JOIN sh b ON a.doc_id = b.doc_id AND a.key = b.key AND a.pos < b.pos"""


def q_codec_roundtrip(spark, sf_dir):
    """Delta-of-delta+varint codec round-trip over the derived corpus.

    The oracle can't run the codec; it verifies the invariant surface:
    every doc present, original n_tok, roundtrip_ok = true."""
    from tsc_spark.functions.codec_udfs import decode_tokens_udf, encode_tokens_udf

    t = _tokens(spark, sf_dir)
    return t.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tok"),
        (
            decode_tokens_udf(encode_tokens_udf("tokens")) == F.col("tokens")
        ).alias("roundtrip_ok"),
    )


SQL_CODEC_ROUNDTRIP = f"""WITH {SQL_TOKENS}
SELECT doc_id, n_tok, TRUE AS roundtrip_ok FROM tokens"""


def q_adjacent_roughness(spark, sf_dir):
    from tsc_spark.functions.roughness import adjacent_roughness

    return adjacent_roughness(_tokens(spark, sf_dir))


SQL_ROUGHNESS = f"""WITH {SQL_TOKENS},
freqs AS (
  SELECT doc_id, n_tok,
         list_transform(tokens,
                        t -> 440.0 * pow(2.0, (CAST(t AS DOUBLE) + 48 - 69) / 12.0)) AS f
  FROM tokens
)
SELECT doc_id,
       round(CASE WHEN n_tok >= 2 THEN (
         SELECT COALESCE(SUM(
           exp(-3.5 * (0.24 / (0.0207 * least(f[i], f[i+1]) + 18.96))
                    * (greatest(f[i], f[i+1]) - least(f[i], f[i+1])))
           - exp(-5.75 * (0.24 / (0.0207 * least(f[i], f[i+1]) + 18.96))
                      * (greatest(f[i], f[i+1]) - least(f[i], f[i+1])))), 0.0)
         FROM unnest(generate_series(1, n_tok - 1)) AS t(i)
       ) ELSE 0.0 END, 6) AS roughness,
       n_tok AS n_pairs_plus_one
FROM freqs"""


def q_chord_roughness(spark, sf_dir):
    """Full harmonic-stack chord roughness (A16/F10/F11 surface) over a
    chords view: first 3 tokens lifted to MIDI, vol 1."""
    from tsc_spark.functions.roughness import chord_roughness

    t = _tokens(spark, sf_dir)
    chords = t.select(
        "doc_id",
        F.transform(F.slice("tokens", 1, 3), lambda x: (x + F.lit(48)).cast("int")).alias(
            "notes"
        ),
        F.lit(1.0).alias("vol"),
    )
    return chord_roughness(chords)


SQL_CHORD_ROUGHNESS = f"""WITH {SQL_TOKENS},
chords AS (
  SELECT doc_id, list_transform(tokens[1:3], x -> x + 48) AS notes FROM tokens
),
parts AS (
  SELECT doc_id,
         440.0 * pow(2.0, (CAST(note AS DOUBLE) - 69.0) / 12.0) * p AS f,
         (1.0 / len(notes)) * pow(0.88, p) AS a
  FROM chords, unnest(notes) AS t(note), unnest(generate_series(1, 8)) AS g(p)
  WHERE len(notes) >= 2 AND (1.0 / len(notes)) > 1e-6
    AND (1.0 / len(notes)) * pow(0.88, p) >= 1e-6
),
pair_sums AS (
  SELECT a.doc_id,
         SUM((a.a * b.a) * (
           exp(-3.5 * ((0.24 / (0.0207 * a.f + 18.96)) * (b.f - a.f)))
           - exp(-5.75 * ((0.24 / (0.0207 * a.f + 18.96)) * (b.f - a.f)))
         )) AS raw
  FROM parts a JOIN parts b ON a.doc_id = b.doc_id AND a.f < b.f
  GROUP BY 1
)
SELECT c.doc_id, round(COALESCE(raw, 0.0), 6) AS roughness,
       CAST(len(notes) AS BIGINT) AS n_notes
FROM chords c LEFT JOIN pair_sums p ON c.doc_id = p.doc_id"""


def q_normalize_combine(spark, sf_dir):
    """End-to-end F5+F6: reliability-weighted combined complexity score
    per rollup window (reference controller:2095-2156), with the window
    sum's min-max ``norm_score`` and its ``reliability`` weight."""
    from tsc_spark.operators.rollup import combined_window_scores, tiered_rollups

    t1 = tiered_rollups(_tokens(spark, sf_dir))[1]
    return combined_window_scores(t1)


SQL_NORMALIZE_COMBINE = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
agg AS (
  SELECT doc_id, (point_index // 8) AS window_idx,
         CAST(COUNT(token) AS DOUBLE) AS agg_count,
         CAST(MIN(token) AS DOUBLE) AS agg_min,
         CAST(MAX(token) AS DOUBLE) AS agg_max,
         CAST(SUM(token) AS DOUBLE) AS agg_sum
  FROM points GROUP BY 1, 2
),
st AS (
  SELECT *,
         MIN(agg_sum) OVER w AS d_min, MAX(agg_sum) OVER w AS d_max,
         COUNT(DISTINCT agg_sum) OVER w AS d_n,
         MIN(agg_count) OVER w AS q_min, MAX(agg_count) OVER w AS q_max,
         COUNT(DISTINCT agg_count) OVER w AS q_n,
         MIN(agg_max) OVER w AS c_min, MAX(agg_max) OVER w AS c_max,
         COUNT(DISTINCT agg_max) OVER w AS c_n,
         MIN(agg_min) OVER w AS u_min, MAX(agg_min) OVER w AS u_max,
         COUNT(DISTINCT agg_min) OVER w AS u_n
  FROM agg WINDOW w AS (PARTITION BY doc_id)
),
scored AS (
  -- every literal is ::DOUBLE: DuckDB parses bare 0.2 as DECIMAL and
  -- would fold the reliability sum to the EXACT decimal 2.4, while
  -- Spark float-accumulates to 2.4000000000000004 — a 1-ulp divergence
  -- that flipped a round(x, 6) boundary at sf0.1 (doc 4396 window 7)
  SELECT doc_id, window_idx,
    round(CASE WHEN d_max > d_min THEN (agg_sum - d_min) / (d_max - d_min) ELSE 0.5::DOUBLE END, 6)
      AS norm_score,
    CASE WHEN d_n <= 1 THEN 0.0::DOUBLE WHEN d_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END AS reliability,
    (CASE WHEN d_max > d_min THEN (agg_sum - d_min) / (d_max - d_min) ELSE 0.5::DOUBLE END)
      * (CASE WHEN d_n <= 1 THEN 0.0::DOUBLE WHEN d_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END) AS d_s,
    (1.0::DOUBLE - CASE WHEN q_max > q_min THEN (agg_count - q_min) / (q_max - q_min) ELSE 0.5::DOUBLE END)
      * (CASE WHEN q_n <= 1 THEN 0.0::DOUBLE WHEN q_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END) AS q_s,
    (CASE WHEN c_max > c_min THEN (agg_max - c_min) / (c_max - c_min) ELSE 0.5::DOUBLE END)
      * (CASE WHEN c_n <= 1 THEN 0.0::DOUBLE WHEN c_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END) AS c_s,
    (1.0::DOUBLE - CASE WHEN u_max > u_min THEN (agg_min - u_min) / (u_max - u_min) ELSE 0.5::DOUBLE END)
      * (CASE WHEN u_n <= 1 THEN 0.0::DOUBLE WHEN u_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END) AS u_s,
    (CASE WHEN d_n <= 1 THEN 0.0::DOUBLE WHEN d_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END)
      + (CASE WHEN q_n <= 1 THEN 0.0::DOUBLE WHEN q_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END)
      + (CASE WHEN c_n <= 1 THEN 0.0::DOUBLE WHEN c_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END)
      + (CASE WHEN u_n <= 1 THEN 0.0::DOUBLE WHEN u_n = 2 THEN 0.2::DOUBLE ELSE 1.0::DOUBLE END) AS denom
  FROM st
)
SELECT doc_id, window_idx, norm_score, reliability,
       round(CASE WHEN denom > 0.0 THEN (d_s + q_s + c_s + u_s) / denom ELSE 0.0 END, 6)
         AS combined_score
FROM scored"""


def q_stm_interference(spark, sf_dir):
    """STM roughness trace (A13/A17/W5): dyad events per doc replayed
    through the short-term-memory dissonance manager."""
    from tsc_spark.operators.matching import stm_interference_events

    return stm_interference_events(_tokens(spark, sf_dir)).select(
        "doc_id",
        F.col("step").cast("long").alias("step"),
        "d_current",
        "interference",
    )


def q_near_dup_embeddings(spark, sf_dir):
    """Embedding-cosine near-dup pairs: LSH-bucketed self-join + exact
    verify.  Threshold 0.3 — the synthetic corpus has no true near-dups
    (max pairwise cosine ≈ 0.51), so the gate is lowered to exercise the
    bucket-join + verify path end-to-end.

    NOTE: n_planes is derived from the live corpus count (adaptive), and
    the oracle derives it identically from the corpus at the oracle sf
    dir (TSC_ORACLE_SF_DIR, driver default sf0.01) — like every fixture
    oracle, the comparison is only valid when query sf == oracle sf."""
    from tsc_spark.operators.similarity import near_dup_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return near_dup_embeddings(
        emb.filter(F.col("vec_id") != 0), dim=64, threshold=0.3
    ).select(
        F.col("vec_a").cast("long").alias("vec_a"),
        F.col("vec_b").cast("long").alias("vec_b"),
        "cosine",
    )


def q_media_stats(spark, sf_dir):
    from tsc_spark.operators.multimodal import media_from_documents, media_stats

    return media_stats(media_from_documents(_docs(spark, sf_dir))).select(
        "kind",
        F.col("n_media").cast("long").alias("n_media"),
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.col("max_width").cast("long").alias("max_width"),
        F.col("max_height").cast("long").alias("max_height"),
        F.col("total_duration_ms").cast("long").alias("total_duration_ms"),
    )


SQL_MEDIA = """
WITH media AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + (doc_id % 8) * 32 END AS width,
         CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 64 + (doc_id % 4) * 32 END AS height,
         CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1000 * (1 + doc_id % 30) END AS duration_ms,
         octet_length(encode(text)) AS payload_bytes
  FROM documents
)
SELECT kind, COUNT(*) AS n_media, CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes,
       CAST(MAX(width) AS BIGINT) AS max_width, CAST(MAX(height) AS BIGINT) AS max_height,
       CAST(SUM(duration_ms) AS BIGINT) AS total_duration_ms
FROM media GROUP BY kind"""


def q_video_frames(spark, sf_dir):
    from tsc_spark.operators.multimodal import media_from_documents, sample_video_frames

    return sample_video_frames(media_from_documents(_docs(spark, sf_dir)), every_ms=5000).select(
        "doc_id", "media_id", F.col("frame_ms").cast("long").alias("frame_ms")
    )


SQL_VIDEO_FRAMES = """
WITH vids AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         'media_' || CAST(doc_id AS VARCHAR) AS media_id,
         1000 * (1 + doc_id % 30) AS duration_ms
  FROM documents WHERE doc_id % 3 = 2
)
SELECT doc_id, media_id, CAST(f AS BIGINT) AS frame_ms
FROM vids, unnest(generate_series(0, greatest(duration_ms - 1, 0), 5000)) AS t(f)"""


def q_image_features(spark, sf_dir):
    from tsc_spark.operators.multimodal import (
        extract_image_features,
        fake_image_decode,
        media_from_documents,
    )

    from tsc_spark.functions.canon import fmt_double_arr

    media = media_from_documents(_docs(spark, sf_dir))
    return extract_image_features(media, decode_fn=fake_image_decode).select(
        "doc_id", "media_id", fmt_double_arr("features").alias("features")
    )


# --- kernel queries (exact equality enforced by the in-repo pytest
# goldens AND by checked-in fixture oracles — VALUES twins generated by
# the pure-Python kernel, see tsc_spark/oracle_fixtures.py) ---
def q_cluster_timeline(spark, sf_dir):
    from tsc_spark.operators.clustering import cluster_timeline

    return cluster_timeline(_tokens(spark, sf_dir), merge_threshold_ratio=0.3).select(
        "doc_id",
        F.col("window_size").cast("long").alias("window_size"),
        "cluster_id",
        _csv_int_arr("indices").alias("indices"),
    )


def q_cluster_tree(spark, sf_dir):
    from tsc_spark.functions.canon import fmt_double_arr
    from tsc_spark.operators.clustering import cluster_tree

    return cluster_tree(_tokens(spark, sf_dir), merge_threshold_ratio=0.3).select(
        "doc_id",
        _csv_int_arr("path").alias("path"),
        _csv_int_arr("si").alias("si"),
        fmt_double_arr("rep").alias("rep"),
    )


def q_cluster_timeline_poly(spark, sf_dir):
    """Polyphonic clustering over a chords view of the corpus: every
    even position is a dyad (token + its major third mod 24)."""
    from tsc_spark.operators.clustering import cluster_timeline_poly

    t = _tokens(spark, sf_dir)
    chords = t.select(
        "doc_id",
        F.expr(
            "transform(tokens, (x, i) -> IF(i % 2 = 0, "
            "array(CAST(x AS DOUBLE), CAST((x + 4) % 24 AS DOUBLE)), "
            "array(CAST(x AS DOUBLE))))"
        ).alias("chords"),
    )
    return cluster_timeline_poly(chords, merge_threshold_ratio=0.3).select(
        "doc_id",
        F.col("window_size").cast("long").alias("window_size"),
        "cluster_id",
        _csv_int_arr("indices").alias("indices"),
    )


def q_query_matches(spark, sf_dir):
    from tsc_spark.operators.matching import query_matches

    # reference warmup query series (config/warmup_actions.json)
    return query_matches(spark, _tokens(spark, sf_dir), QUERY_TOKENS).select(
        "doc_id",
        F.col("q_start").cast("long").alias("q_start"),
        F.col("db_start").cast("long").alias("db_start"),
        F.col("window_size").cast("long").alias("window_size"),
    )


def q_match_scores(spark, sf_dir):
    from tsc_spark.operators.matching import match_scores, query_matches

    m = query_matches(spark, _tokens(spark, sf_dir), QUERY_TOKENS)
    return match_scores(m).select("doc_id", _csv_int_arr("score").alias("score"))


def q_note_vol_matches(spark, sf_dir):
    """Octave-invariant note+vol query over a notevol view of the tokens
    corpus (notes = token+48 lifted to MIDI range, vols quantized)."""
    from tsc_spark.operators.matching import note_vol_query_matches

    t = _tokens(spark, sf_dir)
    nv = t.select(
        "doc_id",
        F.transform("tokens", lambda x: (x + F.lit(48)).cast("double")).alias("notes"),
        F.transform("tokens", lambda x: (F.pmod(x * 7, F.lit(16)) / F.lit(15.0))).alias(
            "vols"
        ),
    )
    # query = opening motif of the first doc, lifted one octave — its
    # source doc is then an exact octave-invariant match of itself
    first = (
        nv.filter(F.size("notes") >= 3)
        .orderBy("doc_id")
        .select(F.slice("notes", 1, 3).alias("n"), F.slice("vols", 1, 3).alias("v"))
        .limit(1)
        .collect()[0]
    )
    query_points = [[float(n) + 12.0, float(v)] for n, v in zip(first["n"], first["v"])]
    return note_vol_query_matches(
        spark, nv, query_points, merge_threshold=0.0, min_match_window=3
    ).select(
        "doc_id",
        F.col("q_start").cast("long").alias("q_start"),
        F.col("db_start").cast("long").alias("db_start"),
        F.col("window_size").cast("long").alias("window_size"),
    )


# single-sourced from oracle_fixtures so the Spark query and its fixture
# oracle can never drift apart
from tsc_spark.oracle_fixtures import GENERATE_REQUESTS, QUERY_TOKENS  # noqa: E402


def q_generate(spark, sf_dir):
    """Complexity-guided generation (reference generate warmup payload),
    distributed: requests DataFrame → mapInPandas(generate) so 10k
    requests parallelize instead of looping on the driver."""
    from tsc_spark.operators.generate import generate_tokens_distributed

    return generate_tokens_distributed(spark, GENERATE_REQUESTS).select(
        "request", _csv_int_arr("series").alias("series")
    )


def q_generate_poly(spark, sf_dir):
    """Polyphonic multi-stream generation (reference controller
    :2761-4600 + multi_stream_manager.jl): stream pool lifecycle, area
    bands, register windows, chord_range search, STM dissonance —
    distributed one request per executor task."""
    from tsc_spark.operators.generate import generate_polyphonic_distributed
    from tsc_spark.oracle_fixtures import GENERATE_POLY_REQUESTS

    df = generate_polyphonic_distributed(spark, GENERATE_POLY_REQUESTS)
    return df.select(
        "request",
        F.col("step").cast("long").alias("step"),
        F.col("stream").cast("long").alias("stream"),
        _csv_int_arr("notes").alias("notes"),
        "vol",
        "brightness",
        "noise",
        "harmonicity",
        "attack",
        "decay_sustain",
        "release",
        F.col("chord_range").cast("long").alias("chord_range"),
        "density",
        "sustain",
        "legato",
        "generated",
    )


def q_ann_lsh(spark, sf_dir):
    from tsc_spark.operators.similarity import ann_topk_lsh

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    dim = len(qv)
    return ann_topk_lsh(
        emb.filter(F.col("vec_id") != 0), [float(v) for v in qv], dim, k=10
    )


def q_ann_ivf(spark, sf_dir):
    from tsc_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    return ivf_topk(
        emb.filter(F.col("vec_id") != 0), [float(v) for v in qv], dim=len(qv), k=10
    )


def q_lsh_dedup_pairs(spark, sf_dir):
    from tsc_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        _docs(spark, sf_dir).withColumn("doc_id", F.col("doc_id").cast("string")),
        n=3,
        k=8,
        bands=4,
    )


SQL_LSH_DEDUP = f"""WITH {_sql_shingles(3)},
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN({_sql_h32('shingle', i)}) AS mh{i}" for i in range(8))}
  FROM shingles GROUP BY doc_id
),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, md5(CAST(mh{2 * b} AS VARCHAR) || '_' || CAST(mh{2 * b + 1} AS VARCHAR)) AS bucket FROM sig" for b in range(4))}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a
JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id"""


def q_decontaminate(spark, sf_dir):
    """Eval decontamination: corpus docs sharing an exact 5-gram with a
    'benchmark' set.  The benchmark is built from exact 15-word
    substrings (words 11-25) of docs 0-19 — the eval-set stand-in is a
    verbatim excerpt of corpus text, so contamination is GUARANTEED
    (each source doc overlaps its own excerpt) and the oracle row
    verifies values, never emptiness."""
    from tsc_spark.operators.dedup import contamination_flags

    base = _docs(spark, sf_dir)
    w = F.split(F.col("text"), " ")
    bench = base.filter((F.col("doc_id") < 20) & (F.size(w) >= 25)).select(
        F.concat(F.lit("b"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.array_join(F.slice(w, 11, 15), " ").alias("text"),
    )
    corpus = base.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return contamination_flags(corpus, bench, n=5).select(
        "doc_id",
        F.col("n_overlapping_ngrams").cast("long").alias("n_overlapping_ngrams"),
        F.array_join("bench_doc_ids", ",").alias("bench_doc_ids"),
    )


# Spark slice(w, 11, 15) = elements 11..25 (1-based, length 15);
# DuckDB list_slice(w, 11, 25) = the same inclusive element range
SQL_DECONTAMINATE = f"""WITH bench AS (
  SELECT 'b' || CAST(doc_id AS VARCHAR) AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 11, 25), ' ') AS text
  FROM documents
  WHERE doc_id < 20 AND len(string_split(text, ' ')) >= 25
),
{_sql_shingles(5)},
bench_sh AS (
  SELECT DISTINCT doc_id AS bench_doc_id,
         {" || ' ' || ".join(f"w[i+{j}]" for j in range(1, 6))} AS shingle
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM bench) s,
       unnest(generate_series(0, len(w)-5)) AS t(i)
  WHERE len(w) >= 5
)
SELECT s.doc_id,
       COUNT(DISTINCT s.shingle) AS n_overlapping_ngrams,
       array_to_string(list_sort(list_distinct(list(b.bench_doc_id))), ',') AS bench_doc_ids
FROM shingles s JOIN bench_sh b ON s.shingle = b.shingle
GROUP BY 1"""


def q_dedup_groups(spark, sf_dir):
    """Near-dup group resolution: LSH candidate pairs → connected
    components → canonical keep-doc per group (the dedup decision a
    training pipeline applies after pairing).  At gate scale the pair
    graph is small enough for dedup_components' driver-side finish; its
    distributed pointer-jump loop is checked against the same answer in
    tests/test_similarity.py."""
    from tsc_spark.operators.dedup import dedup_components

    return dedup_components(q_lsh_dedup_pairs(spark, sf_dir))


SQL_DEDUP_GROUPS = f"""WITH RECURSIVE {_sql_shingles(3)},
sig AS (
  SELECT doc_id,
         {", ".join(f"MIN({_sql_h32('shingle', i)}) AS mh{i}" for i in range(8))}
  FROM shingles GROUP BY doc_id
),
banded AS (
  {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, md5(CAST(mh{2 * b} AS VARCHAR) || '_' || CAST(mh{2 * b + 1} AS VARCHAR)) AS bucket FROM sig" for b in range(4))}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a
  JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(src, node) AS (
  SELECT src, src FROM (SELECT DISTINCT src FROM edges)
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.node = e.src
)
SELECT src AS doc_id, MIN(node) AS component,
       (src = MIN(node)) AS is_canonical
FROM reach GROUP BY src"""


def q_bucketed_rollup_join(spark, sf_dir):
    """Bucketed co-located join, driver-checked end-to-end: tokens
    metadata and the per-doc tier-1 rollup summary are BUCKET-written on
    doc_id with the same bucket count, then joined back per doc — the
    reference's grouped-fetch shape (every query re-fetches each group's
    series then joins its aggregate state back,
    /root/reference/src/controllers/time_series_controller.jl:704-786),
    re-expressed as the layout that never re-pays the shuffle: bucketBy
    persists the doc_id hash-partitioning WITH the data, so the join
    plans with ZERO shuffle Exchange (plan property asserted in
    tests/test_bucketing.py::test_driver_bucketed_query_plan; the VALUES
    are what the DuckDB oracle checks here).  The joined result is
    materialized to a per-call snapshot so the returned frame cannot
    re-bind to a later invocation's overwrite of the bucketed tables."""
    import atexit
    import shutil
    import tempfile

    from tsc_spark.operators.rollup import tiered_rollups
    from tsc_spark.plans.bucketing import bucketed_join, write_bucketed

    toks = _tokens(spark, sf_dir).select("doc_id", "n_tok", "source")
    per_doc = (
        tiered_rollups(_tokens(spark, sf_dir))[1]
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_windows"),
            F.sum("agg_sum").cast("long").alias("tok_sum"),
            F.max("agg_max").cast("long").alias("win_max"),
        )
    )
    root = tempfile.mkdtemp(prefix="tsc_bucketed_q_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # fixed table names, overwritten per call (a per-call unique name
    # would grow the session catalog across bench repeats); the data
    # lands under the per-call temp path
    write_bucketed(toks, "tsc_bq_tokens", n_buckets=16, path=f"{root}/toks")
    write_bucketed(per_doc, "tsc_bq_rollup", n_buckets=16, path=f"{root}/rollup")
    joined = bucketed_join(spark, "tsc_bq_tokens", "tsc_bq_rollup").select(
        "doc_id",
        "source",
        F.col("n_tok").cast("long").alias("n_tok"),
        "n_windows",
        "tok_sum",
        "win_max",
    )
    joined.write.mode("overwrite").parquet(f"{root}/joined")
    return spark.read.parquet(f"{root}/joined")


SQL_BUCKETED_ROLLUP_JOIN = f"""WITH {SQL_TOKENS}, {SQL_POINTS},
r1 AS (
  SELECT doc_id, (point_index // 8) AS window_idx,
         CAST(SUM(token) AS BIGINT) AS s, MAX(token) AS mx
  FROM points GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         CAST(SUM(s) AS BIGINT) AS tok_sum,
         CAST(MAX(mx) AS BIGINT) AS win_max
  FROM r1 GROUP BY 1
)
SELECT t.doc_id, t.source, CAST(t.n_tok AS BIGINT) AS n_tok,
       p.n_windows, p.tok_sum, p.win_max
FROM tokens t JOIN per_doc p USING (doc_id)"""


# ----------------------------------------------------------------------
# driver contract
# ----------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive tokens from sf0.001 documents and run the full
    clustering → timeline path."""
    from tsc_spark.operators.clustering import cluster_timeline

    toks = _tokens(spark, "/root/testdata/sf0.001")
    return cluster_timeline(toks, merge_threshold_ratio=0.3)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # the correctness harness checks only the first 50 entries: keep this
    # at 50 or fewer (tests/test_entry_contract.py) so every query is
    # checked every round
    return {
        # --- flagship clustering kernel ---
        "cluster_timeline": q_cluster_timeline,
        "cluster_timeline_poly": q_cluster_timeline_poly,
        "cluster_tree": q_cluster_tree,
        "generate": q_generate,
        "generate_poly": q_generate_poly,
        # --- matching ---
        "query_matches": q_query_matches,
        "match_scores": q_match_scores,
        "note_vol_matches": q_note_vol_matches,
        "window_matches": q_window_matches,
        "octave_matches": q_octave_matches,
        "stm_interference": q_stm_interference,
        # --- streaming tier ---
        "rollup_tier1_streamed": q_rollup_tier1_streamed,
        "retention_streamed": q_retention_streamed,
        "events_hourly_streamed": q_events_hourly_streamed,
        "cluster_timeline_streamed": q_cluster_timeline_streamed,
        # --- rollup, downsample and retention ---
        "series_stats": q_series_stats,
        "rollup_tier2": q_rollup_tier2,
        "rollup_gapfill": q_rollup_gapfill,
        "rollup_locf": q_rollup_locf,
        "split_phrases": q_split_phrases,
        "contextual_width": q_contextual_width,
        "normalize_combine": q_normalize_combine,
        "recency_weights": q_recency_weights,
        "retention_plan": q_retention_plan,
        "codec_roundtrip": q_codec_roundtrip,
        "bucketed_rollup_join": q_bucketed_rollup_join,
        # --- roughness ---
        "adjacent_roughness": q_adjacent_roughness,
        "chord_roughness": q_chord_roughness,
        # --- dedup and sketches ---
        "lsh_dedup_pairs": q_lsh_dedup_pairs,
        "dedup_groups": q_dedup_groups,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_signatures": q_minhash_signatures,
        "simhash": q_simhash,
        "exact_dups": q_exact_dups,
        "decontaminate": q_decontaminate,
        "kmv_distinct": q_kmv_distinct,
        "stable_sample": q_stable_sample,
        # --- embeddings ---
        "near_dup_embeddings": q_near_dup_embeddings,
        "ann_topk_ivf": q_ann_ivf,
        "ann_topk_lsh": q_ann_lsh,
        "cosine_topk": q_cosine_topk,
        # --- text and multimodal ---
        "text_stats": q_text_stats,
        "media_stats": q_media_stats,
        "image_features": q_image_features,
        "video_frames": q_video_frames,
        # --- events ---
        "sessionize": q_sessionize,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "collapse_max": q_collapse_max,
    }


def oracle_sql() -> dict[str, str]:
    out = _static_oracle_sql()
    # kernel-query fixture oracles + ANN literal-inlined oracles (degrade
    # to rows-only checks on any generation failure — loudly, so a weakened
    # gate is visible in driver logs)
    try:
        from tsc_spark.oracle_fixtures import all_fixture_sql

        out.update(all_fixture_sql())
    except Exception as exc:  # pragma: no cover - only on fixture regression
        import sys
        import traceback

        degraded = sorted(set(queries()) - set(out))
        print(
            "WARNING: fixture-oracle generation failed "
            f"({type(exc).__name__}: {exc}); queries degraded to rows-only "
            f"checks: {', '.join(degraded)}",
            file=sys.stderr,
        )
        traceback.print_exc(file=sys.stderr)
    return out


def _static_oracle_sql() -> dict[str, str]:
    return {
        "series_stats": SQL_SERIES_STATS,
        # the streamed rollup must equal the BATCH rollup exactly — the
        # batch oracle text proves batch/stream equivalence end-to-end
        "rollup_tier1_streamed": _sql_rollup(8),
        "rollup_tier2": _sql_rollup(64),
        "rollup_gapfill": SQL_ROLLUP_GAPFILL,
        "rollup_locf": SQL_ROLLUP_LOCF,
        "split_phrases": SQL_SPLIT_PHRASES,
        "contextual_width": SQL_CONTEXTUAL_WIDTH,
        "text_stats": SQL_TEXT_STATS,
        "kmv_distinct": SQL_KMV,
        "stable_sample": SQL_STABLE_SAMPLE,
        "exact_dups": SQL_EXACT_DUPS,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_signatures": SQL_MINHASH,
        "simhash": SQL_SIMHASH,
        "cosine_topk": SQL_COSINE_TOPK,
        "sessionize": SQL_SESSIONIZE,
        "asof_join": SQL_ASOF,
        "range_join": SQL_RANGE_JOIN,
        "collapse_max": SQL_COLLAPSE_MAX,
        # the watermarked streaming aggregation must equal the BATCH
        # window aggregation — same oracle text proves it end-to-end
        "events_hourly_streamed": SQL_EVENTS_HOURLY,
        "recency_weights": SQL_RECENCY,
        # the per-arrival keep-last cut must equal the batch-global sweep
        "retention_streamed": SQL_RETENTION_SWEEP,
        "retention_plan": SQL_RETENTION_PLAN,
        "window_matches": SQL_WINDOW_MATCHES,
        "octave_matches": SQL_OCTAVE_MATCHES,
        "codec_roundtrip": SQL_CODEC_ROUNDTRIP,
        "chord_roughness": SQL_CHORD_ROUGHNESS,
        "normalize_combine": SQL_NORMALIZE_COMBINE,
        "media_stats": SQL_MEDIA,
        "video_frames": SQL_VIDEO_FRAMES,
        "adjacent_roughness": SQL_ROUGHNESS,
        "lsh_dedup_pairs": SQL_LSH_DEDUP,
        "dedup_groups": SQL_DEDUP_GROUPS,
        "bucketed_rollup_join": SQL_BUCKETED_ROLLUP_JOIN,
        "decontaminate": SQL_DECONTAMINATE,
    }
