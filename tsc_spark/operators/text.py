"""Text-analysis operators for training-data pipelines over `documents`.

All expressions are native pyspark.sql.functions (JVM side, whole-stage
codegen); no Python UDFs.  ``text_stats`` emits every per-doc text
signal in one select over one scan of ``documents``; its exact ANSI SQL
twin is ``__spark_entry__.SQL_TEXT_STATS``, the DuckDB correctness gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import TOKEN_VOCAB
from ._util import ensure_min_partitions
from .dedup import _ngrams, _norm_text

__all__ = ["tokenize_documents", "text_stats"]

# tiny deterministic English stopword set (shared with the SQL oracle)
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]


def tokenize_documents(docs: DataFrame) -> DataFrame:
    """Derive the north-rule tokens table from `documents` text.

    Deterministic, engine-portable word→token map (no external
    tokenizer): token = (7*len(word) + ascii(first_char)) mod TOKEN_VOCAB.
    Gives the clustering/rollup operators a real corpus-shaped input
    that a SQL oracle can reproduce exactly.
    """
    words = F.split(F.col("text"), " ")
    tokens = F.transform(
        words,
        lambda w: ((F.length(w) * 7 + F.ascii(F.substring(w, 1, 1))) % TOKEN_VOCAB).cast(
            "int"
        ),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokens.alias("tokens"),
        F.size(words).cast("int").alias("n_tok"),
        "source",
    )


URL_RE = "https?://[^ \t\n\f\r]+"  # RE2-\s-equivalent class
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def _top_frac(items: F.Column) -> F.Column:
    """Share of the most frequent element in ``items`` (0.0 when empty).

    In-array, ZERO shuffles: sort the array, then one aggregate() fold
    tracks the longest run of equal neighbours (the longest run in the
    sorted array == the histogram's max count).  Cost is O(b log b) in
    the doc's own element count, so a pathological doc only pays for
    itself; the relational version (explode → two groupBys → join)
    shipped every element of the corpus through two exchanges."""

    def step(acc, x):
        run = F.when(acc["prev"].isNull() | (acc["prev"] != x), F.lit(1)).otherwise(
            acc["run"] + 1
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    start = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )
    best = F.aggregate(F.array_sort(items), start, step)["best"]
    n = F.size(items)
    return F.when(n > 0, F.round(best / n, 6)).otherwise(F.lit(0.0))


def text_stats(docs: DataFrame) -> DataFrame:
    """Every per-doc text signal of ``documents``, one row per doc:

    - token counts: whitespace words, chars, and a BPE-ish token
      estimate (one token per ~4 chars, at least one per word);
    - quality heuristics: punctuation ratio, stopword ratio, mean word
      length;
    - language: stopword hit ratio ≥ 2% → 'en' (real model-based
      lang-id would be a broadcast model in a UDF; the decision
      plumbing is what matters here);
    - fingerprint: md5 of whitespace-normalised lowercase text
      (the reference's stable_id idea, with md5 for engine portability);
    - Gopher-style repetition: line count, duplicate-line fraction and
      top-bigram fraction;
    - PII-ish surface counts: URL and email regex hits.

    The word split, the stopword hits and the line split are each built
    once and shared by every signal that reads them; the whole output is
    one select over one scan, so the plan has no join."""
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    n_chars = F.length("text")
    per_word = F.greatest(n_words, F.lit(1))
    stop_hits = F.size(F.filter(words, lambda w: F.lower(w).isin(STOPWORDS)))
    stop_ratio = stop_hits / per_word
    punct = n_chars - F.length(F.regexp_replace("text", "[^\\w \t\n\f\r]", ""))
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    return ensure_min_partitions(docs).select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_chars.cast("long").alias("n_chars"),
        F.greatest(n_words, F.ceil(n_chars / 4).cast("int"))
        .cast("long")
        .alias("n_tokens_est"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round((n_chars - n_words + 1) / per_word, 6).alias("mean_word_len"),
        F.when(stop_ratio >= 0.02, "en").otherwise("unknown").alias("lang"),
        F.substring(F.md5(_norm_text()), 1, 16).alias("fingerprint"),
        n_lines.cast("long").alias("n_lines"),
        F.round(
            (n_lines - F.size(F.array_distinct(lines))) / F.greatest(n_lines, F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        _top_frac(_ngrams(words, 2)).alias("top_bigram_frac"),
        F.regexp_count("text", F.lit(URL_RE)).cast("long").alias("url_count"),
        F.regexp_count("text", F.lit(EMAIL_RE)).cast("long").alias("email_count"),
    )
