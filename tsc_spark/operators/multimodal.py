"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A training-data pipeline at 100 TB carries media as ``binary`` columns
with a typed metadata struct, processed by the per-row shell
``_util.map_rows`` (one Arrow-batched ``mapInPandas``; a row with a NULL
input field emits nothing).  The Spark-side plumbing here — schemas,
batch iteration, partition sizing, deterministic per-doc outputs — is
real and tested; the actual media decode is stubbed (the engine ships
no image/audio libs) behind ``decode_fn`` hooks: pass a real decoder
(PIL/ffmpeg) in production, or use the deterministic fake for tests.

Media rows co-locate with their documents by sharing doc_id hashing, so
a media join to the documents table is a co-partitioned equi-join.
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._util import map_rows

__all__ = [
    "MEDIA_SCHEMA",
    "media_from_documents",
    "synth_media_table",
    "media_stats",
    "extract_image_features",
    "sample_video_frames",
    "fake_image_decode",
    "image_feature_vector",
]

# typed media row: payload is opaque bytes; metadata is a real struct the
# engine can filter/partition on WITHOUT touching payload bytes
MEDIA_SCHEMA = (
    "doc_id string, media_id string, kind string, "
    "width int, height int, duration_ms int, codec string, payload binary"
)

FEATURE_DIM = 8


def synth_media_table(spark, n_docs: int = 50, per_doc: int = 2) -> DataFrame:
    """Deterministic fake media rows (payload = seeded bytes)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n_docs):
        for m in range(per_doc):
            kind = kinds[(i + m) % 3]
            seed = f"{i}:{m}".encode()
            payload = hashlib.sha256(seed).digest() * (1 + (i + m) % 4)
            rows.append(
                (
                    f"doc{i:08d}",
                    f"media{i:08d}_{m}",
                    kind,
                    64 + (i % 8) * 32 if kind != "audio" else 0,
                    64 + (m % 4) * 32 if kind != "audio" else 0,
                    1000 * (1 + (i + m) % 30) if kind != "image" else 0,
                    {"image": "png", "audio": "opus", "video": "av1"}[kind],
                    bytearray(payload),
                )
            )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents corpus
    (payload = utf-8 text bytes) — lets an ANSI-SQL oracle reproduce
    byte-level stats exactly while exercising the binary-column path."""
    did = F.col("doc_id").cast("string")
    kind = (
        F.when(F.pmod(F.col("doc_id").cast("long"), F.lit(3)) == 0, "image")
        .when(F.pmod(F.col("doc_id").cast("long"), F.lit(3)) == 1, "audio")
        .otherwise("video")
    )
    return docs.select(
        did.alias("doc_id"),
        F.concat(F.lit("media_"), did).alias("media_id"),
        kind.alias("kind"),
        F.when(kind != "audio", 64 + F.pmod(F.col("doc_id").cast("long"), F.lit(8)) * 32)
        .otherwise(0)
        .cast("int")
        .alias("width"),
        F.when(kind != "audio", 64 + F.pmod(F.col("doc_id").cast("long"), F.lit(4)) * 32)
        .otherwise(0)
        .cast("int")
        .alias("height"),
        F.when(kind != "image", 1000 * (1 + F.pmod(F.col("doc_id").cast("long"), F.lit(30))))
        .otherwise(0)
        .cast("int")
        .alias("duration_ms"),
        F.lit("raw").alias("codec"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )


def media_stats(media: DataFrame) -> DataFrame:
    """Per-kind byte/size stats — pure native aggregation over metadata +
    payload length; never deserializes payload content."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n_media"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
        F.sum("duration_ms").alias("total_duration_ms"),
    )


def fake_image_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic stand-in for a real image decoder: expands payload
    bytes into a (height, width) uint8 'pixel' grid.  Replace with
    PIL.Image.open in production."""
    need = max(width * height, 1)
    buf = (payload * (need // max(len(payload), 1) + 1))[:need]
    return np.frombuffer(bytes(buf), dtype=np.uint8).reshape(max(height, 1), max(width, 1))


def image_feature_vector(img: np.ndarray) -> list[float]:
    """8-dim feature layout: mean, std, min, max + 4 quadrant means.
    Shared by the distributed extractor and the fixture oracle so the
    layout can never drift between them."""
    hh, wh = img.shape[0] // 2 or 1, img.shape[1] // 2 or 1
    q = [
        img[:hh, :wh].mean(),
        img[:hh, wh:].mean() if img.shape[1] > wh else 0.0,
        img[hh:, :wh].mean() if img.shape[0] > hh else 0.0,
        img[hh:, wh:].mean() if min(img.shape) > min(hh, wh) else 0.0,
    ]
    return [
        float(img.mean()), float(img.std()), float(img.min()), float(img.max())
    ] + [float(x) for x in q]


def extract_image_features(
    media: DataFrame,
    decode_fn: Callable[[bytes, int, int], np.ndarray] | None = None,
) -> DataFrame:
    """image rows → fixed-dim feature vectors via the per-row shell.

    The per-batch loop is vectorized numpy over the decoded array; with
    ``decode_fn=None`` the decode step raises NotImplementedError —
    callers must opt into the deterministic fake or supply a real
    decoder, making the stub boundary explicit."""

    def fn(doc_id, mid, w, h, payload):
        if decode_fn is None:
            raise NotImplementedError(
                "no media decoder in this environment; pass "
                "decode_fn=fake_image_decode or a real decoder"
            )
        img = decode_fn(bytes(payload), int(w), int(h))
        yield doc_id, mid, image_feature_vector(img)

    return map_rows(
        media.filter(F.col("kind") == "image"),
        ("doc_id", "media_id", "width", "height", "payload"),
        lambda: fn,
        "doc_id string, media_id string, features array<double>",
    )


def sample_video_frames(
    media: DataFrame, every_ms: int = 5000
) -> DataFrame:
    """video rows → one row per sampled frame timestamp.

    Frame *selection* is pure metadata arithmetic (native sequence/
    explode — no payload access, no Python); actual frame extraction
    would consume (media_id, frame_ms) work items downstream."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms)
    )
    return (
        media.filter(F.col("kind") == "video")
        .select("doc_id", "media_id", F.explode(frames).alias("frame_ms"))
    )
