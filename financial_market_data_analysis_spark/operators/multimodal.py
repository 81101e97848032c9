"""Multimodal columns: image/audio/video as opaque binary + typed
metadata, processed with Arrow-batched ``mapInPandas``.

The decode libraries (PIL/ffmpeg/torchaudio) are not in this container,
so the codec step is a deterministic stand-in
(``fake_decode_features``) and the pixel/sample extraction stays
stubbed. What is real and tested here is the Spark-side plumbing a
100 TB multimodal pipeline needs: the schema convention, binary-safe
Arrow batching, per-partition batch iteration, the output contract
(fixed-width feature arrays + passthrough keys), and the declarative
audio-frame and letterbox-geometry plans a codec would consume.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

N_FAKE_FEATURES = 8
AUDIO_FRAME_MS, AUDIO_HOP_MS = 25, 10  # audio frame length and hop
RESIZE_W, RESIZE_H = 224, 224  # letterbox canvas


def fake_decode_features(payload: bytes) -> list[int]:
    """Deterministic stand-in for decode→embed: feature j = count of odd
    hex digits in md5(payload + b':' + j). Engine-portable (md5), so the
    pipeline is oracle-checkable end to end despite the stubbed codec."""
    out = []
    for j in range(N_FAKE_FEATURES):
        h = hashlib.md5(payload + b":" + str(j).encode()).hexdigest()
        out.append(sum(1 for ch in h if ch in "13579bdf"))
    return out


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas`` — one Arrow batch of
    binary payloads in, one batch of fixed-width feature rows out. The
    UDF never sees row-at-a-time Python objects; payload bytes stay in
    Arrow buffers until the kernel touches them."""
    out_schema = StructType(
        [
            StructField("media_id", LongType()),
            StructField("features", ArrayType(IntegerType())),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "features": [
                        fake_decode_features(bytes(p))
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, out_schema)


def audio_frames(media: DataFrame) -> DataFrame:
    """Audio → STFT-style frame grid: one row per (frame_idx, start_ms)
    with the standard ``n = floor((duration - frame) / hop) + 1``
    frame count (clips shorter than one frame yield no rows). The grid
    is pure column math — the sample extraction inside each frame is
    the stubbed codec part."""
    n_frames = F.expr(f"(duration_ms - {AUDIO_FRAME_MS}) div {AUDIO_HOP_MS}").cast("int") + 1
    return (
        media.filter((F.col("kind") == "audio") & (F.col("duration_ms") >= AUDIO_FRAME_MS))
        .select(
            "media_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_frames - 1),
                    lambda i: (i * AUDIO_HOP_MS).cast("int"),
                )
            ).alias("frame_idx", "start_ms"),
        )
    )


def resize_geometry(media: DataFrame) -> DataFrame:
    """Aspect-preserving letterbox resize plan for images: output dims
    scaled by min(RESIZE_W/w, RESIZE_H/h) plus centering pad offsets.
    All-integer math (``div``), so the geometry is bit-identical across
    engines; the pixel resample itself is the stubbed codec step. This
    is the metadata a batched GPU resize kernel consumes."""
    imgs = media.filter(
        (F.col("kind") == "image") & (F.col("width") > 0) & (F.col("height") > 0)
    )
    wide = F.col("width") * RESIZE_H >= F.col("height") * RESIZE_W
    out_w = F.when(wide, F.lit(RESIZE_W)).otherwise(
        F.expr(f"(width * {RESIZE_H}) div height").cast("int")
    )
    out_h = F.when(wide, F.expr(f"(height * {RESIZE_W}) div width").cast("int")).otherwise(
        F.lit(RESIZE_H)
    )
    return imgs.select(
        "media_id",
        "width",
        "height",
        out_w.alias("out_w"),
        out_h.alias("out_h"),
        ((F.lit(RESIZE_W) - out_w) / 2).cast("int").alias("pad_x"),
        ((F.lit(RESIZE_H) - out_h) / 2).cast("int").alias("pad_y"),
    )


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Test/oracle fixture: treat each document's text bytes as an
    opaque payload with synthesized metadata — same shape a real
    image/audio table would have."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        (F.col("n_chars") % 640).cast("int").alias("width"),
        (F.col("n_chars") % 480).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )
