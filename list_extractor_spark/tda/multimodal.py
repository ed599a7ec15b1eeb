"""Multimodal column plumbing: image/audio/video as opaque binary columns with
typed metadata.

The decode step is STUBBED (no image/audio libraries in this container): a
clearly-marked NotImplementedError sits behind ``decode_media``, and the
benchmark path uses a deterministic fake feature extractor.  Everything
Spark-side is real and tested: schema, Arrow batch shape, mapInPandas
signature, partitioning by media type.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("meta", T.StructType([
            T.StructField("n_bytes", T.IntegerType(), False),
            T.StructField("source", T.StringType(), True),
        ]), False),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
    ]
)


def media_from_documents(documents: DataFrame) -> DataFrame:
    """Synthesize a media table from the documents table: payload = utf-8
    bytes of the text (deterministic stand-in for real image/audio blobs)."""
    return documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.col("doc_id").cast("long") % 3 == 0, "image")
        .when(F.col("doc_id").cast("long") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.octet_length("text").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def decode_media(payload: bytes, media_type: str):
    """REAL DECODE STUB: image/audio decoding libraries are not available in
    this environment.  On a production cluster this calls PIL/torchaudio/
    decord inside the same mapInPandas batch loop."""
    raise NotImplementedError(
        "media decoding requires image/audio libraries not present in this "
        "container; use fake_feature() for deterministic plumbing tests"
    )


def fake_feature(payload: bytes, dim: int = 4):
    """Deterministic fake feature: byte-sum folds per stripe — exercises the
    exact batch/shape/schema path real extractors would use."""
    if len(payload) == 0:
        return [0.0] * dim
    stripe = max(1, len(payload) // dim)
    return [
        float(sum(payload[i * stripe : (i + 1) * stripe]) % 1000) for i in range(dim)
    ]


def _with_payload(media: DataFrame) -> DataFrame:
    """Rows with a payload: a NULL payload (a document with NULL text) has
    nothing to decode, so it is dropped JVM-side before the python stage."""
    return media.filter(F.col("payload").isNotNull())


def extract_media_features(media: DataFrame, dim: int = 4) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas):
    the decode/resize/frame-sample slot of a multimodal training pipeline.
    NULL payloads produce no row."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "feature": [fake_feature(p, dim) for p in pdf["payload"]],
                }
            )

    return _with_payload(media).mapInPandas(run, schema=FEATURES_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("checksum", T.LongType(), False),
    ]
)


def fake_resize(payload: bytes, width: int = 8, height: int = 8) -> bytes:
    """Deterministic fake resize: stride-sample the payload down to
    width*height bytes (zero-padded when shorter) — the byte-shape contract a
    real PIL/ffmpeg resize fills on a production cluster."""
    n = width * height
    if len(payload) == 0:
        return bytes(n)
    stride = max(1, len(payload) // n)
    out = payload[::stride][:n]
    return out + bytes(n - len(out))


def resize_media(media: DataFrame, width: int = 8, height: int = 8) -> DataFrame:
    """Arrow-batched resize slot (binary in -> fixed-size binary out) with a
    JVM-comparable checksum column so correctness is assertable without
    hashing raw binary driver-side."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = [fake_resize(p, width, height) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "width": width,
                    "height": height,
                    "payload": resized,
                    "checksum": [sum(r) for r in resized],
                }
            )

    return _with_payload(media).mapInPandas(run, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("checksum", T.LongType(), False),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 64, every_n: int = 4
) -> DataFrame:
    """Frame sampling for video rows: chunk the payload into fixed-size
    'frames' and keep every n-th — the 1->N output shape (rows out != rows
    in) a real decord/ffmpeg frame sampler produces inside mapInPandas.
    Non-video rows and NULL payloads are filtered JVM-side before the
    python stage."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "n_bytes": [], "checksum": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = max(1, len(payload) // frame_bytes)
                for i in range(0, n_frames, every_n):
                    frame = payload[i * frame_bytes : (i + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["n_bytes"].append(len(frame))
                    out["checksum"].append(sum(frame))
            yield pd.DataFrame(out)

    videos = _with_payload(media).filter(F.col("media_type") == "video")
    return videos.mapInPandas(run, schema=FRAMES_SCHEMA)


def media_stats(media: DataFrame) -> DataFrame:
    """Per-type payload stats — pure JVM aggregation on the binary column."""
    return (
        media.select("media_type", F.octet_length("payload").alias("n_bytes"))
        .groupBy("media_type")
        .agg(
            F.count("*").alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
    )
