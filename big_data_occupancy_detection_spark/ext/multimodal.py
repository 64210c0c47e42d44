"""Multimodal column support: image/audio/video as opaque binary columns
with typed metadata, processed batch-wise via Arrow (mapInPandas).

The decode is a deterministic md5-derived stand-in (``_fake_decode``),
kept because it is oracle-verifiable in SQL end to end. A real codec
(PIL/librosa/ffmpeg) replaces only the per-payload function; the schema,
binary columns, Arrow batch shape and partition-parallel UDF signature
stay as they are.

At 100 TB the pattern is: binary payloads live in parquet alongside typed
metadata columns; filters/pruning run on metadata (never deserializing
payloads); only the surviving rows' payloads cross into Python, in bounded
Arrow batches (spark.sql.execution.arrow.maxRecordsPerBatch).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 8
CHUNK_BYTES = 256

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def with_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary column + typed metadata (the on-disk
    multimodal layout: payload blob + pruning-friendly metadata)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("content_hash"),
        F.ceil(F.length(payload) / F.lit(CHUNK_BYTES)).cast("long").alias("n_chunks"),
    )


def _fake_decode(payload: bytes) -> list[float]:
    """Deterministic stand-in for a codec: md5-derived unit features.

    Replace with a real decoder (PIL/librosa/ffmpeg) where available; the
    Spark-side contract (bytes in, fixed-dim float vector out) is identical.
    """
    h = hashlib.md5(payload).digest()
    return [b / 255.0 for b in h[:FEATURE_DIM]]


def decode_features(
    media: DataFrame,
    payload_col: str = "payload",
) -> DataFrame:
    """Partition-parallel feature extraction over binary payloads.

    ``mapInPandas`` streams bounded Arrow batches through Python — the only
    non-JVM hop in the multimodal path, vectorized per batch rather than
    per row.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf[payload_col].map(len).astype("int64"),
                    "features": pdf[payload_col].map(_fake_decode),
                }
            )

    return media.mapInPandas(extract, MEDIA_FEATURES_SCHEMA)


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("frame_hash", T.StringType()),
    ]
)


def sample_frames(
    media: DataFrame,
    every_n: int = 4,
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling for video-like payloads: one output row per sampled
    frame, via ``mapInPandas`` (a 1→N exploding Arrow transform).

    The "video" is modeled as fixed-size chunks of the payload; a
    container demuxer (mp4/mkv via ffmpeg) would replace only
    ``_chunk_frames``, never the Spark contract (bytes in, (index, frame
    bytes) rows out). Sampling every ``every_n``-th frame bounds the
    output; the transform is scan-parallel, stateless, and never holds
    more than one Arrow batch of frames in memory.
    """

    def _chunk_frames(payload: bytes) -> list[tuple[int, bytes]]:
        chunks = [
            payload[i : i + CHUNK_BYTES]
            for i in range(0, max(len(payload), 1), CHUNK_BYTES)
        ]
        return [(i, c) for i, c in enumerate(chunks) if i % every_n == 0]

    def explode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [],
                "frame_index": [],
                "frame_bytes": [],
                "frame_hash": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf[payload_col]):
                for idx, frame in _chunk_frames(bytes(payload)):
                    out["doc_id"].append(doc_id)
                    out["frame_index"].append(idx)
                    out["frame_bytes"].append(frame)
                    out["frame_hash"].append(hashlib.md5(frame).hexdigest())
            yield pd.DataFrame(out)

    from ..operators.partitioning import repartition_for_compute

    # a single parquet file arrives as ONE partition, which would serialize
    # the whole Python decode on one core — spread it first
    return repartition_for_compute(media).mapInPandas(
        explode_frames, FRAME_SAMPLE_SCHEMA
    )

