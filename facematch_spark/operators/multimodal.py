"""Multimodal column plumbing: image/audio/video as opaque ``binary`` columns
with typed metadata.

Two partition-preserving Arrow stages, no decode library: metadata
extraction (length, digest, sniffed container type) and frame sampling
(fixed-stride byte windows standing in for decoded frames, one row per
frame). ``make_media_df`` builds a media table from the documents table for
the ``multimodal_meta`` and ``multimodal_frames`` queries.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),       # image | audio | video
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("magic", T.StringType(), True),       # sniffed container type
        T.StructField("status", T.StringType(), False),
    ]
)

_MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"RIFF": "riff",
    b"OggS": "ogg",
    b"\x1aE\xdf\xa3": "webm",
}


def _sniff(b: bytes) -> str | None:
    for sig, name in _MAGIC.items():
        if b.startswith(sig):
            return name
    return None


def extract_metadata(media: DataFrame, blob_col: str = "blob") -> DataFrame:
    """(media_id, kind, blob) → MEDIA_META. Partition-preserving (no
    shuffle); one Arrow batch in, one out. The blob itself never leaves the
    executor — only bounded metadata does (the 100 TB rule: signatures move,
    payloads don't)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            blobs = pdf[blob_col]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": blobs.map(lambda b: len(b) if b is not None else 0).astype("int64"),
                    "sha256": blobs.map(lambda b: hashlib.sha256(b or b"").hexdigest()),
                    "magic": blobs.map(lambda b: _sniff(b or b"")),
                    "status": blobs.map(lambda b: "ok" if b else "empty"),
                }
            )

    return media.mapInPandas(batches, schema=MEDIA_META)


def sample_frames(video: DataFrame, every_n_bytes: int = 1024, max_frames: int = 8) -> DataFrame:
    """Frame-sampling plumbing: explode one video blob row into ≤max_frames
    "frame" rows (here: fixed-stride byte windows standing in for decoded
    frames). Output (media_id, frame_idx, frame_blob) — the row-explosion
    shape a real ffmpeg-backed sampler produces."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for mid, b in zip(pdf["media_id"], pdf["blob"]):
                if not b:
                    continue
                n = min(max_frames, max(1, len(b) // every_n_bytes))
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(bytes(b[i * every_n_bytes : (i + 1) * every_n_bytes]))
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int32"),
                                "frame_blob": pd.Series(frames, dtype=object)})

    return video.mapInPandas(batches, schema="media_id long, frame_idx int, frame_blob binary")


def make_media_df(spark, docs: DataFrame, kind: str = "image") -> DataFrame:
    """Synthesize a media table from the documents table (text → utf-8 blob)
    — deterministic stand-in input for the plumbing tests/queries."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit(kind).alias("kind"),
        F.encode("text", "utf-8").alias("blob"),
    )
