"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched Pandas UDFs via ``mapInPandas``.

Design for 100 TB of images/audio/video:
- payloads are ``binary`` columns with a sidecar metadata struct
  (modality, codec, byte length) so planning never touches bytes;
- per-batch processing through ``mapInPandas`` keeps transfers
  Arrow-columnar and lets a batch hold many payloads (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``);
- resize / frame-sample are modality-specific functions plugged into
  the same batch loop.

No media decoder ships: the feature extractor computes deterministic
byte-level features (length, sha256, first-4-bytes int), so the
Spark-side plumbing (schema, batching, UDF signature) is real and
oracle-tested without PIL/ffmpeg/soundfile.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "doc_id long, n_bytes long, sha256 string, head_int long"


def _byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Deterministic byte-level feature extraction (the stub 'decoder')."""
    for pdf in batches:
        payloads = pdf["payload"]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": payloads.map(len).astype("int64"),
                "sha256": payloads.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()),
                "head_int": payloads.map(
                    lambda b: int.from_bytes(bytes(b)[:4], "big") if len(b) >= 4 else 0
                ).astype("int64"),
            }
        )


def binary_features(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Extract per-payload features via mapInPandas (Arrow-batched)."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_byte_features, schema=FEATURE_SCHEMA)


def _frame_sampler(frame_bytes: int, every: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                nframes = (len(b) + frame_bytes - 1) // frame_bytes
                for fi in range(0, nframes, every):
                    ids.append(doc_id)
                    idxs.append(fi)
                    frames.append(b[fi * frame_bytes : (fi + 1) * frame_bytes])
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame": frames})

    return gen


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 64,
    every: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame sampling for video-shaped payloads: the payload is a
    sequence of fixed-size frames; emit every ``every``-th frame as its
    own row (doc_id, frame_idx, frame bytes).

    Map-only (no shuffle): each output row derives from one input row,
    so the stage parallelizes with the scan. A real codec would replace
    the fixed-stride slicer with keyframe extraction — the Spark
    plumbing (row explosion inside the Arrow batch loop, binary output
    schema) is the part that carries to 100 TB.
    """
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(
        _frame_sampler(frame_bytes, every), "doc_id long, frame_idx int, frame binary"
    )


def _resizer(out_len: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            resized = []
            for payload in pdf["payload"]:
                b = bytes(payload)
                n = len(b)
                if n == 0:
                    resized.append(b"")
                else:
                    resized.append(bytes(b[(i * n) // out_len] for i in range(out_len)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "resized": resized})

    return gen


def resize_payload(
    df: DataFrame,
    out_len: int = 32,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Nearest-neighbor 'resize' of a payload to ``out_len`` bytes
    (index i ← byte ⌊i·n/out_len⌋) — the 1-D analogue of image
    nearest-neighbor resampling, deterministic so it is oracle-testable.
    A real image resize would decode → interpolate → re-encode inside
    the same batch loop. Map-only."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    return src.mapInPandas(_resizer(out_len), "doc_id long, resized binary")


def documents_as_binary(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text as an opaque utf-8 binary payload with
    typed metadata — the shape a real image/audio table would have."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            F.lit("text/utf-8").alias("modality"),
            F.octet_length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
        ).alias("meta"),
    )
