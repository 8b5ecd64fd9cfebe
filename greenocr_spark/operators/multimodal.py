"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata (task brief requirement).

The decode/feature-extract kernels are STUBBED — this container has no
image/audio libraries — but everything Spark-side is real and tested:
binary column schemas, Arrow batch shapes, mapInPandas signatures,
partition-preserving narrow execution. Swap `_stub_decode` for a real
decoder (PIL/torchaudio/ffmpeg) on a production cluster and nothing else
changes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from greenocr_spark.worker import trim_import_caches

PATCH_BYTES = 256


def _stub_decode(payload: bytes) -> dict:
    """Deterministic fake 'decode': real implementations replace this with
    PIL.Image.open / soundfile.read / cv2.VideoCapture. Raising path kept
    explicit so a production build can't silently ship the stub."""
    if payload is None:
        payload = b""
    return {
        "payload_len": len(payload),
        "n_patches": -(-len(payload) // PATCH_BYTES),
        "first_byte": payload[0] if payload else None,
    }


def real_decode(payload: bytes):  # pragma: no cover - documented stub
    """The production decode hook. Not implementable in this container."""
    raise NotImplementedError(
        "image/audio decode requires PIL/soundfile/ffmpeg — not available in "
        "this environment; use _stub_decode-backed stages for plumbing tests"
    )


def binary_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """(id, payload:binary) → typed metadata via Arrow-batched mapInPandas."""
    id_field = df.schema[id_col]
    schema = StructType(
        [
            id_field,
            StructField("payload_len", LongType()),
            StructField("n_patches", LongType()),
            StructField("first_byte", IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            metas = [_stub_decode(p) for p in pdf[payload_col].tolist()]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "payload_len": [m["payload_len"] for m in metas],
                    "n_patches": [m["n_patches"] for m in metas],
                    "first_byte": [m["first_byte"] for m in metas],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(run, schema=schema)


FRAME_SCHEMA = StructType(
    [
        StructField("frame_idx", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("note", StringType()),
    ]
)


def frame_sample(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", n_frames: int = 4) -> DataFrame:
    """Video-style frame sampling stub: one row per sampled 'frame' with a
    deterministic fake feature vector (payload byte histogram slice).
    Real plumbing: one-to-many mapInPandas with array<float> output."""
    id_field = df.schema[id_col]
    schema = StructType([id_field, *FRAME_SCHEMA.fields])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        trim_import_caches()
        for pdf in batches:
            out = {id_col: [], "frame_idx": [], "feature": [], "note": []}
            for key, payload in zip(pdf[id_col].tolist(), pdf[payload_col].tolist()):
                payload = payload or b""
                step = max(1, len(payload) // n_frames)
                for fi in range(n_frames):
                    chunk = payload[fi * step : fi * step + 8]
                    feat = [float(b) / 255.0 for b in chunk] or [0.0]
                    out[id_col].append(key)
                    out["frame_idx"].append(fi)
                    out["feature"].append(feat)
                    out["note"].append("stub-decode")
            yield pd.DataFrame(out)

    return df.select(id_col, payload_col).mapInPandas(run, schema=schema)
