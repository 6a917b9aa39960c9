"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as ``binary`` columns with a
typed metadata struct; decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` stages. The image/audio codec
libraries are NOT in this container, so the decode kernels are
deterministic fakes derived from the payload bytes (clearly marked
below); the Spark-side contract — schema, Arrow batch shape, partition
behavior, per-executor batching — is real and tested, and a real codec
drops into ``_decode_pixels_stub`` et al. without touching the plan.
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ASSET_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)


def synth_assets(spark, n: int = 64, modality: str = "image") -> DataFrame:
    """Deterministic fake binary assets (payload = repeated md5 digest)."""
    return (
        spark.range(n)
        .select(
            F.col("id").alias("asset_id"),
            F.lit(modality).alias("modality"),
            F.to_binary(
                F.repeat(F.md5(F.concat(F.lit(f"{modality}:"), F.col("id"))), 8),
                F.lit("hex"),
            ).alias("content"),
            F.struct(
                F.lit("fake").alias("format"),
                (F.pmod(F.col("id"), F.lit(4)) * 64 + 64).cast("int").alias("width"),
                (F.pmod(F.col("id"), F.lit(3)) * 64 + 64).cast("int").alias("height"),
                (F.pmod(F.col("id"), F.lit(5)) * 1000 + 1000).cast("int").alias("duration_ms"),
            ).alias("meta"),
        )
    )


# config switch for the real-kernel slot: set PROM_SPARK_IMAGE_DECODER
# to "pillow" to decode real image bytes per Arrow batch; unset/"standin"
# keeps the deterministic fake. The swap touches ONLY this dispatcher —
# schema, mapInPandas batch shape and partitioning are identical.
DECODER_ENV = "PROM_SPARK_IMAGE_DECODER"


def _image_decoder() -> str:
    return os.environ.get(DECODER_ENV, "standin")


def _decode_pixels_stub(content: bytes, decoder: str) -> list[float]:
    """STUB decoder: a real implementation would decode the image and
    return pixel statistics. Deterministic fake: 8 floats from the
    payload's sha256 (NOT a real decode — container has no codec libs).
    With ``decoder="pillow"`` this dispatches to a real Pillow decode
    (loud failure if the codec lib is absent, never a silent fallback).
    ``decoder`` is the ``PROM_SPARK_IMAGE_DECODER`` value, resolved on
    the driver (``_image_decoder``) when the plan is built."""
    if decoder == "pillow":
        try:  # pragma: no cover - no codec libs in this container
            import io

            from PIL import Image  # type: ignore
        except ImportError as e:
            raise NotImplementedError(
                f"{DECODER_ENV}=pillow requests a real image decode but "
                "Pillow is not installed in this environment; unset the "
                "variable to use the deterministic stand-in kernel"
            ) from e
        img = Image.open(io.BytesIO(content)).convert("L")  # pragma: no cover
        px = list(img.getdata())  # pragma: no cover
        n = max(len(px), 1)  # pragma: no cover
        return [  # pragma: no cover
            sum(px) / (255.0 * n),
            min(px) / 255.0,
            max(px) / 255.0,
            img.width / 4096.0,
            img.height / 4096.0,
            0.0,
            0.0,
            0.0,
        ]
    d = hashlib.sha256(content or b"").digest()
    return [b / 255.0 for b in d[:8]]


_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(assets: DataFrame, batch_size_hint: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas: each Arrow batch is processed as one pandas frame
    (per-executor codec init would live in the generator prologue — the
    same pattern as the reference's MT-model preload,
    reference src/translate_onto.py:28-32)."""

    # the switch is resolved here, on the driver, and rides the closure
    decoder = _image_decoder()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-executor init (codec/model handle) would go here, once
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "n_bytes": pdf["content"].map(lambda b: len(b or b"")).astype("int32"),
                    "features": pdf["content"].map(
                        lambda b: _decode_pixels_stub(b, decoder)
                    ),
                }
            )

    return assets.mapInPandas(run, schema=_FEATURES_SCHEMA)


def resize_images(assets: DataFrame, width: int, height: int) -> DataFrame:
    """Resize plumbing: passes payloads through the Arrow boundary and
    rewrites metadata; the pixel transform itself is the stubbed kernel
    (payload returned unchanged, marked by format='fake-resized')."""

    out_schema = ASSET_SCHEMA

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            meta = pdf["meta"].map(
                lambda m: {
                    "format": "fake-resized",
                    "width": width,
                    "height": height,
                    "duration_ms": m["duration_ms"],
                }
            )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "modality": pdf["modality"],
                    "content": pdf["content"],  # stub: real kernel re-encodes
                    "meta": meta,
                }
            )

    return assets.mapInPandas(run, schema=out_schema)


_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling plumbing for video payloads: emits one fake frame
    per ``every_ms`` of metadata duration (1:N row fan-out through
    mapInPandas; a real demuxer replaces the chunking)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for _, row in pdf.iterrows():
                n = max(1, int(row["meta"]["duration_ms"]) // every_ms)
                payload = row["content"] or b""
                step = max(1, len(payload) // n)
                for i in range(n):
                    ids.append(row["asset_id"])
                    idxs.append(i)
                    frames.append(payload[i * step : (i + 1) * step])
            yield pd.DataFrame({"asset_id": ids, "frame_idx": idxs, "frame": frames})

    return assets.filter(F.col("modality") == "video").mapInPandas(
        run, schema=_FRAMES_SCHEMA
    )
