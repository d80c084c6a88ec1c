"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed via Arrow-batched mapInPandas.

The container has no image/audio codecs, so the DECODE step is stubbed
(clearly marked) behind ``decode_image``/``decode_audio`` — but the
Spark-side plumbing is real and tested: schemas, batch shapes, UDF
signatures. A production deployment swaps the stub body for PIL/ffmpeg;
nothing else changes.

Design for 100 TB of media: binary payloads are large, so operators here
(1) never collect payloads and (2) project metadata columns separately
from payloads to keep scans narrow.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("payload", StringType()),  # replaced by BinaryType below
    ]
)

FEATURE_SCHEMA = (
    "media_id string, kind string, n_bytes int, sha256 string, "
    "width int, height int, features array<float>"
)


def decode_image(payload: bytes) -> "object":
    """STUB: real deployments decode via PIL/libvips here. The sandbox
    container ships no codecs, so decoding is explicitly unimplemented;
    callers must use ``fake_dimensions``/``fake_features`` paths."""
    raise NotImplementedError(
        "image decode requires an image codec library not present in this "
        "container; wire PIL/opencv here in production"
    )


def decode_audio(payload: bytes) -> "object":
    """STUB — see decode_image."""
    raise NotImplementedError(
        "audio decode requires ffmpeg/soundfile, not present in this container"
    )


def fake_dimensions(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for decoded dimensions: derived from the
    payload digest so tests are stable and plumbing is end-to-end real."""
    d = hashlib.sha256(payload).digest()
    return (64 + d[0] % 192, 64 + d[1] % 192)


def fake_features(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature vector (digest-derived, unit-ish)."""
    d = hashlib.sha256(payload).digest()
    return [round((d[i] - 127.5) / 127.5, 6) for i in range(dim)]


def extract_media_features(df: DataFrame, payload_col: str = "payload", dim: int = 8) -> DataFrame:
    """mapInPandas media featurizer: hash, byte-size, (stub) dims and
    feature vector. Arrow batches both ways; payload never hits the driver."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "media_id": [], "kind": [], "n_bytes": [], "sha256": [],
                "width": [], "height": [], "features": [],
            }
            for mid, kind, payload in zip(pdf["media_id"], pdf["kind"], pdf[payload_col]):
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                if payload is None:
                    rows["n_bytes"].append(0)
                    rows["sha256"].append(None)
                    rows["width"].append(None)
                    rows["height"].append(None)
                    rows["features"].append(None)
                    continue
                rows["n_bytes"].append(len(payload))
                rows["sha256"].append(hashlib.sha256(payload).hexdigest())
                w, h = fake_dimensions(payload)
                rows["width"].append(w if kind == "image" else None)
                rows["height"].append(h if kind == "image" else None)
                rows["features"].append(fake_features(payload, dim))
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling *plan*: expands (media_id, n_frames metadata)
    into per-frame work rows WITHOUT touching payloads — the explode is
    metadata-only; the decode stage joins payloads back by media_id only
    for sampled frames."""
    return df.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))).alias(
            "frame_idx"
        ),
    )


def synthetic_media_df(spark, n_rows: int = 200, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for tests: payload bytes derived
    from the row id (no RNG state)."""
    df = spark.range(n_rows)
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(F.col("id"), 3) + 1).cast("int"),
    )
    payload = F.encode(
        F.concat(F.lit("payload-"), F.sha2(F.concat(F.lit(seed), F.col("id")), 256), F.repeat(F.lit("x"), (F.pmod(F.col("id"), 50) * 20).cast("int"))),
        "utf-8",
    )
    return df.select(
        F.concat(F.lit("m"), F.col("id")).alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        (F.pmod(F.col("id"), 120) + 1).cast("int").alias("n_frames"),
    )
