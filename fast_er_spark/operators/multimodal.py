"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schemas, Arrow batch shapes,
mapInPandas partitioning — while the actual media decode is STUBBED (the
container ships no image/audio libs): ``decode=...`` hooks raise
NotImplementedError unless a deterministic fake is requested. Swapping in a
real decoder (PIL/torchaudio/ffmpeg) changes only the inner function, not the
Spark plan.

Schema contract::

    media: struct<data: binary, mime: string, width: int, height: int,
                  duration_ms: int>
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["attach_fake_media", "media_features"]


def attach_fake_media(df: DataFrame, id_col: str, mime: str = "image/png") -> DataFrame:
    """Deterministic fake media per row (bytes = sha of the id) — test rig
    for the decode plumbing."""
    payload = F.sha2(F.col(id_col).cast("string"), 256).cast("binary")
    return df.withColumn(
        "media",
        F.struct(
            payload.alias("data"),
            F.lit(mime).alias("mime"),
            (F.pmod(F.col(id_col).cast("long"), F.lit(640)) + 32).cast("int").alias("width"),
            (F.pmod(F.col(id_col).cast("long"), F.lit(480)) + 32).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ),
    )


def _fake_decode(data: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake pixel decode: seeded by content hash."""
    seed = int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(min(height, 8), min(width, 8), 3), dtype=np.uint8)


FEATURE_SCHEMA = "id long, mime string, mean_r double, mean_g double, mean_b double"


def media_features(df: DataFrame, id_col: str, media_col: str = "media",
                   decode: str = "fake") -> DataFrame:
    """Per-media feature extraction via mapInPandas (Arrow batch iterator) —
    the distributed decode harness. ``decode='real'`` raises (no media libs
    in this container); ``'fake'`` uses the deterministic stand-in."""
    if decode not in ("fake", "real"):
        raise ValueError("decode must be 'fake' or 'real'")

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode == "real":
                raise NotImplementedError(
                    "real media decode requires PIL/ffmpeg — not in this container; "
                    "plug a decoder in here"
                )
            out = {"id": [], "mime": [], "mean_r": [], "mean_g": [], "mean_b": []}
            # column-wise access + zip, NOT iterrows: per-row pandas Series
            # construction dominates the harness cost and would sit in front
            # of a real decoder for every batch
            for rid, m in zip(pdf[id_col].to_numpy(), pdf[media_col].to_numpy()):
                px = _fake_decode(bytes(m["data"]), int(m["width"]), int(m["height"]))
                out["id"].append(int(rid))
                out["mime"].append(m["mime"])
                means = px.reshape(-1, 3).mean(axis=0)
                out["mean_r"].append(float(means[0]))
                out["mean_g"].append(float(means[1]))
                out["mean_b"].append(float(means[2]))
            yield pd.DataFrame(out)

    return df.select(F.col(id_col).alias(id_col), F.col(media_col)).mapInPandas(
        extract, FEATURE_SCHEMA
    )
