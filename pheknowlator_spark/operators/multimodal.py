"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with typed metadata structs. The Spark
side — schema, partitioning, Arrow batch shape, UDF signatures — is real
and tested; the decoder is ``fake_decode``, a deterministic md5-seeded
stand-in, because no image/audio codec library is a dependency. A real
codec replaces it with the same signature (bytes, modality → features).

Pattern at scale: ``mapInPandas`` so each Arrow batch amortizes codec
setup; media tables partitioned by (modality, bucket(content_id)) so decode
fan-out is even.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "content_id string, modality string, media binary, "
    "meta struct<mime:string, width:int, height:int, duration_ms:int>"
)

FEATURE_SCHEMA = "content_id string, modality string, feature array<float>, n_bytes int"


def fake_decode(media: bytes, modality: str) -> list[float]:
    """Deterministic stand-in feature extractor: md5-seeded unit vector.

    Used by tests and the bench so the plumbing (batching, schema,
    partitioning) is exercised end-to-end without codecs.
    """
    h = hashlib.md5((modality or "").encode() + (media or b"")).digest()
    vals = [
        int.from_bytes(h[i * 2: i * 2 + 2], "big") / 65535.0 for i in range(8)
    ]
    norm = sum(v * v for v in vals) ** 0.5 or 1.0
    return [v / norm for v in vals]


def extract_features(media_df: DataFrame) -> DataFrame:
    """Decode/feature-extract media binaries via mapInPandas (Arrow batches)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, sizes = [], []
            for media, modality in zip(pdf["media"], pdf["modality"]):
                raw = bytes(media) if media is not None else b""
                feats.append(fake_decode(raw, modality))
                sizes.append(len(raw))
            yield pd.DataFrame(
                {
                    "content_id": pdf["content_id"],
                    "modality": pdf["modality"],
                    "feature": feats,
                    "n_bytes": sizes,
                }
            )

    return media_df.select("content_id", "modality", "media").mapInPandas(
        run, FEATURE_SCHEMA
    )


def synthetic_media(spark, n: int = 32) -> DataFrame:
    """Deterministic fake media table for tests/bench."""
    rows = []
    for i in range(n):
        modality = ["image", "audio", "video"][i % 3]
        payload = hashlib.md5(f"media:{i}".encode()).digest() * (4 + i % 5)
        rows.append(
            (
                f"m{i}",
                modality,
                bytearray(payload),
                {
                    "mime": {"image": "image/png", "audio": "audio/wav",
                             "video": "video/mp4"}[modality],
                    "width": 64 + i if modality == "image" else None,
                    "height": 64 + i if modality == "image" else None,
                    "duration_ms": 5000 + 100 * i if modality != "image" else None,
                },
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
