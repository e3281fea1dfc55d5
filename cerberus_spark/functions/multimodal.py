"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata; decode + feature-extract as an
Arrow-batched ``mapInPandas`` stage.

No media codec library is a dependency, so the DECODE step is a stub
(deterministic fake features derived from the byte payload) — but the
Spark-side plumbing (schemas, batch iteration, partition sizing,
UDF signatures) is real and tested.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16
FEATURES_SCHEMA = f"media_id long, kind string, n_bytes long, features array<float>"


def _fake_decode(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in for a real decoder: features are a
    normalized digest of the bytes."""
    h = hashlib.sha256(payload if payload is not None else b"").digest()
    v = np.frombuffer(h[: FEATURE_DIM * 2], dtype=np.uint16).astype(np.float32)
    return v / np.float32(65535.0)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction.

    Arrow batches stream per partition; each batch is processed
    vectorized.  At 100 TB the partition sizing lever is
    ``spark.sql.files.maxPartitionBytes`` (binary payloads dominate row
    width, so partitions are byte-bounded, not row-bounded).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(p, k).tolist()
                for p, k in zip(pdf["payload"], pdf["kind"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p) if p is not None else 0 for p in pdf["payload"]],
                    "features": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURES_SCHEMA)


def synthesize_media(spark, n: int, partitions: int | None = None) -> DataFrame:
    """Deterministic fake media table for tests (payload = repeatable
    bytes derived from the id)."""
    base = spark.range(0, n, numPartitions=partitions or 8)
    kinds = F.array(F.lit("image"), F.lit("audio"), F.lit("video"))
    return base.select(
        F.col("id").alias("media_id"),
        F.element_at(kinds, (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int")).alias("kind"),
        F.encode(
            F.concat(F.lit("payload-"), F.md5(F.col("id").cast("string"))), "UTF-8"
        ).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.pmod(F.col("id"), F.lit(640)) + 1).cast("int").alias("width"),
        (F.pmod(F.col("id"), F.lit(480)) + 1).cast("int").alias("height"),
        (F.pmod(F.col("id"), F.lit(90000))).cast("int").alias("duration_ms"),
    )
