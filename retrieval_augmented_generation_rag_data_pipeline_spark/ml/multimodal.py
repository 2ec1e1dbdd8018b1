"""Multimodal column plumbing: media as opaque BINARY columns,
processed via Arrow-batched mapInPandas.

The package takes no image/audio/video codec (PIL, ffmpeg, torchaudio)
as a dependency, so the one operator here reads raw bytes only; the
Spark-side plumbing — schema, Arrow batch iteration, partitioning — is
real and oracle-checked (registry query ``multimodal_features``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes long, digest string, feature array<double>"
)


def extract_features(df: DataFrame, feature_dim: int = 8) -> DataFrame:
    """Feature-extract media content via mapInPandas.

    The feature is a byte-histogram over the raw blob — format-agnostic
    (works for audio/video blobs too), deterministic, and cheap; it
    exercises the full distributed plumbing (Arrow batching, schema,
    partition parallelism).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            feats, digests, sizes = [], [], []
            for blob in pdf["content"]:
                b = bytes(blob or b"")
                digests.append(hashlib.md5(b).hexdigest())
                sizes.append(len(b))
                arr = np.frombuffer(b, dtype=np.uint8)
                hist = np.bincount(
                    arr % feature_dim, minlength=feature_dim
                ).astype("float64")
                total = hist.sum() or 1.0
                feats.append((hist / total).tolist())
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "digest": digests,
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)
