"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, turned into fixed-dim feature vectors in an
Arrow-batched ``mapInPandas`` stage.

No media codec ships here. ``_decode_one`` maps each payload to
``FEATURE_DIM`` floats taken from its sha256 digest, a deterministic
stand-in that a SQL oracle can recompute exactly. It is the single swap
point for a real decoder: everything Spark-side (schemas, batch
iteration, output shape) stays as it is when it changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("n_bytes", LongType(), False),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)

FEATURE_DIM = 8


def _decode_one(payload: bytes | None) -> list[float] | None:
    if payload is None:
        return None
    # 8 floats derived from the content hash. 16-bit slices / 2^16 are
    # exactly representable in float32 AND exactly recomputable as doubles
    # in a SQL oracle (hex-substr cast), so the values survive the float32
    # column type without precision drift.
    h = hashlib.sha256(payload).digest()
    return [int.from_bytes(h[i * 2 : i * 2 + 2], "big") / 65536.0 for i in range(FEATURE_DIM)]


def extract_features(media: DataFrame) -> DataFrame:
    """Binary → fixed-dim feature vectors via mapInPandas (Arrow batches).

    The 100 TB shape: repartition by media_id so decode work spreads evenly,
    keep batches bounded by arrow.maxRecordsPerBatch, never collect payloads
    to the driver.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["payload"].map(lambda b: 0 if b is None else len(b)).astype("int64"),
                    "feature": pdf["payload"].map(_decode_one),
                }
            )

    return media.select("media_id", "payload").mapInPandas(batches, FEATURES_SCHEMA)

