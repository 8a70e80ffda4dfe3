"""Multimodal plumbing: opaque binary columns through the mapInPandas
feature stage. The schemas, batch iteration and output shape are the
contract; the sha256 features are deterministic per payload."""

import pytest
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("mime", StringType(), True),
        StructField("payload", BinaryType(), True),  # opaque bytes
        StructField("width", IntegerType(), True),
        StructField("height", IntegerType(), True),
        StructField("duration_ms", LongType(), True),
    ]
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        ("m1", "image", "image/png", b"\x89PNG-fake-1", 1024, 768, None),
        ("m2", "image", "image/jpeg", b"\xff\xd8-fake-2", 100, 50, None),
        ("m3", "image", "image/png", None, None, None, None),
        ("m4", "video", "video/mp4", b"\x00mp4-fake", 1920, 1080, 3500),
        ("m5", "audio", "audio/wav", b"RIFF-fake", None, None, 2000),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_shape_and_determinism(spark, media):
    from yckg_spark.operators.multimodal import FEATURE_DIM, extract_features

    out = {r["media_id"]: r for r in extract_features(media).collect()}
    assert len(out) == 5
    assert out["m1"]["n_bytes"] == len(b"\x89PNG-fake-1")
    assert len(out["m1"]["feature"]) == FEATURE_DIM
    assert out["m3"]["feature"] is None and out["m3"]["n_bytes"] == 0
    again = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert again["m1"] == out["m1"]["feature"]

