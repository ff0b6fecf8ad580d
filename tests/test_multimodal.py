"""Multimodal binary-column plumbing: schema, batching, dedup, stubbed
decode determinism."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from delm_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    extract_media_features,
    media_dedup_by_content,
)


def synthetic_media(spark, n: int = 100):
    """Deterministic fake media table matching MEDIA_SCHEMA (payload =
    hash-derived bytes; exercises binary columns end-to-end)."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"media{i}".encode()).digest() * (4 + i % 7)
        rows.append(
            (
                f"m{i:06d}",
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                64 + i % 512 if kind != "audio" else None,
                64 + (i * 7) % 512 if kind != "audio" else None,
                (1000 + i * 37) if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


@pytest.fixture(scope="module")
def media(spark):
    df = synthetic_media(spark, n=60).cache()
    df.count()
    return df


def test_feature_extraction_shape_and_determinism(spark, media):
    feats = extract_media_features(media).cache()
    rows = {r["media_id"]: r for r in feats.collect()}
    assert len(rows) == 60
    for r in rows.values():
        assert len(r["features"]) == FEATURE_DIM
        assert r["n_bytes"] > 0 and len(r["content_sha"]) == 64
    # deterministic across runs
    again = {r["media_id"]: r["features"] for r in extract_media_features(media).collect()}
    assert all(again[k] == rows[k]["features"] for k in rows)


def test_custom_decoder_plugs_in(spark, media):
    import numpy as np

    feats = extract_media_features(
        media, decoder=lambda b, kind: np.zeros(FEATURE_DIM, dtype=np.float32)
    )
    row = feats.first()
    assert row["features"] == [0.0] * FEATURE_DIM


def test_media_dedup_by_content(spark):
    base = synthetic_media(spark, n=10)
    dup = base.withColumn("media_id", F.concat(F.lit("z_"), F.col("media_id")))
    both = base.unionByName(dup)
    kept = media_dedup_by_content(both)
    assert kept.count() == 10
    # min media_id wins: originals sort before "z_"-prefixed copies
    assert all(not r["media_id"].startswith("z_") for r in kept.collect())


def test_plan_is_arrow_batched(spark, media):
    df = extract_media_features(media)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "MapInPandas" in plan


def _png(w, h):
    import struct, zlib
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)))


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 4


def _jpeg(w, h):
    import struct
    # SOI + APP0 (JFIF) + SOF0
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + app0 + sof


def _bmp(w, h):
    import struct
    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, h) + b"\x00" * 8


def test_image_header_dims_pure():
    from delm_spark.operators.multimodal import image_header_dims

    assert image_header_dims(_png(640, 480)) == ("png", 640, 480)
    assert image_header_dims(_gif(12, 34)) == ("gif", 12, 34)
    assert image_header_dims(_jpeg(800, 600)) == ("jpeg", 800, 600)
    assert image_header_dims(_bmp(33, -44)) == ("bmp", 33, 44)  # top-down BMP
    assert image_header_dims(b"not an image") == (None, None, None)
    assert image_header_dims(b"") == (None, None, None)
    assert image_header_dims(_png(1, 1)[:12]) == (None, None, None)  # truncated
