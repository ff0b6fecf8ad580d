"""Multimodal (image/audio/video) column operators.

Media are opaque `binary` columns plus typed metadata structs; all heavy
decode/feature work runs in Arrow-batched pandas UDFs over `mapInPandas`.
Three tiers of realness here:
  * container-header metadata (PNG/GIF/JPEG/BMP dims) — real, stdlib;
  * PIXEL decode for PNG, GIF, JPEG (baseline + progressive), and uncompressed BMP — real, stdlib/numpy
    (operators/image_codec.py: zlib + scanline filters), feeding
    `image_pixel_stats` (luma stats + histogram);
  * audio SAMPLE decode for PCM WAV and video FRAME decode + fixed-rate
    frame sampling for uncompressed-DIB AVI — real, stdlib
    (operators/av_codec.py: RIFF chunk walking), feeding
    `audio_features` and `video_frame_stats`;
  * JPEG pixels / compressed audio/video (MP3, H.264, MJPEG) —
    genuinely need codec libraries, so the embedding-feature stage keeps
    the pluggable `decoder` seam (`decoder=None` uses a deterministic
    fake). Plugging
    Pillow/torchaudio/ffmpeg in means passing a `decoder` callable;
    nothing else changes.

Scale notes: media rows are large — size `spark.sql.files.maxPartitionBytes`
(or repartition by count) so one Arrow batch holds tens of items, not
thousands; `maxRecordsPerBatch` should be lowered for >1 MB payloads.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),  # images/video
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),  # audio/video
    ]
)

FEATURE_DIM = 64

#: media rows per decode chunk inside one Arrow batch, so one huge batch of
#: large blobs cannot blow worker memory (video frames decode larger)
MEDIA_BATCH_ROWS, VIDEO_BATCH_ROWS = 64, 16

_FEATURE_FIELDS = [
    StructField("media_id", StringType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("content_sha", StringType()),
    StructField("features", ArrayType(FloatType())),
]


def _fake_decode(content: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in decoder: hash-seeded feature vector. Replaces
    the real Pillow/ffmpeg path; same shape and dtype as a real embedding."""
    digest = hashlib.sha256(content or b"").digest()
    seed = int.from_bytes(digest[:8], "big") % (2**32)
    rng = np.random.RandomState(seed)
    return rng.randn(FEATURE_DIM).astype(np.float32)


def image_header_dims(content: bytes) -> tuple[Optional[str], Optional[int], Optional[int]]:
    """(format, width, height) parsed from PNG / GIF / JPEG / BMP header
    bytes — REAL metadata decode, pure stdlib (no codec libraries): the
    container formats put dimensions at fixed/markered offsets, so pixel
    decoding is never needed to type and size an image corpus. Unknown or
    truncated payloads return (None, None, None) rather than raising —
    corrupt media must not kill a 100-TB scan."""
    import struct

    b = content or b""
    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
            w, h = struct.unpack(">II", b[16:24])
            return "png", w, h
        if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
            w, h = struct.unpack("<HH", b[6:10])
            return "gif", w, h
        if b[:2] == b"BM" and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return "bmp", w, abs(h)
        if b[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOF marker
            i = 2
            while i + 1 < len(b):
                if b[i] != 0xFF:
                    break
                # spec-legal 0xFF fill bytes may pad before any marker
                while i + 1 < len(b) and b[i + 1] == 0xFF:
                    i += 1
                marker = b[i + 1]
                if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                    i += 2  # standalone markers carry no length field
                    continue
                if i + 9 >= len(b):
                    break
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                    return "jpeg", w, h
                seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
                i += 2 + seg_len
    except (struct.error, IndexError):
        pass
    return None, None, None


def image_pixel_stats(media: DataFrame) -> DataFrame:
    """media -> (media_id, format, width, height, mean_luma, std_luma,
    luma_hist, n_pixels): REAL pixel decode for PNG / GIF / JPEG
    (baseline + progressive) / uncompressed BMP payloads
    (operators/image_codec.py + jpeg_codec.py, pure stdlib+numpy); rows
    whose payload is outside the codecs' scope (arithmetic-coded JPEG
    etc.) or is not an image come back with null pixel columns instead of
    failing the scan."""
    from delm_spark.operators.image_codec import decode_image, pixel_stats

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("format", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("mean_luma", FloatType()),
            StructField("std_luma", FloatType()),
            StructField("luma_hist", ArrayType(FloatType())),
            StructField("n_pixels", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), MEDIA_BATCH_ROWS):
                part = pdf.iloc[start : start + MEDIA_BATCH_ROWS]
                out = {k: [] for k in ("format", "width", "height", "mean_luma",
                                       "std_luma", "luma_hist", "n_pixels")}
                for content in part["content"]:
                    b = bytes(content) if content is not None else b""
                    fmt, w, h = image_header_dims(b)
                    img = decode_image(b)
                    out["format"].append(fmt)
                    out["width"].append(w)
                    out["height"].append(h)
                    if img is None:
                        for k in ("mean_luma", "std_luma", "luma_hist", "n_pixels"):
                            out[k].append(None)
                    else:
                        st = pixel_stats(img)
                        out["mean_luma"].append(st["mean_luma"])
                        out["std_luma"].append(st["std_luma"])
                        out["luma_hist"].append(st["luma_hist"])
                        out["n_pixels"].append(st["n_pixels"])
                yield pd.DataFrame(
                    {
                        "media_id": part["media_id"].values,
                        "format": out["format"],
                        "width": pd.array(out["width"], dtype="Int32"),
                        "height": pd.array(out["height"], dtype="Int32"),
                        "mean_luma": pd.array(out["mean_luma"], dtype="Float32"),
                        "std_luma": pd.array(out["std_luma"], dtype="Float32"),
                        "luma_hist": out["luma_hist"],
                        "n_pixels": pd.array(out["n_pixels"], dtype="Int64"),
                    }
                )

    return media.select("media_id", "content").mapInPandas(run, schema=schema)


def audio_features(media: DataFrame) -> DataFrame:
    """media -> (media_id, format, sample_rate, channels, n_samples,
    duration_ms, sample_sum, peak_abs, zero_crossings): REAL audio decode
    for PCM WAV payloads (operators/av_codec.py, pure stdlib+numpy);
    rows whose payload needs an actual codec library (MP3/AAC) or is not
    audio come back with null feature columns instead of failing the
    scan. All features are integer-exact so oracles can re-derive them."""
    from delm_spark.operators.av_codec import audio_stats, decode_wav

    cols = ("sample_rate", "channels", "n_samples", "duration_ms",
            "sample_sum", "peak_abs", "zero_crossings")
    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("format", StringType()),
            StructField("sample_rate", IntegerType()),
            StructField("channels", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("duration_ms", LongType()),
            StructField("sample_sum", LongType()),
            StructField("peak_abs", LongType()),
            StructField("zero_crossings", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), MEDIA_BATCH_ROWS):
                part = pdf.iloc[start : start + MEDIA_BATCH_ROWS]
                out: dict = {k: [] for k in ("format",) + cols}
                for content in part["content"]:
                    b = bytes(content) if content is not None else b""
                    try:
                        rate, samples = decode_wav(b)
                    except (ValueError, struct.error):
                        rate = None
                    if rate is None:
                        out["format"].append(None)
                        for k in cols:
                            out[k].append(None)
                    else:
                        st = audio_stats(rate, samples)
                        out["format"].append("wav")
                        for k in cols:
                            out[k].append(st[k])
                yield pd.DataFrame(
                    {
                        "media_id": part["media_id"].values,
                        "format": out["format"],
                        "sample_rate": pd.array(out["sample_rate"], dtype="Int32"),
                        "channels": pd.array(out["channels"], dtype="Int32"),
                        **{
                            k: pd.array(out[k], dtype="Int64")
                            for k in cols[2:]
                        },
                    }
                )

    return media.select("media_id", "content").mapInPandas(run, schema=schema)


def video_frame_stats(media: DataFrame, every_k: int = 1) -> DataFrame:
    """media -> one row per SAMPLED frame (media_id, frame_idx, n_frames,
    fps, width, height, mean_luma, n_pixels): REAL video decode + fixed-
    rate frame sampling for uncompressed-DIB AVI payloads
    (operators/av_codec.py) — the frame-sample step of a video training
    pipeline. Undecodable payloads yield one row with null frame columns
    (so the scan is total, mirroring image_pixel_stats)."""
    from delm_spark.operators.av_codec import sample_frames
    from delm_spark.operators.image_codec import pixel_stats

    schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("frame_idx", IntegerType()),
            StructField("n_frames", IntegerType()),
            StructField("fps", IntegerType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("mean_luma", FloatType()),
            StructField("n_pixels", LongType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), VIDEO_BATCH_ROWS):
                part = pdf.iloc[start : start + VIDEO_BATCH_ROWS]
                rows = []
                for mid, content in zip(part["media_id"], part["content"]):
                    b = bytes(content) if content is not None else b""
                    try:
                        fps, n_frames, picked = sample_frames(b, every_k=every_k)
                    except ValueError:
                        rows.append((mid, None, None, None, None, None, None, None))
                        continue
                    for idx, frame in picked:
                        st = pixel_stats(frame)
                        h, w = frame.shape[:2]
                        rows.append(
                            (mid, idx, n_frames, fps, w, h,
                             st["mean_luma"], st["n_pixels"])
                        )
                pdf_out = pd.DataFrame(
                    rows, columns=[f.name for f in schema.fields]
                )
                for c, dt in (("frame_idx", "Int32"), ("n_frames", "Int32"),
                              ("fps", "Int32"), ("width", "Int32"),
                              ("height", "Int32"), ("n_pixels", "Int64")):
                    pdf_out[c] = pd.array(pdf_out[c], dtype=dt)
                pdf_out["mean_luma"] = pd.array(pdf_out["mean_luma"], dtype="Float32")
                yield pdf_out

    return media.select("media_id", "content").mapInPandas(run, schema=schema)


def extract_media_features(
    media: DataFrame,
    decoder: Optional[Callable[[bytes, str], np.ndarray]] = None,
) -> DataFrame:
    """media table -> (media_id, kind, n_bytes, content_sha, features).

    `decoder(content_bytes, kind) -> np.ndarray[FEATURE_DIM]` is the only
    pluggable piece. Batches are re-chunked to `MEDIA_BATCH_ROWS` inside
    the UDF.
    """
    decode = decoder or _fake_decode
    out_schema = StructType(_FEATURE_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), MEDIA_BATCH_ROWS):
                part = pdf.iloc[start : start + MEDIA_BATCH_ROWS]
                feats, shas, sizes = [], [], []
                for content in part["content"]:
                    b = bytes(content) if content is not None else b""
                    sizes.append(len(b))
                    shas.append(hashlib.sha256(b).hexdigest())
                    feats.append([float(x) for x in decode(b, "any")])
                yield pd.DataFrame(
                    {
                        "media_id": part["media_id"].values,
                        "kind": part["kind"].values,
                        "n_bytes": sizes,
                        "content_sha": shas,
                        "features": feats,
                    }
                )

    cols = ["media_id", "kind", "content"]
    return media.select(*cols).mapInPandas(run, schema=out_schema)


def media_dedup_by_content(media: DataFrame) -> DataFrame:
    """Exact media dedup on content hash — native, no decode needed."""
    from pyspark.sql import Window

    keyed = media.withColumn("__k", F.sha2(F.col("content"), 256))
    w = Window.partitionBy("__k").orderBy("media_id")
    return (
        keyed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__k", "__rn")
    )
