"""Stdlib WAV/AVI codecs and the Arrow audio/video feature operators.

The reference decodes media through codec libraries (data_loaders take
opaque payloads); here PCM WAV and uncompressed-DIB AVI are decoded with
pure struct/numpy (operators/av_codec.py) — these tests pin the
round-trip exactness, RIFF edge cases, and the null-row (not crash)
behavior for payloads that genuinely need a codec library.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
import pytest
from pyspark.sql import functions as F

from delm_spark.operators.av_codec import (
    audio_stats,
    decode_avi,
    decode_wav,
    encode_avi,
    encode_wav,
    sample_frames,
)
from delm_spark.operators.multimodal import audio_features, video_frame_stats

RNG = np.random.default_rng(42)


# --------------------------------------------------------------------------
# WAV
# --------------------------------------------------------------------------


def test_wav_16bit_stereo_roundtrip():
    s = RNG.integers(-32768, 32768, size=(777, 2), dtype=np.int16)
    rate, out = decode_wav(encode_wav(s, 44100))
    assert rate == 44100 and out.shape == (777, 2)
    assert (out == s).all()


def test_wav_8bit_roundtrip_exact_on_high_bytes():
    # 8-bit storage keeps the high byte; values built as (v-128)<<8
    # round-trip exactly
    s = ((RNG.integers(0, 256, 300).astype(np.int16) - 128) << 8).astype(np.int16)
    rate, out = decode_wav(encode_wav(s, 8000, bits=8))
    assert rate == 8000 and (out[:, 0] == s).all()


def test_wav_stdlib_wave_module_reads_our_output():
    s = RNG.integers(-1000, 1000, size=(250, 1), dtype=np.int16)
    wf = wave.open(io.BytesIO(encode_wav(s, 16000)))
    assert wf.getframerate() == 16000
    assert wf.getnchannels() == 1
    assert wf.getsampwidth() == 2
    assert wf.getnframes() == 250
    assert np.frombuffer(wf.readframes(250), "<i2").tolist() == s[:, 0].tolist()


def test_wav_skips_unknown_chunks_and_honors_padding():
    s = np.arange(-5, 6, dtype=np.int16)  # 11 samples
    raw = encode_wav(s, 8000)
    # splice an odd-length LIST chunk (9 bytes -> 1 pad byte) before data
    head, data = raw[:12], raw[12:]
    fmt_len = 8 + struct.unpack("<I", data[4:8])[0]
    alien = b"LIST" + struct.pack("<I", 9) + b"INFOxxxxx" + b"\x00"
    spliced = head + data[:fmt_len] + alien + data[fmt_len:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    rate, out = decode_wav(spliced)
    assert rate == 8000 and (out[:, 0] == s).all()


def test_wav_rejects_non_pcm_truncated_and_garbage():
    s = np.zeros(4, np.int16)
    raw = bytearray(encode_wav(s, 8000))
    raw[20:22] = struct.pack("<H", 3)  # format tag 3 = IEEE float
    with pytest.raises(ValueError, match="PCM"):
        decode_wav(bytes(raw))
    ok = encode_wav(np.zeros(100, np.int16), 8000)
    with pytest.raises(ValueError, match="truncated"):
        decode_wav(ok[:-50])
    with pytest.raises(ValueError, match="not a WAV"):
        decode_wav(b"\x00" * 64)


def test_audio_stats_closed_form():
    s = np.array([5, -3, 0, -1, 2, 2], dtype=np.int16)[:, None]
    st = audio_stats(6, s)
    assert st["n_samples"] == 6
    assert st["duration_ms"] == 1000
    assert st["sample_sum"] == 5
    assert st["peak_abs"] == 5
    # sign flips (negative vs non-negative): 5|-3, -3|0, 0|-1, -1|2
    assert st["zero_crossings"] == 4


# --------------------------------------------------------------------------
# AVI
# --------------------------------------------------------------------------


def test_avi_roundtrip_pixels_exact():
    frames = [RNG.integers(0, 256, (6, 5, 3)).astype(np.uint8) for _ in range(9)]
    fps, out = decode_avi(encode_avi(frames, fps=12))
    assert fps == 12 and len(out) == 9
    for a, b in zip(frames, out):
        assert (a == b).all()


def test_avi_frame_sampling_every_k_and_cap():
    frames = [np.full((4, 4, 3), i, np.uint8) for i in range(10)]
    avi = encode_avi(frames, fps=5)
    fps, n, picked = sample_frames(avi, every_k=3)
    assert (fps, n) == (5, 10)
    assert [i for i, _ in picked] == [0, 3, 6, 9]
    assert all(int(f[0, 0, 0]) == i for i, f in picked)


def test_avi_rejects_compressed_stream_and_garbage():
    frames = [np.zeros((4, 4, 3), np.uint8)]
    raw = bytearray(encode_avi(frames, fps=10))
    raw[raw.find(b"vids") + 4 : raw.find(b"vids") + 8] = b"H264"
    with pytest.raises(ValueError, match="compressed"):
        decode_avi(bytes(raw))
    with pytest.raises(ValueError, match="not an AVI"):
        decode_avi(b"RIFF\x00\x00\x00\x00WAVE")


# --------------------------------------------------------------------------
# Spark operators (Arrow-batched, null rows for undecodable payloads)
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def av_media(spark):
    rows = []
    for i in range(8):
        s = ((np.arange(100) * (i + 1)) % 256 - 128).astype(np.int16) * 256
        rows.append((f"a{i}", encode_wav(s.astype(np.int16), 8000)))
    frames = [np.full((4, 4, 3), 7 * i, np.uint8) for i in range(6)]
    rows.append(("v0", encode_avi(frames, fps=3)))
    rows.append(("bad", b"not media at all"))
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["media_id", "content"])
    )


def test_audio_features_operator(spark, av_media):
    out = {r["media_id"]: r for r in audio_features(av_media).collect()}
    assert len(out) == 10
    for i in range(8):
        r = out[f"a{i}"]
        assert r["format"] == "wav" and r["sample_rate"] == 8000
        assert r["n_samples"] == 100 and r["duration_ms"] == 12
        expect = int((((np.arange(100) * (i + 1)) % 256 - 128) * 256).sum())
        assert r["sample_sum"] == expect
    # AVI and garbage payloads -> null features, not failures
    assert out["v0"]["format"] is None and out["v0"]["n_samples"] is None
    assert out["bad"]["format"] is None


def test_video_frame_stats_operator(spark, av_media):
    out = video_frame_stats(av_media, every_k=2).collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    # 8 WAVs + 1 garbage -> one null row each; AVI -> frames 0,2,4
    v = sorted(by_id["v0"], key=lambda r: r["frame_idx"])
    assert [r["frame_idx"] for r in v] == [0, 2, 4]
    assert all(r["n_frames"] == 6 and r["fps"] == 3 for r in v)
    for r in v:
        assert r["n_pixels"] == 16
        assert abs(r["mean_luma"] - 7 * r["frame_idx"]) < 1e-5
    assert by_id["bad"][0]["frame_idx"] is None
    assert by_id["a0"][0]["frame_idx"] is None
