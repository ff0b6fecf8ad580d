"""Pure-stdlib audio/video codecs (PCM WAV + uncompressed AVI) for the
multimodal path.

The reference treats media decode as a library call (torchaudio/ffmpeg);
this environment has no codec libraries, but RIFF containers with
uncompressed payloads are plain struct-parseable bytes — so the decode
stage for PCM WAV audio and DIB-frame AVI video is REAL here, not a
stub. Compressed codecs (MP3/AAC, H.264/VP9, MJPEG) genuinely need the
libraries and stay behind the pluggable `decoder` seam in
operators/multimodal.py.

Scope (documented like image_codec.py's):
  * WAV: RIFF/WAVE, PCM (format tag 1), 8-bit unsigned or 16-bit signed
    LE, any channel count; unknown chunks (LIST, fact, cue, ...) are
    skipped with RIFF odd-size padding honored. Float/ADPCM/extensible
    formats raise ValueError.
  * AVI: RIFF/'AVI ', single 'vids' stream of uncompressed bottom-up
    24-bit DIB frames ('00db' chunks, BMP pixel-array layout without the
    file header). Compressed fourccs raise ValueError.
  * `encode_wav` / `encode_avi` write spec-valid files (any media player
    opens them) — used by tests to round-trip every path and by the
    oracle queries to build payloads whose decoded features are
    closed-form functions of the source text.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np

from delm_spark.operators.image_codec import _dib_pixels

# --------------------------------------------------------------------------
# WAV (RIFF/WAVE, PCM)
# --------------------------------------------------------------------------


def encode_wav(samples: np.ndarray, sample_rate: int, bits: int = 16) -> bytes:
    """(n,) or (n, ch) int16 samples -> PCM WAV bytes.

    bits=8 stores unsigned 8-bit (the WAV convention): each int16 sample
    is truncated to its high byte + 128, the exact inverse of decode.
    """
    if samples.ndim == 1:
        samples = samples[:, None]
    n, ch = samples.shape
    if bits == 16:
        payload = samples.astype("<i2").tobytes()
    elif bits == 8:
        payload = ((samples.astype(np.int32) >> 8) + 128).astype(np.uint8).tobytes()
    else:
        raise ValueError(f"unsupported bit depth {bits}")
    block_align = ch * bits // 8
    fmt = struct.pack(
        "<HHIIHH", 1, ch, sample_rate, sample_rate * block_align, block_align, bits
    )
    chunks = _riff_chunk(b"fmt ", fmt) + _riff_chunk(b"data", payload)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def _riff_chunk(ctype: bytes, payload: bytes) -> bytes:
    pad = b"\x00" if len(payload) % 2 else b""  # RIFF chunks are word-aligned
    return ctype + struct.pack("<I", len(payload)) + payload + pad


def _iter_riff_chunks(data: bytes, pos: int, end: int):
    while pos + 8 <= end:
        ctype = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        payload_at = pos + 8
        yield ctype, payload_at, length
        pos = payload_at + length + (length % 2)


def decode_wav(data: bytes) -> tuple[int, np.ndarray]:
    """PCM WAV bytes -> (sample_rate, (n, ch) int16 array).

    8-bit payloads are widened to int16 via (v - 128) << 8 so every
    consumer sees one dtype.
    """
    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    fmt = None
    payload = None
    for ctype, at, length in _iter_riff_chunks(data, 12, len(data)):
        if ctype == b"fmt ":
            fmt = struct.unpack("<HHIIHH", data[at : at + 16])
        elif ctype == b"data":
            if at + length > len(data):
                raise ValueError("truncated WAV data chunk")
            payload = data[at : at + length]
    if fmt is None or payload is None:
        raise ValueError("missing fmt /data chunk")
    tag, ch, rate, _byterate, _align, bits = fmt
    if tag != 1 or bits not in (8, 16) or ch < 1:
        raise ValueError(
            f"unsupported WAV (format={tag}, bits={bits}); stdlib scope is PCM 8/16-bit"
        )
    if bits == 16:
        arr = np.frombuffer(payload[: len(payload) // (2 * ch) * 2 * ch], "<i2")
        samples = arr.astype(np.int16)
    else:
        arr = np.frombuffer(payload[: len(payload) // ch * ch], np.uint8)
        samples = ((arr.astype(np.int16) - 128) << 8).astype(np.int16)
    return rate, samples.reshape(-1, ch)


def audio_stats(sample_rate: int, samples: np.ndarray) -> dict:
    """Deterministic integer-exact audio features over channel 0:
    duration, amplitude sum, peak, zero crossings (sign flips between
    consecutive samples, negative vs non-negative)."""
    s = samples[:, 0].astype(np.int64)
    n = len(s)
    return {
        "sample_rate": int(sample_rate),
        "channels": int(samples.shape[1]),
        "n_samples": n,
        "duration_ms": n * 1000 // sample_rate if sample_rate else 0,
        "sample_sum": int(s.sum()),
        "peak_abs": int(np.abs(s).max()) if n else 0,
        "zero_crossings": int(np.sum((s[:-1] < 0) != (s[1:] < 0))) if n > 1 else 0,
    }


# --------------------------------------------------------------------------
# AVI (RIFF/'AVI ', uncompressed 24-bit DIB frames)
# --------------------------------------------------------------------------

_DIB_FOURCC = (b"\x00\x00\x00\x00", b"DIB ", b"RGB ", b"raw ")


def _decode_dib_frame(data: bytes, w: int, h: int) -> np.ndarray:
    row_bytes = (w * 3 + 3) & ~3
    if len(data) < row_bytes * h:
        raise ValueError("truncated DIB frame")
    img = np.zeros((h, w, 3), np.uint8)
    for row in range(h):
        line = np.frombuffer(data, np.uint8, w * 3, row * row_bytes).reshape(w, 3)
        img[h - 1 - row] = line[:, [2, 1, 0]]  # bottom-up BGR -> RGB
    return img


def _riff_list(list_type: bytes, payload: bytes) -> bytes:
    return _riff_chunk(b"LIST", list_type + payload)


def encode_avi(frames: list[np.ndarray], fps: int = 10) -> bytes:
    """List of HxWx3 uint8 RGB frames -> uncompressed AVI bytes
    (single 'vids' stream of '00db' DIB chunks)."""
    if not frames:
        raise ValueError("no frames")
    h, w, _ = frames[0].shape
    frame_bytes = ((w * 3 + 3) & ~3) * h
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps,  # microseconds per frame
        frame_bytes * fps,  # max bytes per sec
        0,  # padding granularity
        0x10,  # flags: AVIF_HASINDEX not set, AVIF_WASCAPTUREFILE-ish
        len(frames),
        0,  # initial frames
        1,  # streams
        frame_bytes,
        w,
        h,
        0, 0, 0, 0,  # reserved
    )
    strh = (
        b"vids"
        + b"DIB "
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames),
                      frame_bytes, 0, 0xFFFFFFFF)
        + struct.pack("<hhhh", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, frame_bytes, 0, 0, 0, 0
    )
    hdrl = _riff_list(
        b"hdrl",
        _riff_chunk(b"avih", avih)
        + _riff_list(b"strl", _riff_chunk(b"strh", strh) + _riff_chunk(b"strf", strf)),
    )
    movi = _riff_list(
        b"movi", b"".join(_riff_chunk(b"00db", _dib_pixels(f)) for f in frames)
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(data: bytes) -> tuple[int, list[np.ndarray]]:
    """Uncompressed AVI bytes -> (fps, list of HxWx3 uint8 RGB frames)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not an AVI")
    w = h = None
    fps = 0
    frames: list[np.ndarray] = []

    def walk(pos: int, end: int) -> None:
        nonlocal w, h, fps
        for ctype, at, length in _iter_riff_chunks(data, pos, end):
            if ctype == b"LIST":
                walk(at + 4, at + length)
            elif ctype == b"avih":
                vals = struct.unpack("<IIIIIIIIII", data[at : at + 40])
                fps = 1_000_000 // vals[0] if vals[0] else 0
                w, h = vals[8], vals[9]
            elif ctype == b"strh":
                if data[at : at + 4] == b"vids" and data[at + 4 : at + 8] not in _DIB_FOURCC:
                    raise ValueError(
                        f"compressed AVI stream {data[at + 4:at + 8]!r}; "
                        "stdlib scope is uncompressed DIB frames"
                    )
            elif ctype in (b"00db", b"00dc"):
                if w is None:
                    raise ValueError("frame chunk before avih header")
                frames.append(_decode_dib_frame(data[at : at + length], w, h))

    walk(12, len(data))
    if w is None:
        raise ValueError("missing avih header")
    return fps, frames


def sample_frames(
    data: bytes, every_k: int = 1
) -> tuple[int, int, list[tuple[int, np.ndarray]]]:
    """AVI bytes -> (fps, n_frames, [(frame_idx, frame), ...]) keeping
    every k-th frame — the fixed-rate frame-sampling step of a video
    training pipeline."""
    fps, frames = decode_avi(data)
    picked = [(i, f) for i, f in enumerate(frames) if i % every_k == 0]
    return fps, len(frames), picked
