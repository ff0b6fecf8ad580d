"""Pure-stdlib image pixel codecs (PNG + BMP + GIF) for the multimodal path.

The reference treats media decode as a library call; this environment has
no codec libraries, but PNG's container is zlib + per-scanline filters,
uncompressed BMP is plain bytes, and GIF's LZW variant is ~80 lines from
the public GIF89a spec — so the pixel stage for those formats is REAL
here, not a stub. JPEG (baseline + progressive Huffman) is decoded by the
sibling operators/jpeg_codec.py and dispatched from decode_image below;
compressed audio/video stay behind the pluggable `decoder` seam in
operators/multimodal.py (those codecs genuinely need the libraries).

Scope (documented like io/pdf.py's):
  * PNG: 8-bit depth, color types 0/2/3/4/6 (gray, RGB, palette,
    gray+alpha, RGBA), filters 0-4, non-interlaced. Adam7 and 16-bit
    raise ValueError.
  * BMP: uncompressed 24/32-bit bottom-up or top-down.
  * GIF: first image block (87a/89a), global or local palette,
    interlaced or not, full variable-width LZW incl. deferred clear;
    transparency index ignored (features read color planes).
  * `encode_png` / `encode_gif` write valid files with chosen filter
    type / interlace — used by tests to round-trip every decode path and
    by fixture generators; they are real encoders (any reader opens
    their output).

Numpy is used for the vectorizable filters (Up, Sub via per-channel
cumsum); Average/Paeth are sequential by definition and run as plain
loops — correctness-first; a real pixel corpus would plug Pillow through
the decoder seam and never hit this fallback.
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> HxWxC uint8 array (palette expanded to RGB)."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    palette = None
    while pos + 8 <= len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + payload + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", payload)
        elif ctype == b"PLTE":
            palette = np.frombuffer(payload, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or color not in _CHANNELS:
        raise ValueError(
            f"unsupported PNG shape (depth={depth}, color={color}, "
            f"interlace={interlace}); stdlib scope is 8-bit non-interlaced"
        )
    ch = _CHANNELS[color]
    stride = w * ch
    raw = zlib.decompress(bytes(idat))
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.uint8)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw, np.uint8, stride, pos + 1).copy()
        pos += 1 + stride
        if f == 0:
            pass
        elif f == 1:  # Sub: per-channel prefix sum reconstructs exactly
            line = (
                np.cumsum(line.reshape(w, ch), axis=0, dtype=np.uint32) % 256
            ).astype(np.uint8).reshape(stride)
        elif f == 2:  # Up: vectorized wrap-add
            line = line + prev  # uint8 addition wraps mod 256
        elif f == 3:  # Average: sequential by definition
            for x in range(stride):
                left = int(line[x - ch]) if x >= ch else 0
                line[x] = (int(line[x]) + ((left + int(prev[x])) >> 1)) & 0xFF
        elif f == 4:  # Paeth: sequential by definition
            for x in range(stride):
                a = int(line[x - ch]) if x >= ch else 0
                c = int(prev[x - ch]) if x >= ch else 0
                line[x] = (int(line[x]) + _paeth(a, int(prev[x]), c)) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter {f}")
        out[y] = line
        prev = line
    img = out.reshape(h, w, ch)
    if color == 3:
        if palette is None:
            raise ValueError("palette image without PLTE")
        img = palette[img[:, :, 0]]
    return img


def _filter_line(line: np.ndarray, prev: np.ndarray, ch: int, f: int) -> np.ndarray:
    """Forward PNG filter (encode side) — exact inverse of the decode."""
    line = line.astype(np.int32)
    previ = prev.astype(np.int32)
    n = len(line)
    left = np.zeros(n, np.int32)
    left[ch:] = line[:-ch]
    ul = np.zeros(n, np.int32)
    ul[ch:] = previ[:-ch]
    if f == 0:
        out = line
    elif f == 1:
        out = line - left
    elif f == 2:
        out = line - previ
    elif f == 3:
        out = line - ((left + previ) >> 1)
    elif f == 4:
        pred = np.empty(n, np.int32)
        for x in range(n):
            pred[x] = _paeth(int(left[x]), int(previ[x]), int(ul[x]))
        out = line - pred
    else:
        raise ValueError(f)
    return (out % 256).astype(np.uint8)


def encode_png(img: np.ndarray, filter_type: int = 0) -> bytes:
    """HxW, HxWx1, HxWx3 or HxWx4 uint8 -> valid non-interlaced 8-bit PNG
    (every scanline uses `filter_type`)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = bytearray()
    prev = np.zeros(w * ch, np.uint8)
    for y in range(h):
        line = img[y].reshape(-1).astype(np.uint8)
        raw.append(filter_type)
        raw += _filter_line(line, prev, ch, filter_type).tobytes()
        prev = line

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _dib_pixels(img: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> bottom-up 24-bit BGR DIB pixel array (the BMP
    pixel layout without the file header), rows padded to 4 bytes."""
    h, w, _ = img.shape
    row_bytes = (w * 3 + 3) & ~3
    pix = bytearray()
    for y in range(h - 1, -1, -1):
        line = img[y][:, [2, 1, 0]].astype(np.uint8).tobytes()  # RGB -> BGR
        pix += line + b"\x00" * (row_bytes - len(line))
    return bytes(pix)


def encode_bmp(img: np.ndarray) -> bytes:
    """HxWx3 uint8 RGB -> uncompressed 24-bit bottom-up BMP (4-byte row
    padding) — the mirror of decode_bmp; any image viewer opens it."""
    h, w, _ = img.shape
    pix = _dib_pixels(img)
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        + struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
        )
    )
    return bytes(header + pix)


def decode_bmp(data: bytes) -> np.ndarray:
    """Uncompressed 24/32-bit BMP -> HxWx3 uint8 (BGR converted to RGB)."""
    if data[:2] != b"BM":
        raise ValueError("not a BMP")
    (pix_off,) = struct.unpack("<I", data[10:14])
    w, h_signed = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={compression})")
    h = abs(h_signed)
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    img = np.zeros((h, w, 3), np.uint8)
    for row in range(h):
        off = pix_off + row * row_bytes
        line = np.frombuffer(data, np.uint8, w * nch, off).reshape(w, nch)
        # bottom-up unless height is negative
        y = h - 1 - row if h_signed > 0 else row
        img[y] = line[:, [2, 1, 0]]  # BGR -> RGB
    return img


def decode_image(data: bytes) -> Optional[np.ndarray]:
    """Dispatch by magic bytes; None when the format is outside the
    stdlib codecs' scope (arithmetic-coded JPEG, 16-bit PNG, ...) or the
    payload is not an image."""
    b = data or b""
    try:
        if b[:8] == _PNG_SIG:
            return decode_png(b)
        if b[:2] == b"BM":
            return decode_bmp(b)
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return decode_gif(b)
        if b[:2] == b"\xff\xd8":
            from delm_spark.operators.jpeg_codec import decode_jpeg

            return decode_jpeg(b)
    except (ValueError, zlib.error, struct.error, IndexError):
        # malformed-payload signals only: the codecs raise ValueError for
        # every structural violation they detect (incl. undeclared
        # DQT/DHT/component ids — validated explicitly in jpeg_codec, so
        # no raw KeyError/AttributeError needs swallowing here, and a
        # genuine programming error in a codec still fails loudly).
        # Returning None keeps the Arrow scan's rows-with-null-pixels
        # contract instead of failing the whole job on one bad file.
        return None
    return None


def luma(img: np.ndarray) -> np.ndarray:
    """Rec. 601 luma plane from 1/2/3/4-channel uint8."""
    if img.ndim == 2:
        return img.astype(np.float32)
    ch = img.shape[2]
    if ch in (1, 2):  # gray / gray+alpha
        return img[:, :, 0].astype(np.float32)
    rgb = img[:, :, :3].astype(np.float32)
    return rgb @ np.array([0.299, 0.587, 0.114], np.float32)


def pixel_stats(img: np.ndarray) -> dict:
    """Deterministic pixel features: mean/std luma + normalized 16-bin
    histogram."""
    y = luma(img)
    hist, _ = np.histogram(y, bins=16, range=(0.0, 256.0))
    n = y.size or 1
    return {
        "mean_luma": float(y.mean()) if y.size else 0.0,
        "std_luma": float(y.std()) if y.size else 0.0,
        "luma_hist": (hist / n).astype(np.float32).tolist(),
        "n_pixels": int(y.size),
    }


# ---------------------------------------------------------------------------
# GIF (GIF87a/GIF89a, public spec): LZW-compressed palette images. The LZW
# codec below is implemented from the spec — variable-width codes starting at
# min_code_size+1, clear/end codes, 12-bit dictionary ceiling — so GIF pixels
# are REAL here like PNG/BMP, closing the former "GIF needs a library" gate.
# Scope: first image block only (animation = later frames ignored), global or
# local palette, interlaced or not; transparency index is ignored (pixel
# features read color planes, not alpha).
# ---------------------------------------------------------------------------


def _gif_subblocks(data: bytes, pos: int) -> tuple[bytearray, int]:
    """Concatenate length-prefixed sub-blocks starting at pos; returns
    (payload, position after the 0 terminator)."""
    out = bytearray()
    while True:
        n = data[pos]
        pos += 1
        if n == 0:
            return out, pos
        out += data[pos : pos + n]
        pos += n


def _lzw_decode(payload: bytes, min_code_size: int, n_pixels: int) -> bytearray:
    """GIF-variant LZW: emits exactly n_pixels palette indices."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    # dictionary as list of bytes; rebuilt on clear
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    prev: bytes | None = None
    acc = 0
    nbits = 0
    for byte in payload:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = list(base)
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                if len(table) < 4096:  # deferred-clear: table freezes at cap
                    table.append(prev + entry[:1])
            elif code == len(table) and len(table) < 4096:  # the KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            out += entry
            if len(out) >= n_pixels:
                return out
            prev = entry
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
    return out


def _interlace_order(h: int) -> np.ndarray:
    """GIF's 4-pass row interleave: the image row stored at each position."""
    return np.array(
        list(range(0, h, 8))
        + list(range(4, h, 8))
        + list(range(2, h, 4))
        + list(range(1, h, 2)),
        np.int64,
    )


def _deinterlace(idx: np.ndarray, w: int, h: int) -> np.ndarray:
    """Undo GIF's 4-pass row interleave."""
    return idx.reshape(h, w)[np.argsort(_interlace_order(h))]


def decode_gif(data: bytes) -> np.ndarray:
    """GIF bytes -> HxWx3 uint8 RGB of the FIRST image block."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    sw, sh, packed = struct.unpack("<HHB", data[6:11])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks, all skippable
            pos += 1
            _, pos = _gif_subblocks(data, pos)
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        _, _, w, h, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        palette = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            palette = np.frombuffer(data, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if palette is None:
            raise ValueError("GIF image without a color table")
        min_code_size = data[pos]
        pos += 1
        payload, pos = _gif_subblocks(data, pos)
        n_pixels = w * h
        raw = _lzw_decode(bytes(payload), min_code_size, n_pixels)
        if len(raw) < n_pixels:
            raise ValueError("truncated GIF pixel data")
        idx = np.frombuffer(bytes(raw[:n_pixels]), np.uint8)
        plane = (
            _deinterlace(idx, w, h) if ipacked & 0x40 else idx.reshape(h, w)
        )
        return palette[np.minimum(plane, len(palette) - 1)]
    raise ValueError("GIF contains no image block")


def _lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Spec LZW encoder (used by encode_gif and the round-trip tests)."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0
    code_size = min_code_size + 1

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    emit(clear)
    prefix = b""
    for b in indices:
        cand = prefix + bytes([b])
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix])
        table[cand] = next_code
        next_code += 1
        if next_code > (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code >= 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            code_size = min_code_size + 1
        prefix = bytes([b])
    if prefix:
        emit(table[prefix])
    emit(end)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(img: np.ndarray, interlace: bool = False) -> bytes:
    """HxWx3 uint8 (≤256 distinct colors) -> single-frame GIF89a bytes.
    A real encoder — any GIF reader opens its output; used by tests and
    fixture generators to round-trip the decoder without a library."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_gif expects HxWx3 uint8")
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    palette, inverse = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError("encode_gif supports at most 256 distinct colors")
    bits = max(1, int(len(palette) - 1).bit_length())
    n = 1 << bits
    pal = np.zeros((n, 3), np.uint8)
    pal[: len(palette)] = palette
    min_code_size = max(2, bits)
    idx = inverse.astype(np.uint8).reshape(h, w)
    if interlace:
        idx = idx[_interlace_order(h)]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += pal.tobytes()
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    out.append(min_code_size)
    lzw = _lzw_encode(idx.tobytes(), min_code_size)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
