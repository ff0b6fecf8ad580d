"""Stdlib PNG/BMP pixel codec: encode->decode round-trips across every
filter type and color type, BMP layouts, luma stats, and the
Spark image_pixel_stats operator."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from delm_spark.operators.image_codec import (
    decode_bmp,
    decode_image,
    decode_png,
    encode_png,
    luma,
    pixel_stats,
)


def _gradient(h, w, ch):
    rng = np.random.RandomState(42)
    base = (
        np.arange(h)[:, None, None] * 3 + np.arange(w)[None, :, None] * 5
    ) % 256
    img = (base + np.arange(ch)[None, None, :] * 11) % 256
    # noise makes filters non-trivial (gradients alone favor Sub/Up)
    return ((img + rng.randint(0, 64, (h, w, ch))) % 256).astype(np.uint8)


@pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_png_roundtrip_all_filters_and_colors(filter_type, ch):
    img = _gradient(13, 17, ch)
    data = encode_png(img, filter_type=filter_type)
    out = decode_png(data)
    assert out.shape == (13, 17, ch)
    np.testing.assert_array_equal(out, img)


def test_png_palette_decode():
    # hand-build a palette (color type 3) PNG: 2x3 indices into a 4-color PLTE
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]], np.uint8
    )
    idx = np.array([[0, 1, 2], [3, 2, 1]], np.uint8)
    raw = b"".join(b"\x00" + row.tobytes() for row in idx)

    def chunk(t, p):
        return struct.pack(">I", len(p)) + t + p + struct.pack(
            ">I", zlib.crc32(t + p) & 0xFFFFFFFF
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 8, 3, 0, 0, 0))
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    out = decode_png(png)
    np.testing.assert_array_equal(out, palette[idx])


def test_png_unsupported_shapes_raise():
    img = _gradient(4, 4, 3)
    data = bytearray(encode_png(img))
    # flip bit depth byte inside IHDR (offset: 8 sig + 8 len/type + 8 w/h)
    data[24] = 16
    # crc now wrong but IHDR is parsed before any crc check; depth gate fires
    with pytest.raises(ValueError, match="unsupported PNG"):
        decode_png(bytes(data))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"JUNK")


def _bmp(img, top_down=False, bpp=24):
    h, w, _ = img.shape
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    pix = bytearray()
    rows = range(h - 1, -1, -1) if not top_down else range(h)
    for y in rows:
        line = bytearray()
        for x in range(w):
            r, g, b = img[y, x]
            line += bytes([b, g, r] + ([255] if nch == 4 else []))
        line += b"\x00" * (row_bytes - len(line))
        pix += line
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, (-h if top_down else h), 1,
                      bpp, 0, len(pix), 2835, 2835, 0, 0)
    )
    return bytes(header + pix)


@pytest.mark.parametrize("top_down", [False, True])
@pytest.mark.parametrize("bpp", [24, 32])
def test_bmp_roundtrip(top_down, bpp):
    img = _gradient(5, 7, 3)
    out = decode_bmp(_bmp(img, top_down=top_down, bpp=bpp))
    np.testing.assert_array_equal(out, img)


def test_decode_image_dispatch_and_resilience():
    img = _gradient(6, 6, 3)
    assert decode_image(encode_png(img)).shape == (6, 6, 3)
    assert decode_image(_bmp(img)).shape == (6, 6, 3)
    assert decode_image(b"\xff\xd8\xff\xe0 jpeg-needs-a-codec") is None
    assert decode_image(b"") is None
    assert decode_image(b"\x89PNG\r\n\x1a\ntruncated") is None  # no raise


def test_resize_and_stats():
    img = _gradient(10, 20, 3)
    st = pixel_stats(img)
    assert st["n_pixels"] == 200
    assert 0 <= st["mean_luma"] <= 255
    assert abs(sum(st["luma_hist"]) - 1.0) < 1e-6
    # luma of a pure-gray image equals the gray values
    gray = np.full((3, 3), 111, np.uint8)
    np.testing.assert_allclose(luma(gray), 111.0)


def test_image_pixel_stats_spark_operator(spark):
    from delm_spark.operators.multimodal import MEDIA_SCHEMA, image_pixel_stats

    png_img = _gradient(8, 8, 3)
    rows = [
        ("m1", "image", bytearray(encode_png(png_img, filter_type=4)),
         "image/png", 8, 8, None),
        ("m2", "image", bytearray(_bmp(_gradient(4, 4, 3))),
         "image/bmp", 4, 4, None),
        ("m3", "image", bytearray(b"\xff\xd8\xff\xe0 not decodable"),
         "image/jpeg", None, None, None),
    ]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in image_pixel_stats(media).collect()}
    assert got["m1"]["format"] == "png" and got["m1"]["n_pixels"] == 64
    expected = pixel_stats(png_img)
    assert abs(got["m1"]["mean_luma"] - expected["mean_luma"]) < 1e-3
    assert got["m2"]["format"] == "bmp" and got["m2"]["n_pixels"] == 16
    # JPEG: header metadata only, pixel columns null, row not dropped
    assert got["m3"]["n_pixels"] is None and got["m3"]["mean_luma"] is None


# ---------------------------------------------------------------------------
# GIF (LZW from the public GIF89a spec)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("interlace", [False, True])
@pytest.mark.parametrize("ncol", [1, 2, 17, 256])
def test_gif_roundtrip(interlace, ncol):
    from delm_spark.operators.image_codec import decode_gif, encode_gif

    rng = np.random.RandomState(7)
    pal = rng.randint(0, 256, (ncol, 3)).astype(np.uint8)
    img = pal[rng.randint(0, ncol, (23, 31))]
    out = decode_gif(encode_gif(img, interlace=interlace))
    assert np.array_equal(out, img)


def test_gif_dictionary_clear_past_4096_codes():
    """A large noisy image forces the LZW dictionary through the 12-bit
    ceiling and the encoder's clear/rebuild cycle."""
    from delm_spark.operators.image_codec import decode_gif, encode_gif

    rng = np.random.RandomState(11)
    pal = rng.randint(0, 256, (256, 3)).astype(np.uint8)
    img = pal[rng.randint(0, 256, (200, 300))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


def test_gif_canonical_foreign_bytes():
    """The widely published minimal 1x1 white-pixel GIF89a (not produced
    by our encoder: has a graphic-control extension, different LZW
    packing) must decode — cross-validates against a foreign encoder."""
    from delm_spark.operators.image_codec import decode_gif

    g = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b"!\xf9\x04\x01\x00\x00\x00\x00"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00\x02\x02D\x01\x00;"
    )
    out = decode_gif(g)
    assert out.shape == (1, 1, 3) and out[0, 0].tolist() == [255, 255, 255]
    assert np.array_equal(decode_image(g), out)


def test_gif_encoder_rejects_wide_palettes():
    from delm_spark.operators.image_codec import encode_gif

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (40, 40, 3)).astype(np.uint8)  # ~1600 colors
    with pytest.raises(ValueError, match="256"):
        encode_gif(img)
