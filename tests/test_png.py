"""PNG codec mode dispatch (F8/K1): L/LA/RGB/RGBA round-trips, PIL-exact
luminance conversion, interlace rejection, and multi-byte-pixel unfiltering."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from ocrd_anybaseocr_spark.png import (
    _chunk,
    _PNG_SIG,
    decode_gray,
    decode_image,
    encode_gray,
    encode_rgb,
    to_gray,
)


def test_gray_roundtrip_with_dpi():
    img = (np.arange(120 * 80, dtype=np.uint32) % 251).astype(np.uint8).reshape(120, 80)
    out, dpi = decode_gray(encode_gray(img, dpi=300))
    assert dpi == 300
    assert np.array_equal(out, img)


def test_rgb_roundtrip_and_luminance():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(40, 30, 3), dtype=np.uint8)
    decoded, mode, dpi = decode_image(encode_rgb(img, dpi=150))
    assert mode == "RGB" and dpi == 150
    assert np.array_equal(decoded, img)
    # luminance must be PIL's exact fixed-point ITU-R 601-2 transform
    r, g, b = (img[:, :, k].astype(np.uint32) for k in range(3))
    want = ((19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16).astype(np.uint8)
    gray, _ = decode_gray(encode_rgb(img))
    assert np.array_equal(gray, want)


def _png(ctype: int, nch: int, h=5, w=4, interlace=0, filters=None):
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, interlace)
    rng = np.random.default_rng(9)
    px = rng.integers(0, 256, size=(h, w * nch), dtype=np.uint8)
    raw = np.zeros((h, w * nch + 1), dtype=np.uint8)
    raw[:, 1:] = px
    if filters is not None:
        raw[:, 0] = filters
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + _chunk(b"IEND", b""),
        px.reshape(h, w, nch) if nch > 1 else px,
    )


def test_la_and_rgba_modes():
    data, px = _png(4, 2)
    img, mode, _ = decode_image(data)
    assert mode == "LA" and np.array_equal(img, px)
    assert np.array_equal(to_gray(img, mode), px[:, :, 0])  # alpha dropped

    data, px = _png(6, 4)
    img, mode, _ = decode_image(data)
    assert mode == "RGBA" and np.array_equal(img, px)
    r, g, b = (px[:, :, k].astype(np.uint32) for k in range(3))
    want = ((19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16).astype(np.uint8)
    assert np.array_equal(to_gray(img, mode), want)


def test_interlaced_rejected():
    data, _ = _png(0, 1, interlace=1)
    with pytest.raises(ValueError, match="interlaced"):
        decode_image(data)


def test_unsupported_ctype_rejected():
    data, _ = _png(3, 1)  # palette
    with pytest.raises(ValueError, match="ctype"):
        decode_image(data)


def _filtered_png(img: np.ndarray, filters: np.ndarray, bpp: int) -> bytes:
    """Encode ``img`` (H x W*bpp bytes) with the given per-row filters,
    the way an external encoder would."""
    h, n = img.shape
    rows = img.astype(int).tolist()
    enc = np.zeros((h, n), dtype=np.uint8)
    for y in range(h):
        for x in range(n):
            left = rows[y][x - bpp] if x >= bpp else 0
            up = rows[y - 1][x] if y > 0 else 0
            ul = rows[y - 1][x - bpp] if (y > 0 and x >= bpp) else 0
            f = filters[y]
            if f == 0:
                pred = 0
            elif f == 1:
                pred = left
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
            enc[y, x] = (rows[y][x] - pred) & 0xFF
    raw = np.zeros((h, n + 1), dtype=np.uint8)
    raw[:, 0] = filters
    raw[:, 1:] = enc
    ihdr = struct.pack(">IIBBBBB", n // bpp, h, 8, {1: 0, 3: 2}[bpp], 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw.tobytes()))
        + _chunk(b"IEND", b"")
    )


def test_rgb_filters_unfilter_with_bpp():
    """Sub/Average/Paeth reference the pixel BPP bytes left — a gray or RGB
    image filtered externally (every filter, in shuffled order, after every
    other) must still decode exactly."""
    rng = np.random.default_rng(21)
    h, w = 64, 257
    for bpp, mode in ((1, "L"), (3, "RGB")):
        img = rng.integers(0, 256, size=(h, w * bpp), dtype=np.uint8)
        filters = rng.permutation(np.arange(h) % 5).astype(np.uint8)
        out, got_mode, _ = decode_image(_filtered_png(img, filters, bpp))
        assert got_mode == mode
        assert np.array_equal(out.reshape(h, w * bpp), img), bpp
