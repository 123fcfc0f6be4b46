"""Minimal, dependency-free PNG codec for page images (L / LA / RGB / RGBA).

The reference decodes page images with PIL and mode-dispatches on
L/LA/RGB/RGBA (reference: src/ocrd_anybaseocr/utils.py:4-24, ``pil2array``),
then channel-stacks grayscale to RGB where a color image is required
(reference: cli/ocrd_anybaseocr_cropping.py:144-145). This container has no
PIL/OpenCV, so media blobs are real PNG bytes produced/consumed by this
zlib+numpy codec. Encode always uses filter type 0 (None); decode supports
all five standard filters at any byte depth so externally produced PNGs
also work. Interlaced (Adam7) PNGs are rejected with a clear error.

Color → grayscale uses PIL's exact fixed-point ITU-R 601-2 luma transform
(L = (19595 R + 38470 G + 7471 B + 0x8000) >> 16) so a corpus decoded here
matches one decoded through the reference's PIL path bit-for-bit.

Images travel through Spark as BinaryType columns and are decoded only
inside mapInArrow stages (SURVEY.md §1.3).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# PNG color type -> (mode name, channel count); palette (3) unsupported.
_CTYPE_MODES = {0: ("L", 1), 2: ("RGB", 3), 4: ("LA", 2), 6: ("RGBA", 4)}


def _chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _encode(img: np.ndarray, ctype: int, dpi: int | None) -> bytes:
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    flat = img.reshape(h, -1)
    raw = np.empty((h, flat.shape[1] + 1), dtype=np.uint8)
    raw[:, 0] = 0  # filter byte 0 per row
    raw[:, 1:] = flat
    out = [_PNG_SIG, _chunk(b"IHDR", ihdr)]
    if dpi is not None:
        ppm = int(round(dpi / 0.0254))  # pixels per meter
        out.append(_chunk(b"pHYs", struct.pack(">IIB", ppm, ppm, 1)))
    out.append(_chunk(b"IDAT", zlib.compress(raw.tobytes(), 6)))
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def encode_gray(img: np.ndarray, dpi: int | None = None) -> bytes:
    """Encode a 2-D uint8 array as an 8-bit grayscale PNG.

    ``dpi`` is embedded as a pHYs chunk (meters-based), matching the
    reference's use of embedded resolution metadata to derive the 300-DPI
    zoom factor (reference: cli/ocrd_anybaseocr_cropping.py:129-151).
    """
    if img.ndim != 2 or img.dtype != np.uint8:
        raise ValueError("encode_gray expects a 2-D uint8 array")
    return _encode(img, 0, dpi)


def encode_rgb(img: np.ndarray, dpi: int | None = None) -> bytes:
    """Encode an HxWx3 uint8 array as an 8-bit RGB PNG (color type 2)."""
    if img.ndim != 3 or img.shape[2] != 3 or img.dtype != np.uint8:
        raise ValueError("encode_rgb expects an HxWx3 uint8 array")
    return _encode(img, 2, dpi)


def decode_image(data: bytes) -> tuple[np.ndarray, str, int | None]:
    """Mode-dispatched decode (F8): 8-bit L/LA/RGB/RGBA PNG →
    (uint8 array [HxW or HxWxC], mode, dpi or None).

    Mirrors the reference's pil2array dispatch (utils.py:4-24) without PIL.
    """
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = 0
    mode, nch = "L", 1
    dpi: int | None = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", body[:13]
            )
            if depth != 8 or ctype not in _CTYPE_MODES:
                raise ValueError(
                    f"only 8-bit L/LA/RGB/RGBA PNGs supported (depth={depth}, ctype={ctype})"
                )
            if interlace != 0:
                raise ValueError("interlaced PNG unsupported")
            mode, nch = _CTYPE_MODES[ctype]
        elif tag == b"pHYs":
            ppx, _ppy, unit = struct.unpack(">IIB", body)
            if unit == 1:
                dpi = int(round(ppx * 0.0254))
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    raw = raw.reshape(h, w * nch + 1)
    filters = raw[:, 0]
    img = np.ascontiguousarray(raw[:, 1:])  # single copy out of the zlib buffer
    if np.any(filters):
        img = _unfilter(img, filters, nch)
    if nch > 1:
        img = img.reshape(h, w, nch)
    return img, mode, dpi


def to_gray(img: np.ndarray, mode: str) -> np.ndarray:
    """K1: color → grayscale. RGB/RGBA use PIL's exact fixed-point ITU-R
    601-2 luma (alpha ignored, as PIL convert('L') does); LA drops alpha."""
    if mode == "L":
        return img
    if mode == "LA":
        return np.ascontiguousarray(img[:, :, 0])
    if mode in ("RGB", "RGBA"):
        # one uint32 accumulator updated in place: no full-image temporary
        # per product and sum
        acc = img[:, :, 0].astype(np.uint32)
        acc *= 19595
        for c, wgt in ((1, 38470), (2, 7471)):
            ch = img[:, :, c].astype(np.uint32)
            ch *= wgt
            acc += ch
        acc += 0x8000
        acc >>= 16
        return acc.astype(np.uint8)
    raise ValueError(f"unknown mode {mode!r}")


def decode_gray(data: bytes) -> tuple[np.ndarray, int | None]:
    """Decode any supported PNG into (uint8 HxW grayscale array, dpi or
    None) — the single entry point the pixel kernels consume; color pages
    are luminance-converted exactly as the reference's PIL 'L' convert."""
    img, mode, dpi = decode_image(data)
    return to_gray(img, mode), dpi


def _unfilter(img: np.ndarray, filters: np.ndarray, bpp: int = 1) -> np.ndarray:
    """Reverse PNG row filters 1-4 at ``bpp`` bytes per pixel.
    Row-sequential by necessity (each row's predictor needs the prior row).
    Up is one uint8 add and Sub a running sum mod 256 down each of the
    ``bpp`` byte lanes; Average and Paeth feed each byte into the one
    ``bpp`` to its right, so they loop over plain Python ints."""
    h, w = img.shape
    out = np.empty((h, w), dtype=np.uint8)
    up = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        f, row = filters[y], img[y]
        if f == 0:
            out[y] = row
        elif f == 1:  # Sub
            out[y] = np.cumsum(row.reshape(-1, bpp), axis=0, dtype=np.uint8).reshape(w)
        elif f == 2:  # Up
            out[y] = row + up
        elif f in (3, 4):  # Average, Paeth
            out[y] = _unfilter_chained(row.tolist(), up.tolist(), bpp, f)
        else:
            raise ValueError(f"bad PNG filter {f}")
        up = out[y]
    return out


def _unfilter_chained(row: list[int], up: list[int], bpp: int, f: int) -> list[int]:
    """One Average (3) or Paeth (4) row; ``r[-bpp]`` is the decoded byte
    one pixel to the left (0 before the first pixel)."""
    r = [0] * bpp
    if f == 3:
        for v, u in zip(row, up):
            r.append((v + ((r[-bpp] + u) >> 1)) & 0xFF)
    else:
        for v, u, ul in zip(row, up, [0] * bpp + up):
            left = r[-bpp]
            p = left + u - ul
            pa, pb, pc = abs(p - left), abs(p - u), abs(p - ul)
            r.append((v + (left if pa <= pb and pa <= pc else u if pb <= pc else ul)) & 0xFF)
    return r[bpp:]
