"""The page kernels against test-local copies of their earlier formulas.

runs_from_image, _find_runs, normalize_gray, flatten_background and
png.to_gray were rewritten to move less memory. Each must return the same
arrays, dtypes included, as the formula it replaced; the copies below are
those formulas, kept here as the reference."""

from __future__ import annotations

import numpy as np
import pytest

from ocrd_anybaseocr_spark.kernels.binarize import (
    FLATTEN_PCT,
    FLATTEN_TILE,
    flatten_background,
    normalize_gray,
)
from ocrd_anybaseocr_spark.kernels.components import RUN_STRIP, _find_runs, runs_from_image
from ocrd_anybaseocr_spark.png import to_gray


def _ref_runs(mask: np.ndarray):
    """int8 row diff of the zero-padded mask, 2-D nonzero, sign gather."""
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    diff = np.diff(padded, axis=1)
    rr, cc = np.nonzero(diff)
    up = diff[rr, cc] == 1
    return rr[up], cc[up], cc[~up]


def _ref_normalize_gray(img, lo_pct=5.0, hi_pct=90.0):
    sample = img[::4] if img.shape[0] > 16 else img
    cum = np.cumsum(np.bincount(sample.ravel(), minlength=256))
    n = int(cum[-1])
    if n == 0:
        return img

    def pctl(q):
        pos = (n - 1) * (q / 100.0)
        k = int(np.floor(pos))
        vlo = float(np.searchsorted(cum, k + 1))
        vhi = float(np.searchsorted(cum, min(k + 2, n)))
        return vlo + (vhi - vlo) * (pos - k)

    lo, hi = pctl(lo_pct), pctl(hi_pct)
    if hi - lo < 1.0 or hi - lo < 0.25 * hi:
        return img
    lut = np.clip(
        np.round((np.arange(256, dtype=np.float64) - lo) * (255.0 / (hi - lo))), 0, 255
    ).astype(np.uint8)
    return lut[img]


def _ref_flatten_background(img):
    h, w = img.shape
    tile = FLATTEN_TILE
    ty, tx = (h + tile - 1) // tile, (w + tile - 1) // tile
    p = np.pad(img, ((0, ty * tile - h), (0, tx * tile - w)), mode="edge")
    blocks = p.reshape(ty, tile, tx, tile).transpose(0, 2, 1, 3).reshape(ty, tx, tile * tile)
    bg = np.percentile(blocks, FLATTEN_PCT, axis=2).astype(np.float32)
    if ty == 1 and tx == 1:
        bgf = np.full((h, w), max(float(bg[0, 0]), 1.0), dtype=np.float32)
    else:
        yy = np.linspace(0.0, ty - 1.0, h)
        xx = np.linspace(0.0, tx - 1.0, w)
        y0 = np.floor(yy).astype(np.int64)
        x0 = np.floor(xx).astype(np.int64)
        y1 = np.minimum(y0 + 1, ty - 1)
        x1 = np.minimum(x0 + 1, tx - 1)
        fy = (yy - y0).astype(np.float32)[:, None]
        fx = (xx - x0).astype(np.float32)[None, :]
        top = bg[y0][:, x0] * (1.0 - fx) + bg[y0][:, x1] * fx
        bot = bg[y1][:, x0] * (1.0 - fx) + bg[y1][:, x1] * fx
        bgf = np.maximum(top * (1.0 - fy) + bot * fy, 1.0)
    out = np.clip(img.astype(np.float32) / bgf * 235.0, 0.0, 255.0)
    return np.rint(out).astype(np.uint8)


def _ref_to_gray(img):
    r = img[:, :, 0].astype(np.uint32)
    g = img[:, :, 1].astype(np.uint32)
    b = img[:, :, 2].astype(np.uint32)
    return ((19595 * r + 38470 * g + 7471 * b + 0x8000) >> 16).astype(np.uint8)


def _assert_same(got, want):
    assert got.dtype == want.dtype and got.shape == want.shape
    assert np.array_equal(got, want)


def _edge_images():
    """(name, uint8 image): degenerate shapes, strip boundaries, solid
    fills and ink touching the first and last columns."""
    rng = np.random.default_rng(7)
    out = [
        ("1x1", rng.integers(0, 256, (1, 1), dtype=np.uint8)),
        ("1xw", rng.integers(0, 256, (1, 97), dtype=np.uint8)),
        ("hx1", rng.integers(0, 256, (301, 1), dtype=np.uint8)),
        ("all_ink", np.zeros((RUN_STRIP + 3, 40), dtype=np.uint8)),
        ("no_ink", np.full((RUN_STRIP + 3, 40), 255, dtype=np.uint8)),
    ]
    for h in (RUN_STRIP - 1, RUN_STRIP, RUN_STRIP + 1, 2 * RUN_STRIP + 1):
        out.append((f"h{h}", rng.integers(0, 256, (h, 53), dtype=np.uint8)))
    edges = np.full((RUN_STRIP + 1, 33), 200, dtype=np.uint8)
    edges[:, 0] = edges[:, -1] = 10  # one-pixel runs at column 0 and w-1
    edges[::3, :5] = 20  # runs from column 0 inward
    edges[1::3, -5:] = 20  # runs ending at column w-1
    out.append(("edge_columns", edges))
    return out


def _random_images(n=8):
    rng = np.random.default_rng(20261020)
    for i in range(n):
        h, w = int(rng.integers(1, 400)), int(rng.integers(1, 300))
        yield f"rand{i}_{h}x{w}", rng.integers(0, 256, (h, w), dtype=np.uint8)


@pytest.mark.parametrize("threshold", [0, 100, 128, 255])
def test_runs_equal_reference_formula(threshold):
    """runs_from_image, _find_runs and the int8-diff/nonzero formula give
    the same int64 (row, start, end) arrays, in the same order."""
    for name, img in [*_edge_images(), *_random_images()]:
        want = _ref_runs(img <= threshold)
        fused = runs_from_image(img, threshold)
        masked = _find_runs(img <= threshold)
        for got in (fused, masked):
            assert len(got) == 3, name
            for g, wnt in zip(got, want):
                assert g.dtype == np.int64, (name, g.dtype)
                assert np.array_equal(g, wnt), name


def _shaded(h, w, seed):
    """A vignetted page with sparse ink and noise: both kernels' active paths."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    shade = 1.0 - 0.5 * (((yy - h / 2) / max(h, 1)) ** 2 + ((xx - w / 2) / max(w, 1)) ** 2)
    page = 215.0 * shade + rng.normal(0.0, 6.0, (h, w))
    page[rng.random((h, w)) < 0.08] = 60.0
    return np.clip(page, 0, 255).astype(np.uint8)


FLATTEN_SHAPES = [
    (40, 50), (FLATTEN_TILE, FLATTEN_TILE),  # single tile
    (1, 300), (300, 1), (FLATTEN_TILE + 1, FLATTEN_TILE + 1),
    (130, 200), (257, 129), (3 * FLATTEN_TILE, 5 * FLATTEN_TILE),
]


@pytest.mark.parametrize("shape", FLATTEN_SHAPES)
def test_flatten_background_equals_reference(shape):
    for seed in (1, 2):
        img = _shaded(*shape, seed)
        _assert_same(flatten_background(img), _ref_flatten_background(img))


def test_normalize_gray_equals_reference():
    rng = np.random.default_rng(11)
    imgs = [_shaded(*s, 3) for s in FLATTEN_SHAPES]
    imgs += [rng.integers(60, 230, (h, w), dtype=np.uint8) for h, w in ((17, 90), (333, 41))]
    imgs += [np.full((20, 20), 128, np.uint8), np.zeros((1, 1), np.uint8)]
    stretched = 0
    for img in imgs:
        want = _ref_normalize_gray(img)
        _assert_same(normalize_gray(img), want)
        stretched += want is not img
    assert stretched >= 4  # the LUT branch ran, not only the no-op gates


def test_to_gray_equals_reference():
    rng = np.random.default_rng(5)
    for shape in ((1, 1, 3), (37, 91, 3), (120, 64, 4)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        for mode in ("RGB", "RGBA"):
            _assert_same(to_gray(img, mode), _ref_to_gray(img))
    # the last two weigh to exactly x.5 and just below it (low 16 bits
    # 0x8000 and 0x7fff): they pin the rounding offset
    extremes = np.array(
        [[[0, 0, 0], [255, 255, 255], [255, 0, 0], [0, 255, 0], [0, 52, 184], [0, 62, 229]]],
        np.uint8,
    )
    _assert_same(to_gray(extremes, "RGB"), _ref_to_gray(extremes))
