"""K7 interpolating resize: the cubic resampler the reference's
classifier preprocess calls for (500x600 LANCZOS-class)."""

from __future__ import annotations

import numpy as np


def test_resize_cubic_interpolation_quality():
    """The inference preprocess resampler must INTERPOLATE (monotone ramp
    preserved, no new extrema) and ANTI-ALIAS (a 1-px grid downscales to
    its mean, where point sampling keeps full-contrast stripes) — the
    reference feeds the classifier a LANCZOS-class 500x600 resize
    (layout_analysis.py:97-99); nearest aliases fine strokes."""
    from ocrd_anybaseocr_spark.kernels.transform import resize_cubic, resize_nearest

    # monotone horizontal ramp stays monotone and in-range after resize
    ramp = np.tile(np.linspace(0, 255, 200).astype(np.uint8), (40, 1))
    up = resize_cubic(ramp, 60, 500)
    dn = resize_cubic(ramp, 20, 77)
    for r in (up, dn):
        rows = r.astype(np.int64)
        assert (np.diff(rows, axis=1) >= 0).all(), "ramp must stay monotone"
        assert rows.min() >= 0 and rows.max() <= 255
    # identity at unchanged size (integer alignment -> kernel(0)=1)
    assert np.array_equal(resize_cubic(ramp, *ramp.shape), ramp)

    # 1-px vertical grid (alternating 0/255 columns) downscaled 4x:
    # support-scaled cubic averages to ~mean everywhere; nearest keeps
    # full-contrast stripes (aliasing)
    grid = np.zeros((64, 64), dtype=np.uint8)
    grid[:, ::2] = 255
    aa = resize_cubic(grid, 16, 16).astype(np.float64)
    assert abs(aa.mean() - 127.5) < 12
    assert aa.std() < 20, f"aliasing: std {aa.std():.1f}"
    # nearest locks onto one phase of the grid (here: all-255) — the
    # aliasing failure mode being fixed
    na = resize_nearest(grid, 0.25).astype(np.float64)
    assert abs(na.mean() - 127.5) > 100
