"""Projection-profile deskew.

Reimplements the capability of the dropped ``ocrd-anybaseocr-deskew``
processor (reference: CHANGELOG.md:18; north_star) as a shear search:
candidate shears come from a fixed discrete grid (config.DeskewParams);
for each candidate the column ink-projection is computed under that shear
and scored by sum-of-squares (sharp vertical structure — page frame lines,
column edges — maximizes it). The argmax candidate is removed by exact
integer row shifts, the inverse of the generator's shear model.
"""

from __future__ import annotations

import numpy as np

from ..config import DEFAULT_PARAMS, DeskewParams

UNSHEAR_FILL = 235  # paper gray for pixels shifted in from outside the row


def _grid(params: DeskewParams) -> np.ndarray:
    return np.linspace(-params.max_skew, params.max_skew, params.steps)


def estimate_shear_from_runs(
    rows: np.ndarray,
    starts: np.ndarray,
    ends: np.ndarray,
    h: int,
    w: int,
    params: DeskewParams = DEFAULT_PARAMS.deskew,
) -> float:
    """Run-interval form of the shear search: a run [a, b) in row y
    contributes +1 to proj[a - s(y)] and -1 to proj[b - s(y)] in a
    difference array; one cumsum yields the exact pixel projection. Cost is
    O(runs) per candidate instead of O(ink pixels) — runs are ~10x fewer.
    Identical scores to the dense definition (runs partition the ink)."""
    if len(rows) == 0:
        return 0.0
    best_score, best_shear = -1.0, 0.0
    max_off = int(abs(np.round(params.max_skew * (h - 1)))) + 1
    row_idx = np.arange(h, dtype=np.float64)
    size = w + 2 * max_off + 1
    for c in _grid(params):
        row_shift = np.round(c * row_idx).astype(np.int64)
        s = row_shift[rows]
        diff = np.bincount(starts - s + max_off, minlength=size) - np.bincount(
            ends - s + max_off, minlength=size
        )
        proj = np.cumsum(diff[:-1])
        score = float(np.dot(proj, proj))
        if score > best_score:
            best_score, best_shear = score, float(c)
    return best_shear


def unshear(img: np.ndarray, shear: float) -> np.ndarray:
    """Remove shear by integer row shifts x -> x - round(shear*y)."""
    if shear == 0.0:
        return img
    h, w = img.shape
    shifts = np.round(shear * np.arange(h)).astype(np.int64)
    out = np.full_like(img, UNSHEAR_FILL)
    for s in np.unique(shifts):
        rows = shifts == s
        # |shift| >= width: the entire row scrolls out of frame — leave it
        # as background fill (matches the run-space twin, which intersects
        # shifted runs with [0, w)). Without the guard the positive branch's
        # negative stop wraps (w - s counts from the end) and the assignment
        # raises on shape mismatch for degenerate tall-narrow rasters.
        if abs(s) >= w:
            continue
        if s >= 0:
            if s == 0:
                out[rows] = img[rows]
            else:
                out[rows, : w - s] = img[rows, s:]
        else:
            out[rows, -s:] = img[rows, :s]
    return out
