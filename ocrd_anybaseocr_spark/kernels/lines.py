"""Line-segment aggregation (A1-A4) — the reference's agglomerative
clustering of detected line segments into border-line candidates
(reference: cli/ocrd_anybaseocr_cropping.py:343-440), numpy-only.

Semantics preserved:
- A1: merge the two groups with the nearest endpoints (<= MAX_DIST px) when
  the merged regression stderr <= STDERR_MAX and the merge degrades neither
  part by more than DEGRADE_MAX (reference L343-392);
- A2: second pass merges collinear groups — intercepts within
  INTERCEPT_TOL*W at both image edges and axis gap < GAP_MAX*W, same
  stderr gates (reference L393-440);
- A3/A4 (per-group length, extent, position and length-weighted mean
  width, reference L385-389,433-437,465-515) live in
  kernels/segments.group_side_stats, next to the side selection that
  consumes them.

Determinism (SURVEY.md §7 hard-part 1): candidate pairs are processed in
ascending (distance, i, j) order — a stable total order, so results do not
depend on tie order.

The production border detector (kernels/crop.detect_border) feeds these
merges with run segments from kernels/segments.py.
"""

from __future__ import annotations

import numpy as np

MAX_DIST = 15.0  # A1 endpoint distance (px)
STDERR_MAX = 0.04  # merged slope stderr gate (A1 and A2)
DEGRADE_MAX = 0.02  # max stderr increase a merge may cause in either part
INTERCEPT_TOL = 0.01  # A2 intercept agreement at both edges, fraction of W
GAP_MAX = 0.10  # A2 axis gap, fraction of W


def linregress_slope_stderr(xs: np.ndarray, ys: np.ndarray):
    """(slope, intercept, stderr-of-slope) — scipy.stats.linregress subset
    (the reference gates on the slope standard error)."""
    n = len(xs)
    xm, ym = xs.mean(), ys.mean()
    sxx = float(((xs - xm) ** 2).sum())
    if sxx == 0.0:
        return 0.0, float(ym), 0.0
    sxy = float(((xs - xm) * (ys - ym)).sum())
    slope = sxy / sxx
    intercept = ym - slope * xm
    if n <= 2:
        return slope, intercept, 0.0
    sse = float(((ys - (slope * xs + intercept)) ** 2).sum())
    stderr = float(np.sqrt(sse / (n - 2) / sxx))
    return slope, intercept, stderr


class LineGroup:
    __slots__ = ("ind", "pts", "lengths", "widths")

    def __init__(self, ind, pts, lengths, widths):
        self.ind = set(ind)
        self.pts = np.asarray(pts, dtype=np.float64)  # (2k, 2) endpoints
        self.lengths = list(lengths)
        self.widths = list(widths)

    def fit(self):
        return linregress_slope_stderr(self.pts[:, 0], self.pts[:, 1])

    def merged(self, other: "LineGroup") -> "LineGroup":
        return LineGroup(
            self.ind | other.ind,
            np.vstack([self.pts, other.pts]),
            self.lengths + other.lengths,
            self.widths + other.widths,
        )


def _min_endpoint_dist(a: LineGroup, b: LineGroup) -> float:
    d = a.pts[:, None, :] - b.pts[None, :, :]
    return float(np.sqrt((d * d).sum(axis=2)).min())


def aggregate_lines(segments: np.ndarray, widths: np.ndarray) -> list[LineGroup]:
    """A1: agglomerate (n,4) segments [x1,y1,x2,y2] with per-segment
    ``widths`` into line groups."""
    groups = [
        LineGroup(
            [i],
            [[s[0], s[1]], [s[2], s[3]]],
            [float(np.hypot(s[2] - s[0], s[3] - s[1]))],
            [float(widths[i])],
        )
        for i, s in enumerate(np.asarray(segments, dtype=np.float64))
    ]
    changed = True
    while changed:
        changed = False
        pairs = []
        for i in range(len(groups)):
            for j in range(i + 1, len(groups)):
                d = _min_endpoint_dist(groups[i], groups[j])
                if d <= MAX_DIST:
                    pairs.append((d, i, j))
        for d, i, j in sorted(pairs):  # stable total order (d, i, j)
            gi, gj = groups[i], groups[j]
            if gi is None or gj is None:
                continue
            merged = gi.merged(gj)
            _, _, se_m = merged.fit()
            _, _, se_i = gi.fit()
            _, _, se_j = gj.fit()
            if se_m <= STDERR_MAX and se_m - se_i <= DEGRADE_MAX and se_m - se_j <= DEGRADE_MAX:
                groups[i] = merged
                groups[j] = None
                changed = True
        groups = [g for g in groups if g is not None]
    return groups


def merge_collinear(groups: list[LineGroup], w: int) -> list[LineGroup]:
    """A2: merge groups whose fitted lines agree at both image edges
    (|Δintercept| <= INTERCEPT_TOL*W at x=0 and x=W) with x-extent gap
    < GAP_MAX*W."""
    groups = list(groups)
    changed = True
    while changed:
        changed = False
        for i in range(len(groups)):
            for j in range(i + 1, len(groups)):
                gi, gj = groups[i], groups[j]
                if gi is None or gj is None:
                    continue
                si, bi, sei = gi.fit()
                sj, bj, sej = gj.fit()
                if abs(bi - bj) > INTERCEPT_TOL * w:
                    continue
                if abs((si * w + bi) - (sj * w + bj)) > INTERCEPT_TOL * w:
                    continue
                gap = max(
                    gj.pts[:, 0].min() - gi.pts[:, 0].max(),
                    gi.pts[:, 0].min() - gj.pts[:, 0].max(),
                )
                if gap >= GAP_MAX * w:
                    continue
                merged = gi.merged(gj)
                _, _, se_m = merged.fit()
                if se_m <= STDERR_MAX and se_m - sei <= DEGRADE_MAX and se_m - sej <= DEGRADE_MAX:
                    groups[i] = merged
                    groups[j] = None
                    changed = True
        groups = [g for g in groups if g is not None]
    return groups

