"""Connected-component labeling without scipy/OpenCV.

Replaces the reference's ``cv2.findContours`` usage
(reference: cli/ocrd_anybaseocr_cropping.py:209,694-695) for region/ruler
detection. Run-based, fully vectorized: strip-fused horizontal run
extraction, adjacent-row overlap pairs via searchsorted, component labels
by min-label propagation with pointer jumping (8-connectivity in the
horizontal sense via +-1 dilation is not needed — 4-connectivity matches
our synthetic geometry).
"""

from __future__ import annotations

import numpy as np

RUN_STRIP = 128  # rows per strip of runs_from_image: a strip's mask stays L2-resident


def runs_from_image(img: np.ndarray, threshold: int):
    """Threshold + run extraction fused per horizontal strip.

    Equivalent to ``_find_runs(img <= threshold)`` but never materializes
    the full boolean mask: each strip's padded bool mask and its transition
    mask stay L2-resident, so the kernel streams the uint8 image exactly
    once. Run extraction is row-local, so strip boundaries cannot change
    the result.
    """
    h, w = img.shape
    all_r, all_s, all_e = [], [], []
    buf = np.zeros((min(RUN_STRIP, h), w + 2), dtype=bool)
    for y0 in range(0, h, RUN_STRIP):
        rows = min(RUN_STRIP, h - y0)
        np.less_equal(img[y0:y0 + rows], threshold, out=buf[:rows, 1:-1])
        rr, ss, ee = _padded_runs(buf[:rows])
        all_r.append(rr + y0)
        all_s.append(ss)
        all_e.append(ee)
    return (
        np.concatenate(all_r) if all_r else np.zeros(0, dtype=np.int64),
        np.concatenate(all_s) if all_s else np.zeros(0, dtype=np.int64),
        np.concatenate(all_e) if all_e else np.zeros(0, dtype=np.int64),
    )


def close_runs(runs, gap: int):
    """Run-space horizontal closing: merge same-row ink runs separated by
    <= ``gap`` white pixels. Heals scanner dropouts (pepper holes) that
    would otherwise split a solid text bar into thin fragments that slip
    under the segment detector's stroke-thickness cap and outscore the
    true page frame (the degraded-tier failure mode, round 5). On pages
    whose drawn white gaps all exceed ``gap`` this is an exact no-op.
    Vectorized: one lexsort + one diff, O(runs)."""
    rr, ss, ee = runs
    if len(rr) == 0 or gap <= 0:
        return runs
    order = np.lexsort((ss, rr))
    rr, ss, ee = rr[order], ss[order], ee[order]
    # runs within a row are disjoint and sorted, so ends are monotone per
    # row: a merged run spans first start .. last end of its chain
    brk = (np.diff(rr) != 0) | (ss[1:] - ee[:-1] > gap)
    first = np.concatenate([[0], np.flatnonzero(brk) + 1])
    last = np.concatenate([np.flatnonzero(brk), [len(rr) - 1]])
    return rr[first], ss[first], ee[last]


def zoom_runs(runs, zoom: float, nat_h: int):
    """F4/K7 in RUN SPACE: the exact run set of resize_nearest(img, zoom)
    derived arithmetically from the native runs — the upscaled image is
    never materialized (at zoom 2 it would quadruple the memory traffic of
    every downstream pass, which is what the shared-bus host punishes).

    resize_nearest maps working pixel j ← native floor(j / zoom), so native
    row y occupies working rows [ceil(y·z), ceil((y+1)·z)) and a native run
    [s, e) becomes [ceil(s·z), ceil(e·z)) in each of those rows. Output is
    re-sorted row-major (cc_from_runs sweeps rows in order). Exact for the
    binary-representable zooms the corpus uses (2, 1.5); float ulp on other
    zooms only ever moves a boundary the same way in both the run and pixel
    paths is NOT guaranteed — the pixel path stays available for those.

    UPSCALE ONLY: for zoom < 1 the ceil mapping emits zero-length runs and
    unmerged abutting fragments that diverge from resize_nearest (ADVICE
    round 2, item 2) — process_page routes downscales through the pixel
    path, and this guard keeps any other caller honest."""
    rr, ss, ee = runs
    z = float(zoom)
    if z < 1.0:
        raise ValueError(f"zoom_runs is exact for zoom >= 1 only, got {z}")
    row_first = np.ceil(np.arange(nat_h + 1) * z).astype(np.int64)
    cnt = (row_first[rr + 1] - row_first[rr]).astype(np.int64)
    reps = np.repeat(np.arange(len(rr)), cnt)
    offs = np.arange(len(reps)) - np.repeat(np.cumsum(cnt) - cnt, cnt)
    rows_w = row_first[rr][reps] + offs
    ss_w = np.ceil(ss * z).astype(np.int64)[reps]
    ee_w = np.ceil(ee * z).astype(np.int64)[reps]
    order = np.lexsort((ss_w, rows_w))
    return rows_w[order], ss_w[order], ee_w[order]


def unshear_runs(runs, shear: float, w: int):
    """Deskew in RUN SPACE: unshear(img, shear) shifts row y left by
    round(shear·y) (deskew.unshear), so run [a, b) → [a−s, b−s) ∩ [0, w);
    empty results drop. Exactly the runs of the unsheared image."""
    rr, ss, ee = runs
    s = np.round(shear * rr.astype(np.float64)).astype(np.int64)
    a = np.maximum(ss - s, 0)
    b = np.minimum(ee - s, w)
    keep = b > a
    return rr[keep], a[keep], b[keep]


def _padded_runs(buf: np.ndarray):
    """Runs of a bool mask whose first and last columns are False padding.

    A transition sits wherever a pixel differs from its left neighbour;
    one flat index over the ``rows x (w+1)`` transition mask gives row and
    column by one divmod, and the pixel value at the transition tells a
    start (ink) from an end (paper). Row-major order, so within a row
    starts and ends alternate and pair up. Returns int64 (row, x_start,
    x_end_excl).
    """
    inside = buf[:, 1:]
    idx = np.flatnonzero(inside != buf[:, :-1])
    rr, cc = np.divmod(idx, buf.shape[1] - 1)
    # inside[r, c] is buf[r, c + 1]: flat position idx + r + 1 of buf
    up = buf.ravel()[idx + rr + 1]
    return rr[up], cc[up], cc[~up]


def _find_runs(mask: np.ndarray):
    """Per-row horizontal runs of True. Returns (row, x_start, x_end_excl) arrays.

    The whole mask as one strip of runs_from_image's extraction
    (``_padded_runs``), so the mask and fused forms cannot drift.
    """
    h, w = mask.shape
    padded = np.zeros((h, w + 2), dtype=bool)
    padded[:, 1:-1] = mask
    return _padded_runs(padded)


def cc_from_runs(rows: np.ndarray, starts: np.ndarray, ends: np.ndarray, h: int):
    """Label 4-connected components from pre-extracted runs — fully
    vectorized.

    Adjacent-row overlap pairs come from two global searchsorted calls over
    composite (row, coordinate) keys; the component labels are computed by
    iterated min-label propagation with pointer jumping (converges in
    O(log max-chain) rounds). Component ids are dense 0..n-1 in first-run
    order (the component root is its minimum run index), identical to the
    sequential union-find result.

    Returns (labels (n_runs,), runs (row, x1, x2excl), n_components).
    """
    n = len(rows)
    if n == 0:
        return np.zeros(0, dtype=np.int64), (rows, starts, ends), 0
    rows = np.asarray(rows, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    row_start_idx = np.searchsorted(rows, np.arange(h + 1))

    K = int(ends.max()) + 2
    key_start = rows * K + starts
    key_end = rows * K + ends  # sorted: runs are (row, start)-ordered and disjoint

    cur = np.nonzero(rows > 0)[0]  # runs that can connect upward
    if len(cur):
        # first prev-row run with end > start_j …
        lo = np.searchsorted(key_end, (rows[cur] - 1) * K + starts[cur], side="right")
        # … up to first prev-row run with start >= end_j
        hi = np.searchsorted(key_start, (rows[cur] - 1) * K + ends[cur], side="left")
        blk_lo = row_start_idx[rows[cur] - 1]
        blk_hi = row_start_idx[rows[cur]]
        lo = np.maximum(lo, blk_lo)
        hi = np.minimum(hi, blk_hi)
        counts = np.maximum(hi - lo, 0)
        total = int(counts.sum())
    else:
        total = 0

    labels = np.arange(n, dtype=np.int64)
    if total:
        offs = np.cumsum(counts) - counts
        pair_i = np.repeat(lo, counts) + (np.arange(total) - np.repeat(offs, counts))
        pair_j = np.repeat(cur, counts)
        while True:
            m = np.minimum(labels[pair_i], labels[pair_j])
            before = labels.copy()
            np.minimum.at(labels, pair_i, m)
            np.minimum.at(labels, pair_j, m)
            labels = np.minimum(labels, labels[labels])  # pointer jumping
            if np.array_equal(labels, before):
                break
        # full path compression to the fixpoint
        while True:
            nxt = labels[labels]
            if np.array_equal(nxt, labels):
                break
            labels = nxt
    _, dense = np.unique(labels, return_inverse=True)
    return dense.astype(np.int64), (rows, starts, ends), int(dense.max()) + 1


def labeled_runs(runs, h: int):
    """Full CC analysis: (stats, labels, (rows, starts, ends)).

    stats is the (n, 6) array of [x1, y1, x2, y2, pixel_count, _pad] per
    component (x2/y2 inclusive, first-run order); labels maps each run to
    its component. Downstream operators (border profiles, interior
    segmentation) work from the RUNS — sparse interval arithmetic instead of
    full-image mask passes, which keeps parallel workers off the memory bus.

    Takes pre-extracted ``runs`` + image height ``h`` (runs_from_image,
    or _find_runs of a mask); no mask is ever materialized.
    """
    labels, (rows, starts, ends), n = cc_from_runs(*runs, h)
    if n == 0:
        return np.zeros((0, 6), dtype=np.int64), labels, (rows, starts, ends)
    out = np.zeros((n, 6), dtype=np.int64)
    out[:, 0] = np.full(n, np.iinfo(np.int64).max)
    out[:, 1] = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(out[:, 0], labels, starts)
    np.minimum.at(out[:, 1], labels, rows)
    np.maximum.at(out[:, 2], labels, ends - 1)
    np.maximum.at(out[:, 3], labels, rows)
    np.add.at(out[:, 4], labels, ends - starts)
    return out, labels, (rows, starts, ends)
