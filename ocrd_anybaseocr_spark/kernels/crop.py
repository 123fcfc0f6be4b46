"""Page-frame detection ("cropping").

Reimplements the semantics of ``ocrd-anybaseocr-crop``
(reference: cli/ocrd_anybaseocr_cropping.py:72-204) numpy-first:

- ruler detection via component gates — aspect ratio in [rulerRatioMin,
  rulerRatioMax], near-margin position, width < rulerWidthMax*W, top-1 by
  foreground pixel count, then mask suppression
  (reference: cli/ocrd_anybaseocr_cropping.py:206-263, W1/P6/P8/K8);
- border-line candidates as long horizontal/vertical ink runs belonging to a
  frame-like component (large bbox, low fill), replacing the LSD detector +
  line-clustering chain (reference: cli/ocrd_anybaseocr_cropping.py:286-440,
  K6/A1-A4) — same contract, numpy physical plan;
- per-side top-1 scoring with the reference's positional attenuation
  3x*e^(-3x) (reference: cli/ocrd_anybaseocr_cropping.py:565-608, W2/F10);
- textbox fallback when a side is missing: component text boxes filtered by
  fill/size gates, x-overlap merge, column coalescing, margin filter
  (reference: cli/ocrd_anybaseocr_cropping.py:627-809,
  P4/P5/J1/J2/W6/W7), ``perfect=False``
  (reference: cli/ocrd_anybaseocr_cropping.py:526,577).
"""

from __future__ import annotations

import numpy as np

from ..config import CropParams, DEFAULT_PARAMS
from .components import component_stats


def attenuate_pos(x: np.ndarray | float) -> np.ndarray | float:
    """Reference scoring attenuation 3x*e^(-3x), peak at x=1/3
    (reference: cli/ocrd_anybaseocr_cropping.py:566-568)."""
    return 3.0 * x * np.exp(-3.0 * x)


def _shape_of(ink_or_shape) -> tuple[int, int]:
    """Accept a boolean ink mask or a bare (h, w) tuple — the runs-based
    pipeline never materializes a mask."""
    if isinstance(ink_or_shape, tuple):
        return ink_or_shape
    return ink_or_shape.shape


def detect_ruler(ink_or_shape, params: CropParams = DEFAULT_PARAMS.crop,
                 stats: np.ndarray | None = None):
    """Find the top-1 ruler candidate bbox [x1,y1,x2,y2] or None.

    ``stats`` lets callers reuse one component_stats pass per page (CC is the
    dominant per-page cost; ruler/border/classify all share it)."""
    h, w = _shape_of(ink_or_shape)
    if stats is None:
        stats = component_stats(ink_or_shape)
    if len(stats) == 0:
        return None
    x1, y1, x2, y2, npx = (stats[:, i] for i in range(5))
    bw = x2 - x1 + 1
    bh = y2 - y1 + 1
    aspect = np.maximum(bw, bh) / np.maximum(1, np.minimum(bw, bh))
    fill = npx / np.maximum(1, bw * bh)
    near_margin = (
        (y2 < params.margin_top * h)
        | (y1 > params.margin_bottom * h)
        | (x2 < params.margin_left * w)
        | (x1 > params.margin_right * w)
    )
    ok = (
        (aspect >= params.ruler_ratio_min)
        & (aspect <= params.ruler_ratio_max)
        & (npx >= 300)
        & (fill >= 0.8)
        & (bw < params.ruler_width_max * w)
        & near_margin
    )
    if not ok.any():
        return None
    idx = np.nonzero(ok)[0]
    best = idx[np.argmax(npx[idx])]  # W1: top-1 by foreground pixel count
    return [int(x1[best]), int(y1[best]), int(x2[best]), int(y2[best])]


def _side_candidates(profile_rows, band_lo, band_hi, outer_is_min):
    """Group consecutive candidate indices into bands; return list of
    (outer_coord, pos_center, thickness, mean_strength) per band within
    [band_lo, band_hi). Thickness plays the LSD width (wgt) role and
    strength the covered-fraction (length/axis) role in W2 scoring."""
    cands = [i for i, v in profile_rows if band_lo <= i < band_hi]
    vals = {i: v for i, v in profile_rows}
    bands = []
    cur = []
    for i in cands:
        if cur and i == cur[-1] + 1:
            cur.append(i)
        else:
            if cur:
                bands.append(cur)
            cur = [i]
    if cur:
        bands.append(cur)
    out = []
    for b in bands:
        outer = b[0] if outer_is_min else b[-1]
        pos = 0.5 * (b[0] + b[-1])
        strength = float(np.mean([vals[i] for i in b]))
        out.append((outer, pos, len(b), strength))
    return out


def detect_border(
    ink_or_shape,
    ruler_bbox=None,
    params: CropParams = DEFAULT_PARAMS.crop,
    cc=None,
):
    """Detect the page frame. Returns (border [x1,y1,x2,y2], perfect: bool).

    Production path is the faithful K6→A1/A2→W2 chain: line segments
    extracted from the CC runs, agglomerated by endpoint distance and
    regression agreement, collinear-merged across gaps, each side's winner
    picked by wgt^2 * length * attenuate(pos/margin) (reference:
    cli/ocrd_anybaseocr_cropping.py:286-440,524-608). This recovers broken/
    partial frames the old run-profile heuristic missed; on clean frames
    the two paths agree exactly (property test). Missing sides fall back to
    the merged-textbox bbox with perfect=False (ref :575-607,526).
    """
    from .components import labeled_runs
    from .segments import detect_border_segments

    h, w = _shape_of(ink_or_shape)
    if cc is None:
        cc = labeled_runs(ink_or_shape)
    stats, run_labels, (r_rows, r_starts, r_ends) = cc

    (lx, ty, rx, by), perfect = detect_border_segments(cc, (h, w), ruler_bbox, params)
    if not perfect:
        tb = _textbox_bbox_from_stats(stats, (h, w), params, ruler_bbox)
        if ty is None:
            ty = tb[1] if tb is not None else 0
        if by is None:
            by = tb[3] if tb is not None else h - 1
        if lx is None:
            lx = tb[0] if tb is not None else 0
        if rx is None:
            rx = tb[2] if tb is not None else w - 1
    return [int(lx), int(ty), int(rx), int(by)], bool(perfect)


def detect_border_profile(
    ink_or_shape,
    ruler_bbox=None,
    params: CropParams = DEFAULT_PARAMS.crop,
    cc=None,
):
    """Run-profile border detector (the round-1 production path, kept as the
    cross-check for the segment path): frame-like components' row/col ink
    profiles, per-side top-1 with W2 scoring. Property test asserts equality
    with detect_border on clean frames.
    """
    from .components import labeled_runs

    h, w = _shape_of(ink_or_shape)
    if cc is None:
        cc = labeled_runs(ink_or_shape)
    stats, run_labels, (r_rows, r_starts, r_ends) = cc

    # frame-like components: large bbox, low fill (rectangle outline)
    frame_ids = np.zeros(len(stats), dtype=bool)
    for i, (x1, y1, x2, y2, npx, _) in enumerate(stats):
        if ruler_bbox is not None and [x1, y1, x2, y2] == list(ruler_bbox):
            continue
        bw, bh = x2 - x1 + 1, y2 - y1 + 1
        if bw * bh >= 0.25 * w * h and npx <= 0.2 * bw * bh:
            frame_ids[i] = True

    if frame_ids.any():
        sel = frame_ids[run_labels]
        rr, ss, ee = r_rows[sel], r_starts[sel], r_ends[sel]
        row_counts = np.bincount(rr, weights=(ee - ss).astype(np.float64), minlength=h)
        col_diff = np.zeros(w + 1, dtype=np.int64)
        np.add.at(col_diff, ss, 1)
        np.add.at(col_diff, ee, -1)
        col_counts = np.cumsum(col_diff[:w])
    else:
        row_counts = np.zeros(h)
        col_counts = np.zeros(w)
    row_frac = row_counts / float(w)
    col_frac = col_counts / float(h)
    rows = [(i, v) for i, v in enumerate(row_frac) if v >= params.min_line_length * 0.8]
    cols = [(i, v) for i, v in enumerate(col_frac) if v >= params.min_line_length * 0.8]

    def pick(cands, axis_len, band_edge, total_len, invert):
        """W2 (reference select_borderLine key, cropping.py:565-608):
        top-1 by wgt^2 * length * attenuate(pos/band); fallback None.
        wgt = band thickness (the LSD width analogue), length = mean ink
        length, pos = band center over the margin band edge."""
        if not cands:
            return None
        best, best_score = None, -1.0
        for outer, pos, thickness, strength in cands:
            ratio = (
                (total_len - pos) / max(total_len - band_edge, 1e-9)
                if invert
                else pos / max(band_edge, 1e-9)
            )
            length = strength * axis_len
            score = thickness * thickness * length * float(attenuate_pos(ratio))
            if score > best_score:
                best_score, best = score, outer
        return best

    y1max, y2min = params.margin_top * h, params.margin_bottom * h
    x1max, x2min = params.margin_left * w, params.margin_right * w
    top_c = _side_candidates(rows, 0, int(y1max), True)
    bot_c = _side_candidates(rows, int(y2min), h, False)
    left_c = _side_candidates(cols, 0, int(x1max), True)
    right_c = _side_candidates(cols, int(x2min), w, False)

    ty = pick(top_c, w, y1max, h, False)
    by = pick(bot_c, w, y2min, h, True)
    lx = pick(left_c, h, x1max, w, False)
    rx = pick(right_c, h, x2min, w, True)
    perfect = all(v is not None for v in (ty, by, lx, rx))

    if not perfect:
        # textbox fallback (ref cropping.py:170-184): merged text bbox or
        # edge — works from the component stats (ruler's component excluded,
        # the run-based equivalent of masking its pixels)
        tb = _textbox_bbox_from_stats(stats, (h, w), params, ruler_bbox)
        if ty is None:
            ty = tb[1] if tb is not None else 0
        if by is None:
            by = tb[3] if tb is not None else h - 1
        if lx is None:
            lx = tb[0] if tb is not None else 0
        if rx is None:
            rx = tb[2] if tb is not None else w - 1
    return [int(lx), int(ty), int(rx), int(by)], bool(perfect)


def filter_noisebox(boxes: np.ndarray, h: int, w: int) -> np.ndarray:
    """W6 (reference filter_noisebox, cropping.py:627-656): strip isolated
    small boxes at the top/bottom to fixpoint — sort by y2; drop the first
    box when its y-gap to the next exceeds 100 px and its area is under
    0.001*H*W, likewise the last box against its predecessor; repeat until
    no box is dropped. Keeps an edge speck from inflating the fallback
    border."""
    bs = [list(map(int, b)) for b in boxes]
    min_area = 0.001 * h * w

    def area(b):
        return (b[2] - b[0]) * (b[3] - b[1])

    changed = True
    while changed and len(bs) > 1:
        changed = False
        bs.sort(key=lambda b: b[3])
        drop = []
        if abs(bs[0][3] - bs[1][1]) > 100 and area(bs[0]) < min_area:
            drop.append(0)
        if abs(bs[-2][3] - bs[-1][1]) > 100 and area(bs[-1]) < min_area:
            drop.append(len(bs) - 1)
        if drop and len(bs) - len(drop) >= 1:
            for k in sorted(set(drop), reverse=True):
                bs.pop(k)
            changed = True
    return np.array(bs, dtype=np.int64)


def merge_x_overlaps(boxes: np.ndarray) -> np.ndarray:
    """J2: transitive merge of boxes whose x-ranges overlap
    (reference: cli/ocrd_anybaseocr_cropping.py:755-773). Sort-sweep form."""
    if len(boxes) == 0:
        return boxes
    order = np.lexsort((boxes[:, 2], boxes[:, 0]))
    b = boxes[order]
    merged = [b[0].copy()]
    for box in b[1:]:
        cur = merged[-1]
        if box[0] <= cur[2]:  # x-overlap → union bbox
            cur[1] = min(cur[1], box[1])
            cur[3] = max(cur[3], box[3])
            cur[2] = max(cur[2], box[2])
        else:
            merged.append(box.copy())
    return np.array(merged)


def coalesce_columns(boxes: np.ndarray, col_sep: float) -> np.ndarray:
    """W7 gaps-and-islands: merge x-sorted neighbors with gap <= col_sep
    (reference: cli/ocrd_anybaseocr_cropping.py:729-740)."""
    if len(boxes) == 0:
        return boxes
    b = boxes[np.argsort(boxes[:, 0], kind="stable")]
    out = [b[0].copy()]
    for box in b[1:]:
        cur = out[-1]
        if box[0] - cur[2] <= col_sep:
            cur[1] = min(cur[1], box[1])
            cur[3] = max(cur[3], box[3])
            cur[2] = max(cur[2], box[2])
        else:
            out.append(box.copy())
    return np.array(out)


def _textbox_bbox_from_stats(stats: np.ndarray, shape, params: CropParams, ruler_bbox):
    """Fallback: bbox of merged text boxes (P4 gates → J2 merge → W7 coalesce)."""
    h, w = shape
    if ruler_bbox is not None and len(stats):
        keep = ~(
            (stats[:, 0] == ruler_bbox[0]) & (stats[:, 1] == ruler_bbox[1])
            & (stats[:, 2] == ruler_bbox[2]) & (stats[:, 3] == ruler_bbox[3])
        )
        stats = stats[keep]
    if len(stats) == 0:
        return None
    x1, y1, x2, y2, npx = (stats[:, i] for i in range(5))
    bw, bh = x2 - x1 + 1, y2 - y1 + 1
    fill = npx / np.maximum(1, bw * bh)
    # P4 contour→textbox gates (ref cropping.py:706-708)
    ok = (
        (fill > params.textbox_fill_min)
        & (bw > params.textbox_wh_min)
        & (bw < params.textbox_w_max * w)
        & (bh >= 4)
        & (bh < params.textbox_h_max * h)
    )
    if not ok.any():
        return None
    boxes = np.stack([x1[ok], y1[ok], x2[ok], y2[ok]], axis=1)
    if len(boxes) > 1:
        boxes = filter_noisebox(boxes, h, w)  # W6, ref detect_textboxes:722
    boxes = merge_x_overlaps(boxes)
    boxes = coalesce_columns(boxes, params.column_sep_width_max * w)
    return [int(boxes[:, 0].min()), int(boxes[:, 1].min()), int(boxes[:, 2].max()), int(boxes[:, 3].max())]
