"""Page classification + text/non-text segmentation (tiseg).

Reproduces the shape of the reference's Inception-V3 multi-label classifier
(reference: cli/ocrd_anybaseocr_layout_analysis.py:109-133, K10/A6) with a
deterministic feature-based scorer over the same 21-label vocabulary —
loading a 90 MB TF model is neither hermetic nor needed to prove the
dataflow (SURVEY.md §7.5). The multi-label contract is identical:
score >= 0.5 → label set; empty → argmax singleton
(reference: cli/ocrd_anybaseocr_layout_analysis.py:122-131).

The tiseg capability (dropped processor, reference CHANGELOG.md:20) is the
component-classification step here: text rows vs header bars vs title
blocks vs image regions by connected-component geometry.
"""

from __future__ import annotations

import numpy as np

from ..config import ClassifyParams, DEFAULT_PARAMS, LABELS

_LIDX = {name: i for i, name in enumerate(LABELS)}

FRAME_T = 4  # frame line thickness (px) excluded from the border interior


def segment_regions(border: list[int], stats):
    """tiseg: classify components inside the border interior.

    Returns dict with counts and the header-width fraction.
    Region classes by component height (co-designed with synth.py):
      <=14 text row | 15..19 header bar | 20..31 title block | >=40 image.

    ``stats`` is the full-page labeled_runs analysis: the interior pass
    filters components whose bbox lies inside the interior instead of
    re-labeling, and ink_ratio comes from run-interval clipping — no
    interior mask pass.
    """
    x1, y1, x2, y2 = border
    ix1, iy1 = x1 + FRAME_T + 1, y1 + FRAME_T + 1
    ix2, iy2 = x2 - FRAME_T - 1, y2 - FRAME_T - 1
    if ix2 <= ix1 or iy2 <= iy1:
        return {"n_text": 0, "n_header": 0, "n_title": 0, "n_image": 0,
                "header_w_frac": 0.0, "ink_ratio": 0.0, "iw": 1, "ih": 1}
    iw, ih = ix2 - ix1 + 1, iy2 - iy1 + 1
    cstats, _run_labels, (r_rows, r_starts, r_ends) = stats
    sel = (
        (cstats[:, 0] >= ix1) & (cstats[:, 1] >= iy1)
        & (cstats[:, 2] <= ix2) & (cstats[:, 3] <= iy2)
    )
    inner = cstats[sel] - np.array([ix1, iy1, ix1, iy1, 0, 0])
    rsel = (r_rows >= iy1) & (r_rows <= iy2)
    clipped = np.minimum(r_ends[rsel], ix2 + 1) - np.maximum(r_starts[rsel], ix1)
    ink_px = int(clipped[clipped > 0].sum())
    ink_ratio = ink_px / float(iw * ih)
    n_text = n_header = n_title = n_image = 0
    header_w_frac = 0.0
    for cx1, cy1, cx2, cy2, npx, _ in inner:
        bh = cy2 - cy1 + 1
        bw = cx2 - cx1 + 1
        if npx < 24:
            continue  # speck
        if bh <= 14:
            n_text += 1
        elif bh <= 19:
            n_header += 1
            header_w_frac = max(header_w_frac, bw / float(iw))
        elif bh <= 31:
            n_title += 1
        elif bh >= 40:
            n_image += 1
    return {
        "n_text": int(n_text),
        "n_header": int(n_header),
        "n_title": int(n_title),
        "n_image": int(n_image),
        "header_w_frac": float(header_w_frac),
        "ink_ratio": float(ink_ratio),
        "iw": iw,
        "ih": ih,
    }


def classify_page(shape, border: list[int],
                  params: ClassifyParams = DEFAULT_PARAMS.classify,
                  *, stats):
    """Score the 21 labels from region features; threshold + argmax fallback.

    ``shape`` is the page's (h, w), kept in the kernel call signature the
    page stage and its replay share; the features come from ``stats``, the
    page's labeled_runs analysis.

    Returns (scores: list[21 float], labels: list[str], seg: dict).
    """
    seg = segment_regions(border, stats)
    scores = np.full(len(LABELS), 0.05, dtype=np.float64)
    if seg["n_title"] >= 2 and seg["n_text"] == 0:
        scores[_LIDX["title_page"]] = 0.95
    elif seg["n_header"] >= 1:
        if seg["header_w_frac"] >= 0.6:
            scores[_LIDX["chapter"]] = 0.9
        else:
            scores[_LIDX["section"]] = 0.9
    elif seg["n_image"] >= 1:
        scores[_LIDX["illustration"]] = 0.9
    else:
        scores[_LIDX["page"]] = 0.85
    # A6: multi-label threshold, argmax fallback
    labels = [LABELS[i] for i in range(len(LABELS)) if scores[i] >= params.threshold]
    if not labels:
        labels = [LABELS[int(np.argmax(scores))]]
    return [float(s) for s in scores], labels, seg
