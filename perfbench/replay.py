"""Single-process kernel replay: ``oracle.process_page`` step by step.

The replay calls the public kernel functions in the order
``oracle.process_page`` calls them, times each call, and rebuilds the
page result. ``replay_page`` must return exactly what ``process_page``
returns; ``check_pages`` enforces that and compares the summed stage time
with direct ``process_page`` calls over the same pages. Only the default
Otsu binarization path is replayed.

Times are CPU time of this process (``time.process_time``): on a shared
host, time the CPU is taken away would otherwise land on whichever stage
was running and swamp the 5% comparison.
"""

from __future__ import annotations

import time
from collections import defaultdict

import numpy as np

from ocrd_anybaseocr_spark.config import DEFAULT_PARAMS, PipelineParams
from ocrd_anybaseocr_spark.kernels.binarize import (
    flatten_background,
    normalize_gray,
    otsu_stats,
    otsu_threshold,
)
from ocrd_anybaseocr_spark.kernels.classify import classify_page
from ocrd_anybaseocr_spark.kernels.components import (
    close_runs,
    labeled_runs,
    runs_from_image,
    unshear_runs,
    zoom_runs,
)
from ocrd_anybaseocr_spark.kernels.crop import detect_border, detect_ruler
from ocrd_anybaseocr_spark.kernels.deskew import estimate_shear_from_runs, unshear
from ocrd_anybaseocr_spark.kernels.geometry import zoom_factor
from ocrd_anybaseocr_spark.kernels.transform import resize_nearest
from ocrd_anybaseocr_spark.oracle import process_page
from ocrd_anybaseocr_spark.png import decode_gray

# every timed stage, named by module.function, in process_page order
STAGES = (
    "png.decode_gray",
    "kernels.binarize.normalize_gray",
    "kernels.transform.resize_nearest",
    "kernels.binarize.otsu_stats",
    "kernels.binarize.flatten_background",
    "kernels.binarize.otsu_threshold",
    "kernels.components.runs_from_image",
    "kernels.components.close_runs",
    "kernels.components.zoom_runs",
    "kernels.deskew.estimate_shear_from_runs",
    "kernels.components.unshear_runs",
    "kernels.deskew.unshear",
    "kernels.components.labeled_runs",
    "kernels.crop.detect_ruler",
    "kernels.crop.detect_border",
    "kernels.classify.classify_page",
)


class StageClock:
    """Accumulates CPU seconds per stage name."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)

    def call(self, name: str, fn, *args, **kwargs):
        t0 = time.process_time()
        out = fn(*args, **kwargs)
        self.seconds[name] += time.process_time() - t0
        return out


def replay_page(png: bytes, clock: StageClock, params: PipelineParams = DEFAULT_PARAMS):
    """Return ``(result, counts)``: the process_page result and the page's
    run count, component count, escalation and deskew flags."""
    b = params.binarize
    if b.method != "otsu":
        raise NotImplementedError("the replay covers the Otsu path only")
    c = clock.call
    img, dpi = c("png.decode_gray", decode_gray, png)
    raw = img
    if b.normalize_gray:
        img = c("kernels.binarize.normalize_gray", normalize_gray, img, b.norm_lo_pct, b.norm_hi_pct)
    nat_h, nat_w = img.shape
    zoom = zoom_factor(params.crop.dpi_override if params.crop.dpi_override > 0 else dpi,
                       params.crop.dpi)
    zoom_in_runs = zoom > 1.0
    if zoom != 1.0 and not zoom_in_runs:
        img = c("kernels.transform.resize_nearest", resize_nearest, img, zoom)
    if zoom_in_runs:
        h, w = max(1, int(np.ceil(nat_h * zoom))), max(1, int(np.ceil(nat_w * zoom)))
    else:
        h, w = img.shape
    t, eta, _ = c("kernels.binarize.otsu_stats", otsu_stats, img)
    escalated = b.escalate_low_separability and eta < b.min_separability
    if escalated:
        base = raw
        if zoom != 1.0 and not zoom_in_runs:
            base = c("kernels.transform.resize_nearest", resize_nearest, base, zoom)
        img = c("kernels.binarize.flatten_background", flatten_background, base)
        if b.normalize_gray:
            img = c("kernels.binarize.normalize_gray", normalize_gray, img,
                    b.norm_lo_pct, b.norm_hi_pct)
        t = c("kernels.binarize.otsu_threshold", otsu_threshold, img)

    def runs_of(im):
        r = c("kernels.components.runs_from_image", runs_from_image, im, t)
        return c("kernels.components.close_runs", close_runs, r, b.close_gap)

    runs = runs_of(img)
    if zoom_in_runs:
        runs = c("kernels.components.zoom_runs", zoom_runs, runs, zoom, nat_h)
    shear = c("kernels.deskew.estimate_shear_from_runs", estimate_shear_from_runs,
              *runs, h, w, params.deskew)
    if shear != 0.0:
        if zoom_in_runs:
            runs = c("kernels.components.unshear_runs", unshear_runs, runs, shear, w)
        else:
            img = c("kernels.deskew.unshear", unshear, img, shear)
            runs = runs_of(img)
    cc = c("kernels.components.labeled_runs", labeled_runs, runs=runs, h=h)
    shape = (h, w)
    ruler = c("kernels.crop.detect_ruler", detect_ruler, shape, params.crop, stats=cc[0])
    border, perfect = c("kernels.crop.detect_border", detect_border, shape, ruler,
                        params.crop, cc=cc)
    scores, labels, seg = c("kernels.classify.classify_page", classify_page, shape, border,
                            params.classify, stats=cc)
    if zoom != 1.0:
        border = [
            min(int(border[0] // zoom), nat_w - 1),
            min(int(border[1] // zoom), nat_h - 1),
            min(int(border[2] // zoom), nat_w - 1),
            min(int(border[3] // zoom), nat_h - 1),
        ]
    features = "grayscale_normalized,binarized" if b.normalize_gray else "binarized"
    if escalated:
        features = features.replace("binarized", "illum_flattened,binarized")
    if shear != 0.0:
        features += ",deskewed"
    features += ",cropped"
    result = {
        "border": border,
        "perfect": perfect,
        "skew": float(shear),
        "features": features,
        "scores": scores,
        "labels": labels,
        "n_text_regions": seg["n_text"] + seg["n_header"] + seg["n_title"],
        "n_image_regions": seg["n_image"],
        "ink_ratio": seg["ink_ratio"],
    }
    counts = {
        "runs": len(runs[0]),
        "components": int(cc[0].shape[0]),
        "escalated": int(escalated),
        "deskewed": int(shear != 0.0),
    }
    return result, counts


def check_pages(pngs: list[bytes], reps: int = 1) -> dict:
    """Replay ``pngs`` against direct ``process_page`` calls.

    Each page runs ``reps`` times each way; which way goes first alternates
    from one run to the next, so warm caches favour neither. Returns per-stage
    ms/page, per-page counts, the direct ms/page, and ``mismatches``: the
    number of pages whose replayed result differs from process_page."""
    process_page(pngs[0])  # first calls pay lazy imports; keep them untimed
    replay_page(pngs[0], StageClock())
    clock = StageClock()
    direct_s = 0.0
    mismatches = 0
    totals = defaultdict(int)
    for i, png in enumerate(pngs):
        for rep in range(reps):
            order = (0, 1) if (i + rep) % 2 == 0 else (1, 0)
            for side in order:
                if side == 0:
                    t0 = time.process_time()
                    want = process_page(png)
                    direct_s += time.process_time() - t0
                else:
                    got, counts = replay_page(png, clock)
        if got != want:
            mismatches += 1
        for k, v in counts.items():
            totals[k] += v
    n = len(pngs) * reps
    stage_ms = {s: clock.seconds.get(s, 0.0) * 1000.0 / n for s in STAGES}
    return {
        "pages": len(pngs),
        "mismatches": mismatches,
        "stage_ms_per_page": stage_ms,
        "replay_ms_per_page": sum(stage_ms.values()),
        "direct_ms_per_page": direct_s * 1000.0 / n,
        "runs_per_page": totals["runs"] / len(pngs),
        "components_per_page": totals["components"] / len(pngs),
        "escalated_ratio": totals["escalated"] / len(pngs),
        "deskewed_ratio": totals["deskewed"] / len(pngs),
    }
