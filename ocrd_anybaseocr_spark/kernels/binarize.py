"""Binarization kernels: Otsu and Sauvola.

The reference binarizes with ``cv2.threshold(..., THRESH_OTSU)``
(reference: cli/ocrd_anybaseocr_cropping.py:208,669-670); the dropped
``ocrd-anybaseocr-binarize`` processor offered Otsu and Sauvola
(reference: CHANGELOG.md:15-22; north_star). Pure numpy implementations:
Otsu via the standard between-class-variance histogram maximization,
Sauvola via integral-image windowed mean/std.
"""

from __future__ import annotations

import numpy as np


def normalize_gray(
    img: np.ndarray, lo_pct: float = 5.0, hi_pct: float = 90.0
) -> np.ndarray:
    """Percentile contrast normalization — the 'grayscale_normalized'
    stage of the reference's feature vocabulary (its cropping step filters
    on it, cli/ocrd_anybaseocr_cropping.py:118-120; the normalization
    itself is the ocropus-nlbin percentile stretch the dropped
    ocrd-anybaseocr-binarize processor performed). Maps the [p_lo, p_hi]
    intensity band to [0, 255] with clipping; a flat band (p_hi <= p_lo,
    e.g. ink fraction below lo_pct on an already-clean page) is a no-op.
    Deterministic: np.percentile linear interpolation, fixed percentiles,
    sampled on every 4th row like otsu_threshold (same traffic argument).
    """
    sample = img[::4] if img.shape[0] > 16 else img
    # exact np.percentile('linear') order statistics from the histogram —
    # no sort/partition over the pixels, and the stretch applies as a
    # 256-entry LUT gather so the image crosses memory as uint8 ONCE
    # (a float64 full-image pass here measurably drags the whole 32-way
    # pipeline on the shared-bus host; see CLAUDE.md)
    hist = np.bincount(sample.ravel(), minlength=256)
    cum = np.cumsum(hist)
    n = int(cum[-1])
    if n == 0:
        return img
    def pctl(q: float) -> float:
        pos = (n - 1) * (q / 100.0)
        k = int(np.floor(pos))
        frac = pos - k
        # k-th (0-indexed) order statistic = first value whose cumulative
        # count exceeds k
        vlo = float(np.searchsorted(cum, k + 1))
        vhi = float(np.searchsorted(cum, min(k + 2, n)))
        return vlo + (vhi - vlo) * frac

    lo, hi = pctl(lo_pct), pctl(hi_pct)
    if hi - lo < 1.0:
        return img
    # ink-anchor gate (degraded-tier hardening, round 5): on a low-ink page
    # under scanner shading, p_lo lands INSIDE the spread paper band (e.g.
    # p5=219, p90=234 on a vignetted title page whose ink is only ~4% of
    # pixels) and the stretch would blow paper shading across the full
    # range — Otsu then marks a quarter of the page as ink. The gate is the
    # RELATIVE band width: a [p_lo, p_hi] band narrower than a quarter of
    # p_hi is intra-paper shading, not an ink/paper separation — pass
    # through and let Otsu work on the raw (bimodal, wide-margin)
    # histogram. A genuinely FADED page still stretches (ink 120 / paper
    # 200 → width 40% of p_hi — the class the ocropus-nlbin stage exists
    # for; the first cut's lo > hi/2 test wrongly skipped it, review r5).
    # Exact no-op on clean pages: p_lo is either true ink (band ~90% of
    # p_hi) or equals p_hi.
    if hi - lo < 0.25 * hi:
        return img
    lut = np.clip(
        np.round((np.arange(256, dtype=np.float64) - lo) * (255.0 / (hi - lo))),
        0,
        255,
    ).astype(np.uint8)
    return lut[img]


def otsu_threshold(img: np.ndarray, row_step: int = 4) -> int:
    """Otsu's global threshold on a uint8 grayscale image.

    Same criterion as cv2.THRESH_OTSU: maximize between-class variance;
    first maximizing bin on ties (deterministic). The histogram is built
    from every ``row_step``-th row — statistically identical threshold at a
    quarter of the memory traffic (deterministic: fixed stride, no RNG).
    """
    sample = img[::row_step] if img.shape[0] > 4 * row_step else img
    hist = np.bincount(sample.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 0
    omega = np.cumsum(hist) / total              # class-0 probability
    mu = np.cumsum(hist * np.arange(256)) / total
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    return int(np.argmax(sigma_b))


def flatten_background(img: np.ndarray, tile: int = 64, pct: float = 90.0) -> np.ndarray:
    """Illumination flattening — the ESCALATED path behind the Otsu
    confidence gate (VERDICT r5 item 5; the ocropus-nlbin background-map
    step the dropped ocrd-anybaseocr-binarize processor performed before
    thresholding). Estimates the local paper level as a per-tile high
    percentile, bilinearly upsamples it to a background map, and divides
    it out (multiplicative shading model — exactly a scanner vignette),
    re-anchoring paper at 235. A global threshold then separates ink again
    because the paper mode is re-collapsed to one level.

    Measured on the strength-4 degradation tier: border recovery on
    low-separability pages 0.68 -> 0.90 (tools/envelope.py), while Sauvola
    at any (window, k) setting LOWERED recovery below plain Otsu — local
    contrast is the wrong model for run-based frame detection under
    salt-pepper; shading correction is the right one.

    Cost is one tile-percentile pass + one float32 division — several
    times a plain Otsu page, which is why it runs only behind the gate
    (escalated pages are rare by construction; the clean tier never
    trips). Deterministic: fixed tiling, np.percentile linear
    interpolation, float32 arithmetic."""
    h, w = img.shape
    ty, tx = (h + tile - 1) // tile, (w + tile - 1) // tile
    p = np.pad(img, ((0, ty * tile - h), (0, tx * tile - w)), mode="edge")
    blocks = (
        p.reshape(ty, tile, tx, tile).transpose(0, 2, 1, 3).reshape(ty, tx, tile * tile)
    )
    bg = np.percentile(blocks, pct, axis=2).astype(np.float32)
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


def otsu_stats(img: np.ndarray, row_step: int = 4) -> tuple[int, float, float]:
    """(threshold, separability, ink_fraction) from the SAME sampled
    histogram otsu_threshold uses — the global-threshold confidence gate
    (VERDICT r5 item 5). Separability is Otsu's eta = sigma_b(t*) /
    sigma_total in [0, 1]: ~1 when the histogram is two tight modes the
    threshold splits cleanly, low when vignette/bleed smear the paper mode
    into the ink mode and a single global cut can't separate them.
    ink_fraction is the sampled mass at or below the threshold. Blank
    (zero-variance) pages report (t, 1.0, 0.0) — nothing to separate, no
    reason to escalate. Costs one histogram pass shared with the
    threshold; no extra image traffic."""
    sample = img[::row_step] if img.shape[0] > 4 * row_step else img
    hist = np.bincount(sample.ravel(), minlength=256).astype(np.float64)
    total = hist.sum()
    if total == 0:
        return 0, 1.0, 0.0
    omega = np.cumsum(hist) / total
    mu = np.cumsum(hist * np.arange(256)) / total
    mu_t = mu[-1]
    denom = omega * (1.0 - omega)
    with np.errstate(divide="ignore", invalid="ignore"):
        sigma_b = np.where(denom > 0, (mu_t * omega - mu) ** 2 / denom, 0.0)
    t = int(np.argmax(sigma_b))
    sigma_total = float(np.dot(hist, (np.arange(256) - mu_t) ** 2) / total)
    if sigma_total <= 0.0:
        return t, 1.0, 0.0
    eta = float(sigma_b[t] / sigma_total)
    return t, eta, float(omega[t])


def _integral(img: np.ndarray) -> np.ndarray:
    s = np.zeros((img.shape[0] + 1, img.shape[1] + 1), dtype=np.float64)
    np.cumsum(np.cumsum(img, axis=0, dtype=np.float64), axis=1, out=s[1:, 1:])
    return s


def binarize_sauvola(img: np.ndarray, window: int = 31, k: float = 0.34, r: float = 128.0) -> np.ndarray:
    """Sauvola local threshold: t = m * (1 + k*(s/r - 1)) over a square window.

    Windowed mean/std via integral images — O(1) per pixel, fully vectorized.
    """
    h, w = img.shape
    half = window // 2
    pad = np.pad(img.astype(np.float64), half, mode="edge")
    ii = _integral(pad)
    ii2 = _integral(pad * pad)
    ys, xs = np.arange(h), np.arange(w)
    y1, y2 = ys[:, None], ys[:, None] + window
    x1, x2 = xs[None, :], xs[None, :] + window
    area = float(window * window)
    sm = ii[y2, x2] - ii[y1, x2] - ii[y2, x1] + ii[y1, x1]
    sm2 = ii2[y2, x2] - ii2[y1, x2] - ii2[y2, x1] + ii2[y1, x1]
    mean = sm / area
    var = np.maximum(sm2 / area - mean * mean, 0.0)
    std = np.sqrt(var)
    t = mean * (1.0 + k * (std / r - 1.0))
    return img <= t
