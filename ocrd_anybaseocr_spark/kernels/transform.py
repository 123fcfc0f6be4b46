"""Image resize kernels (K7, F4).

K7: the reference rescales pages to a ~300 DPI working resolution with
cv2.resize (reference: cli/ocrd_anybaseocr_cropping.py:148-151) and the
classifier input to 500x600 LANCZOS (reference:
cli/ocrd_anybaseocr_layout_analysis.py:97-99). Numpy equivalents:
nearest-neighbour for the exactly invertible detect→unzoom path and
support-scaled cubic for interpolating resizes — deterministic, no
external libs.
"""

from __future__ import annotations

import numpy as np


def resize_nearest(img: np.ndarray, zoom: float) -> np.ndarray:
    """F4/K7: nearest-neighbor rescale to the working resolution with the
    index mapping src = floor(dst / zoom) — chosen so integer coordinates
    round-trip exactly for zoom >= 1: native pixel x occupies working
    columns [ceil(x*zoom), ceil((x+1)*zoom)-1], and floor(c / zoom) (the
    unzoom applied to detected coordinates in process_page) maps both
    endpoints back to exactly x. The reference resizes with cv2 INTER_CUBIC
    (cropping.py:148-151); nearest keeps the binarized structure and makes
    the detect→unzoom path exactly invertible, which cubic cannot."""
    h, w = img.shape
    oh, ow = zoom_dims(h, w, zoom)
    ys = np.minimum((np.arange(oh) / zoom).astype(np.int64), h - 1)
    xs = np.minimum((np.arange(ow) / zoom).astype(np.int64), w - 1)
    return img[ys][:, xs]


def zoom_dims(h: int, w: int, zoom: float) -> tuple[int, int]:
    """The single output-dimension rule shared by every resample consumer
    (resize_nearest, the media resize tier's cubic path): a policy change
    here changes all of them together instead of silently diverging."""
    return max(1, int(np.ceil(h * zoom))), max(1, int(np.ceil(w * zoom)))


def _cubic_kernel(x: np.ndarray, a: float = -0.5) -> np.ndarray:
    """Cubic convolution kernel (Keys; a=-0.5 is PIL/cv2 BICUBIC)."""
    x = np.abs(x)
    return np.where(
        x < 1.0,
        ((a + 2.0) * x - (a + 3.0)) * x * x + 1.0,
        np.where(x < 2.0, (((x - 5.0) * x + 8.0) * x - 4.0) * a, 0.0),
    )


_W_CACHE: dict[tuple[int, int], np.ndarray] = {}


def _resample_weights(n_in: int, n_out: int) -> np.ndarray:
    """(n_out, n_in) row-normalized cubic resample matrix with SUPPORT
    SCALING for downscale (filter widened by in/out like PIL's
    ImagingResample) — plain cubic at scale 1 point-samples when shrinking
    and aliases fine strokes, which is exactly what nearest was criticized
    for. Cached: the classifier input is a fixed 500x600, so one matrix
    per distinct page dimension."""
    key = (n_in, n_out)
    w = _W_CACHE.get(key)
    if w is not None:
        return w
    scale = n_in / n_out
    fscale = max(1.0, scale)
    support = 2.0 * fscale
    centers = (np.arange(n_out) + 0.5) * scale
    lo = np.maximum(np.floor(centers - support).astype(np.int64), 0)
    hi = np.minimum(np.ceil(centers + support).astype(np.int64), n_in)
    W = np.zeros((n_out, n_in))
    for i in range(n_out):
        js = np.arange(lo[i], hi[i])
        wi = _cubic_kernel((js + 0.5 - centers[i]) / fscale)
        W[i, js] = wi / wi.sum()
    if len(_W_CACHE) < 64:
        _W_CACHE[key] = W
    return W


def resize_cubic(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """K7 interpolating path for the INFERENCE preprocess (the reference
    feeds the classifier a 500x600 LANCZOS resize, cli/
    ocrd_anybaseocr_layout_analysis.py:97-99): separable cubic resampling
    as two matrix products. Exact identity at unchanged size (integer
    alignment puts kernel(0)=1, kernel(±1)=0). The detect→unzoom path
    keeps resize_nearest — its exact coordinate invertibility is
    load-bearing there; an interpolating kernel cannot provide it."""
    Wv = _resample_weights(img.shape[0], out_h)
    Wh = _resample_weights(img.shape[1], out_w)
    out = Wv @ img.astype(np.float64) @ Wh.T
    return np.clip(np.round(out), 0, 255).astype(np.uint8)

