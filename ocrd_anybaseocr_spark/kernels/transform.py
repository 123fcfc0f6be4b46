"""Image resize kernels (K7, F4).

K7: the reference rescales pages to a ~300 DPI working resolution with
cv2.resize (reference: cli/ocrd_anybaseocr_cropping.py:148-151) and the
classifier input to 500x600 LANCZOS (reference:
cli/ocrd_anybaseocr_layout_analysis.py:97-99). Only the first has a
counterpart here: this engine's classifier scores component features and
never resizes, so one nearest-neighbour kernel serves the exactly
invertible detect→unzoom path and the media resize tier — deterministic,
no external libs.
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
    """The output-dimension rule of resize_nearest: ceil(dim * zoom),
    at least 1."""
    return max(1, int(np.ceil(h * zoom))), max(1, int(np.ceil(w * zoom)))
