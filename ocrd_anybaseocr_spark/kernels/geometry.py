"""Coordinate zoom (F4).

Working-resolution zoom of the reference's cropping processor: pages are
processed at 300 DPI, with per-cm embedded resolution converted at 2.54
(reference: cli/ocrd_anybaseocr_cropping.py:129-151).
"""

from __future__ import annotations


def zoom_factor(dpi: float | None, target_dpi: float = 300.0) -> float:
    """F4: working-resolution zoom; embedded resolution may be per-cm
    (x2.54). None → 1.0 (unknown resolution, use native)."""
    if dpi is None or dpi <= 0:
        return 1.0
    return target_dpi / float(dpi)
