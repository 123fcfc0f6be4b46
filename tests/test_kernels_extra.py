"""Unit tests for the supplementary kernels: coordinate zoom (F4) and line
aggregation (A1/A2)."""

from __future__ import annotations

import numpy as np
import pytest

from ocrd_anybaseocr_spark.kernels.geometry import zoom_factor
from ocrd_anybaseocr_spark.kernels.lines import (
    aggregate_lines,
    linregress_slope_stderr,
    merge_collinear,
)


def test_zoom_factor():
    assert zoom_factor(150) == pytest.approx(2.0)
    assert zoom_factor(None) == 1.0


def test_linregress_matches_closed_form():
    xs = np.array([0.0, 1, 2, 3, 4])
    ys = 2.0 * xs + 1.0
    s, b, se = linregress_slope_stderr(xs, ys)
    assert s == pytest.approx(2.0) and b == pytest.approx(1.0) and se == pytest.approx(0.0)


def test_aggregate_lines_merges_collinear_nearby():
    segs = np.array(
        [[0, 10, 40, 10], [45, 10, 90, 10],  # same line, endpoints 5px apart
         [0, 100, 90, 100]]                  # far-away parallel line
    )
    groups = aggregate_lines(segs)
    assert len(groups) == 2
    big = max(groups, key=lambda g: len(g.ind))
    assert big.ind == {0, 1}


def test_aggregate_lines_stderr_gate_blocks():
    # perpendicular segments meeting at a point: tiny distance but the merged
    # fit is terrible → gate must block
    segs = np.array([[0, 0, 40, 0], [41, 1, 41, 40]])
    groups = aggregate_lines(segs)
    assert len(groups) == 2


def test_merge_collinear_bridges_gap():
    segs = np.array([[0, 10, 30, 10], [60, 10, 90, 10]])  # 30px gap > max_dist
    first = aggregate_lines(segs)
    assert len(first) == 2
    second = merge_collinear(first, w=1000)  # gap 30 < 0.10*1000
    assert len(second) == 1
    g = second[0]
    assert g.pts[:, 0].min() == 0 and g.pts[:, 0].max() == 90
    assert sum(g.lengths) == pytest.approx(60.0)
