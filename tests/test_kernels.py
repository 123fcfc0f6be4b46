"""Unit tests for the pure numpy kernels (no Spark needed) — the per-operator
synthetic-geometry tests of SURVEY.md §5."""

from __future__ import annotations

import numpy as np
import pytest

from ocrd_anybaseocr_spark.kernels.binarize import binarize_sauvola, otsu_threshold
from ocrd_anybaseocr_spark.kernels.components import _find_runs, labeled_runs, runs_from_image
from ocrd_anybaseocr_spark.kernels.crop import (
    coalesce_columns,
    detect_border,
    detect_ruler,
    merge_x_overlaps,
)
from ocrd_anybaseocr_spark.kernels.deskew import estimate_shear_from_runs, unshear
from ocrd_anybaseocr_spark.kernels.fold import fold_document
from ocrd_anybaseocr_spark.png import decode_gray, encode_gray
from ocrd_anybaseocr_spark.synth import generate_doc


def test_png_roundtrip():
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
    data = encode_gray(img, dpi=200)
    out, dpi = decode_gray(data)
    assert np.array_equal(out, img)
    assert dpi == 200


def test_otsu_bimodal():
    img = np.full((50, 50), 240, dtype=np.uint8)
    img[10:20, 10:40] = 10
    t = otsu_threshold(img)
    assert 10 <= t < 240
    ink = img <= t
    assert ink[15, 20] and not ink[0, 0]
    assert ink.sum() == 10 * 30


def test_sauvola_detects_local_ink():
    img = np.full((64, 64), 200, dtype=np.uint8)
    img[20:30, 20:50] = 30
    ink = binarize_sauvola(img, window=15, k=0.2)
    assert ink[25, 30]
    assert not ink[5, 5]


def _cc(mask):
    """The page kernels' CC analysis of a boolean ink mask."""
    return labeled_runs(runs=_find_runs(mask), h=mask.shape[0])


def test_component_stats_boxes():
    m = np.zeros((40, 40), dtype=bool)
    m[2:6, 3:10] = True
    m[20:25, 15:30] = True
    stats = _cc(m)[0]
    assert len(stats) == 2
    boxes = {tuple(r[:4]) for r in stats}
    assert (3, 2, 9, 5) in boxes and (15, 20, 29, 24) in boxes
    counts = sorted(r[4] for r in stats)
    assert counts == [4 * 7, 5 * 15]


def test_component_u_shape_single():
    m = np.zeros((20, 20), dtype=bool)
    m[5:15, 4:6] = True
    m[5:15, 14:16] = True
    m[13:15, 4:16] = True
    stats = _cc(m)[0]
    assert len(stats) == 1


def test_deskew_recovers_grid_shear():
    img = np.full((400, 300), 235, dtype=np.uint8)
    img[40:360, 30:33] = 10
    img[40:360, 270:273] = 10
    img[40:43, 30:273] = 10
    img[357:360, 30:273] = 10
    from ocrd_anybaseocr_spark.synth import skew_grid

    shear = float(skew_grid()[6])  # a positive grid candidate
    shifts = np.round(shear * np.arange(400)).astype(int)
    skewed = np.full_like(img, 235)
    for s in np.unique(shifts):
        rows = shifts == s
        skewed[rows, s:] = img[rows, : 300 - s] if s else img[rows]
    est = estimate_shear_from_runs(*runs_from_image(skewed, 128), *skewed.shape)
    assert est == pytest.approx(shear)
    assert np.array_equal(unshear(skewed, est)[:, : 300 - shifts.max()], img[:, : 300 - shifts.max()])


def test_ruler_gates():
    ink = np.zeros((1000, 700), dtype=bool)
    # frame
    ink[60:63, 50:650] = True
    ink[900:903, 50:650] = True
    ink[60:903, 50:53] = True
    ink[60:903, 647:650] = True
    # ruler bar in bottom margin
    ink[940:946, 100:400] = True
    cc = _cc(ink)
    ruler = detect_ruler(ink.shape, stats=cc[0])
    assert ruler == [100, 940, 399, 945]
    border, perfect = detect_border(ink.shape, ruler, cc=cc)
    assert perfect and border == [50, 60, 649, 902]


def test_border_fallback_textboxes():
    ink = np.zeros((500, 400), dtype=bool)
    for y in range(100, 380, 24):  # text rows only, no frame
        ink[y : y + 10, 60:340] = True
    border, perfect = detect_border(ink.shape, None, cc=_cc(ink))
    assert not perfect
    assert border == [60, 100, 339, 373]


def test_merge_x_overlaps_transitive():
    boxes = np.array([[0, 0, 10, 5], [8, 10, 20, 15], [18, 20, 30, 25], [50, 0, 60, 5]])
    merged = merge_x_overlaps(boxes)
    assert len(merged) == 2
    assert merged[0].tolist() == [0, 0, 30, 25]


def test_coalesce_columns_gap():
    boxes = np.array([[0, 0, 10, 50], [14, 0, 24, 50], [60, 0, 70, 50]])
    out = coalesce_columns(boxes, col_sep=5)
    assert len(out) == 2
    assert out[0].tolist() == [0, 0, 24, 50]


def test_fold_reference_semantics():
    # title page, chapter, pages attach to chapter, section, page after section
    pages = [
        ("p0", ["title_page"]),
        ("p1", ["chapter"]),
        ("p2", ["page"]),
        ("p3", ["section"]),
        ("p4", ["page"]),
    ]
    divs, links = fold_document(pages)
    # title_page div 0, chapter div 1 (root), section div 2 under chapter
    assert divs[0] == (0, "title_page", -1)
    assert divs[1] == (1, "chapter", -1)
    assert (2, "section", 1) in divs
    # p2 links to chapter (id 1 > section 0); p4 links to section (2 > 1)
    link_map = dict((m, i) for i, m in links)
    assert link_map["p2"] == 1
    assert link_map["p4"] == 2


def test_fold_quirk_chapter_id0_treated_missing():
    # chapter gets div id 0 → 'page' branch sees logIDs[chapter]==0 → new div
    divs, links = fold_document([("p0", ["chapter"]), ("p1", ["page"])])
    assert divs[0] == (0, "chapter", -1)
    # reference quirk: a fresh 'page' div is created instead of linking to chapter 0
    assert divs[1][1] == "page"


def test_synth_truth_recovered():
    from ocrd_anybaseocr_spark.oracle import process_document

    doc, blobs = generate_doc(42, 3)
    bmap = {b["media_ref"]: b["image"] for b in blobs}
    truth = {b["media_ref"]: b for b in blobs}
    _, prs, _ = process_document(doc, bmap)
    for r in prs:
        t = truth[r["media_ref"]]
        assert r["border"] == list(t["truth_border"])
        assert r["skew"] == pytest.approx(t["truth_skew"])
        assert r["labels"] == list(t["truth_labels"])


def test_close_runs_heals_gaps_and_preserves_structure():
    """close_runs merges same-row runs separated by <= gap white px (pepper
    holes), leaves wider gaps (real layout separations) and other rows
    untouched, and is an exact no-op at gap=0."""
    import numpy as np

    from ocrd_anybaseocr_spark.kernels.components import close_runs

    # row 0: [0,10) gap1 [11,20)  -> heals at gap>=1
    # row 0: [20..) none
    # row 1: [5,8) gap3 [11,15)   -> stays split at gap<=2
    # row 2: single run untouched
    rr = np.array([0, 0, 1, 1, 2])
    ss = np.array([0, 11, 5, 11, 7])
    ee = np.array([10, 20, 8, 15, 30])
    r2, s2, e2 = close_runs((rr, ss, ee), 1)
    got = sorted(zip(r2.tolist(), s2.tolist(), e2.tolist()))
    assert got == [(0, 0, 20), (1, 5, 8), (1, 11, 15), (2, 7, 30)]
    r0, s0, e0 = close_runs((rr, ss, ee), 0)
    assert sorted(zip(r0.tolist(), s0.tolist(), e0.tolist())) == sorted(
        zip(rr.tolist(), ss.tolist(), ee.tolist())
    )
    # chained healing: three fragments, each 1 apart, become one run
    rr3 = np.array([4, 4, 4]); ss3 = np.array([0, 4, 8]); ee3 = np.array([3, 7, 12])
    r3, s3, e3 = close_runs((rr3, ss3, ee3), 1)
    assert (r3.tolist(), s3.tolist(), e3.tolist()) == ([4], [0], [12])
    # empty input passes through
    z = np.zeros(0, dtype=np.int64)
    assert all(len(a) == 0 for a in close_runs((z, z, z), 2))
