"""The derived grayscale_normalized stage (ref feature vocabulary) and
its normalization kernel."""

from __future__ import annotations


def test_grayscale_normalized_stage_emitted_and_matchable(corpus_dir):
    """The grayscale_normalized stage (ref feature vocabulary,
    cropping.py:118-120) is a REAL produced stage: default params emit the
    feature, and disabling the stage drops the feature. The normalization
    itself must not perturb truth recovery (see test_dpi/test_kernels —
    exact-border tests run with the default-ON stage)."""
    import numpy as np

    from ocrd_anybaseocr_spark.config import BinarizeParams, PipelineParams
    from ocrd_anybaseocr_spark.kernels.binarize import normalize_gray
    from ocrd_anybaseocr_spark.oracle import process_page
    from ocrd_anybaseocr_spark.synth import generate_doc

    _, blobs = generate_doc(42, 0)
    png = bytes(blobs[0]["image"])
    r = process_page(png)
    assert r["features"].startswith("grayscale_normalized,binarized")
    off = PipelineParams(binarize=BinarizeParams(normalize_gray=False))
    r2 = process_page(png, off)
    assert "grayscale_normalized" not in r2["features"]

    # the stretch really normalizes: a low-contrast page with a real ink
    # anchor (10% ink ~35, paper ~150-160) maps its percentile band to
    # full range
    rng = np.random.default_rng(3)
    flat = rng.integers(150, 160, size=(120, 90), dtype=np.uint8)
    ink = rng.random(flat.shape) < 0.10
    flat[ink] = rng.integers(30, 40, size=int(ink.sum()), dtype=np.uint8)
    out = normalize_gray(flat)
    assert out.min() == 0 and out.max() == 255
    assert normalize_gray(np.full((50, 50), 128, np.uint8)).max() == 128  # flat no-op
    # ink-anchor gate (round 5): a band that sits entirely inside spread
    # PAPER (low-ink page under scanner shading — narrow relative band)
    # must NOT be stretched; blowing shading across the range made Otsu
    # mark a quarter of a vignetted title page as ink (test_degraded.py
    # holds the end-to-end consequence)
    paper_only = rng.integers(190, 235, size=(120, 90), dtype=np.uint8)
    assert np.array_equal(normalize_gray(paper_only), paper_only)
    # ...but a genuinely FADED page (ink 115-125, paper 195-205 — wide
    # relative band, real separation) must still stretch to full range
    faded = rng.integers(195, 205, size=(120, 90), dtype=np.uint8)
    fink = rng.random(faded.shape) < 0.10
    faded[fink] = rng.integers(115, 125, size=int(fink.sum()), dtype=np.uint8)
    fout = normalize_gray(faded)
    assert fout.min() == 0 and fout.max() == 255
