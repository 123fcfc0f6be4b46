"""Multimodal metadata operators: JVM-side PNG header parsing must agree
with the generator's ground-truth dimensions, byte for byte."""

from __future__ import annotations

from ocrd_anybaseocr_spark.operators.media import media_metadata
from ocrd_anybaseocr_spark.sources.tables import load_corpus


def test_png_metadata_matches_truth(spark, corpus_dir):
    _, blobs = load_corpus(spark, corpus_dir)
    meta = media_metadata(blobs).join(
        blobs.select("media_ref", "width", "height"), "media_ref"
    )
    rows = meta.collect()
    assert rows
    for r in rows:
        assert r.is_png
        assert r.png_width == r.width
        assert r.png_height == r.height
        assert r.png_bit_depth == 8
        assert r.pixels == r.width * r.height


def test_metadata_plan_has_no_python(spark, corpus_dir):
    """The metadata path must stay JVM-side: no Python UDF nodes."""
    from ocrd_anybaseocr_spark.plans import explain_str

    _, blobs = load_corpus(spark, corpus_dir)
    plan = explain_str(media_metadata(blobs), "simple")
    assert "Python" not in plan and "MapInPandas" not in plan


def test_audio_energy_windows_exact(spark):
    """Windowed PCM energies: known int16 samples → exact int64 energies,
    trailing partial window analyzed as-is, window cap respected."""
    import numpy as np

    from ocrd_anybaseocr_spark.operators.media import (
        AUDIO_MAX_WINDOWS,
        audio_energy_windows,
    )

    x = np.arange(-300, 340, dtype="<i2")  # 640 samples -> windows 256,256,128
    blob = x.tobytes() + b"\x07"  # trailing odd byte must be ignored
    df = spark.createDataFrame([("m1", bytearray(blob))], "media_ref string, image binary")
    got = {r.win_no: (r.n_samples, r.energy) for r in audio_energy_windows(df).collect()}
    xs = x.astype(np.int64)
    want = {
        0: (256, int((xs[:256] ** 2).sum())),
        1: (256, int((xs[256:512] ** 2).sum())),
        2: (128, int((xs[512:] ** 2).sum())),
    }
    assert got == want and len(want) <= AUDIO_MAX_WINDOWS


def test_frame_sample_stride(spark):
    """Raw frame sampling picks frames 0, stride, 2*stride with exact byte
    sums and drops the trailing partial frame."""
    import numpy as np

    from ocrd_anybaseocr_spark.operators.media import FRAME_BYTES, FRAME_STRIDE, frame_sample

    rng = np.random.RandomState(5)
    n_frames = 2 * FRAME_STRIDE + 1  # frames 0..8 -> sampled 0, 4, 8
    data = rng.randint(0, 256, size=n_frames * FRAME_BYTES + 100, dtype=np.uint8)
    df = spark.createDataFrame(
        [("v1", bytearray(data.tobytes()))], "media_ref string, image binary"
    )
    got = {r.frame_no: (r.n_bytes, r.byte_sum) for r in frame_sample(df).collect()}
    want = {
        f * FRAME_STRIDE: (
            FRAME_BYTES,
            int(data[f * FRAME_STRIDE * FRAME_BYTES:(f * FRAME_STRIDE + 1) * FRAME_BYTES]
                .astype(np.int64).sum()),
        )
        for f in range(3)
    }
    assert got == want


def test_resize_images_matches_kernel_and_is_deterministic(spark, corpus_dir):
    """The resize tier must equal the single-process kernel pixel for
    pixel after a decode round-trip, report the resized dimensions, and
    produce byte-identical PNG output across runs (canonical encoder)."""
    import numpy as np

    from ocrd_anybaseocr_spark.kernels.transform import resize_nearest
    from ocrd_anybaseocr_spark.operators.media import resize_images
    from ocrd_anybaseocr_spark.png import decode_gray
    from ocrd_anybaseocr_spark.sources.tables import load_corpus

    _, blobs = load_corpus(spark, corpus_dir)
    some = blobs.limit(6)
    out1 = {r.media_ref: r for r in resize_images(some, 0.5).collect()}
    out2 = {r.media_ref: bytes(r.image) for r in resize_images(some, 0.5).collect()}
    src = {r.media_ref: bytes(r.image) for r in some.collect()}
    assert len(out1) == 6
    from ocrd_anybaseocr_spark.png import decode_image

    modes = set()
    for ref, r in out1.items():
        img, _ = decode_gray(src[ref])
        want = resize_nearest(img, 0.5)
        # luminance commutes with nearest sampling, so this holds for BOTH
        # gray and RGB pages — and the output must keep the SOURCE mode
        got, _ = decode_gray(bytes(r.image))
        assert decode_image(bytes(r.image))[1] == decode_image(src[ref])[1], ref
        modes.add(decode_image(src[ref])[1])
        assert (r.height, r.width) == want.shape == got.shape
        assert np.array_equal(got, want), ref
        assert bytes(r.image) == out2[ref]  # byte-determinism across runs

    import pytest as _pytest

    with _pytest.raises(ValueError):
        resize_images(some, 0.0)
    with _pytest.raises(ValueError):
        resize_images(some, -2.0)


def test_dhash_perceptual_properties(spark):
    """dHash behaves perceptually: (1) exact duplicate → hamming 0;
    (2) a uniform brightness shift (no clipping) flips NO bits (gradient
    signs are shift-invariant); (3) a small local blot flips only a few
    bits; (4) an unrelated page is far. The pair generator finds the
    planted near-dup through the shared banding machinery."""
    import numpy as np

    from ocrd_anybaseocr_spark.operators.dedup import hamming_pairs
    from ocrd_anybaseocr_spark.operators.media import dhash_bytes
    from ocrd_anybaseocr_spark.png import encode_gray
    from ocrd_anybaseocr_spark.synth import generate_doc

    _, blobs = generate_doc(42, 5)
    base = bytes(blobs[0]["image"])
    other = bytes(blobs[1]["image"])
    from ocrd_anybaseocr_spark.png import decode_gray

    img, dpi = decode_gray(base)
    h0 = dhash_bytes(base)
    assert dhash_bytes(base) == h0  # deterministic

    shifted = np.clip(img.astype(np.int16) + 10, 0, 245).astype(np.uint8)
    assert dhash_bytes(encode_gray(shifted, dpi=dpi)) == h0

    blot = img.copy()
    blot[: img.shape[0] // 10, : img.shape[1] // 10] = 0  # one corner blot
    hb = dhash_bytes(encode_gray(blot, dpi=dpi))
    d_blot = bin((h0 ^ hb) & ((1 << 64) - 1)).count("1")
    assert 0 < d_blot <= 6

    rows = [("p0", base), ("p0_blot", bytes(encode_gray(blot, dpi=dpi))), ("other", other)]
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("media_ref", T.StringType()),
            T.StructField("image", T.BinaryType()),
        ]),
    )
    from ocrd_anybaseocr_spark.operators.media import media_dhash

    pairs = {(r.media_ref_a, r.media_ref_b): r.hamming
             for r in hamming_pairs(media_dhash(df), "media_ref", "dhash", max_hamming=3).collect()}
    assert ("p0", "p0_blot") in pairs or d_blot > 3


def test_media_dhash_clusters_union_find_parity(spark, sf_dir):
    """Visual CC labels must equal a python union-find over the
    (independently gated) dhash pair relation, with lexicographic-min
    canonical labels and every signature row present."""
    from ocrd_anybaseocr_spark.queries import QUERIES

    sig = {r.media_ref for r in QUERIES["media_dhash"](spark, sf_dir).collect()}
    pairs = QUERIES["media_dhash_pairs"](spark, sf_dir).collect()
    parent = {m: m for m in sig}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r.media_ref_a), find(r.media_ref_b)
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = {m: find(m) for m in sig}
    got = {r.media_ref: r.cluster_id for r in
           QUERIES["media_dhash_clusters"](spark, sf_dir).collect()}
    assert got == want
    assert any(v != k for k, v in got.items()) or not pairs
