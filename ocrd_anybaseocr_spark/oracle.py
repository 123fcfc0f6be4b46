"""Single-process oracle: the same kernels run per-document in plain Python.

This is the pytest golden reference (SURVEY.md §5, FIXTURES.md §3): the
distributed pipeline's output must equal this, page for page, span for span,
at every parallelism level — the Spark analogue of the reference's
serial ≡ parallel test matrix (reference: tests/conftest.py:68-99).
"""

from __future__ import annotations

import numpy as np

from .config import DEFAULT_PARAMS, PipelineParams
from .kernels.binarize import otsu_threshold
from .kernels.classify import classify_page
from .kernels.components import labeled_runs, runs_from_image, unshear_runs, zoom_runs
from .kernels.crop import detect_border, detect_ruler
from .kernels.deskew import estimate_shear_from_runs, unshear
from .kernels.fold import fold_document
from .kernels.geometry import zoom_factor
from .kernels.transform import resize_nearest
from .png import decode_gray


def process_page(png_bytes: bytes, params: PipelineParams = DEFAULT_PARAMS):
    """Run binarize → deskew → ruler → crop → tiseg/classify on one page.

    DPI handling follows the reference exactly (cropping.py:129-151): a
    positive ``params.crop.dpi_override`` asserts the scan DPI, else the
    embedded pHYs resolution is used, else zoom = 1; the page is rescaled
    to the 300-DPI working resolution where every fixed pixel threshold is
    calibrated, detection runs there, and the final border is mapped back
    to native coordinates (floor(c / zoom) — exact inverse of the
    resize_nearest mapping). Skew is a dx/dy ratio, invariant under
    uniform rescale, so it is returned as estimated.

    Returns a dict matching schema.PAGE_RESULTS minus doc/page identity.
    """
    img, dpi = decode_gray(png_bytes)
    raw = img  # pre-normalize image: the escalation path restarts from it
    if params.binarize.normalize_gray:
        from .kernels.binarize import normalize_gray

        img = normalize_gray(
            img, params.binarize.norm_lo_pct, params.binarize.norm_hi_pct
        )
    nat_h, nat_w = img.shape
    eff_dpi = params.crop.dpi_override if params.crop.dpi_override > 0 else dpi
    zoom = zoom_factor(eff_dpi, params.crop.dpi)
    # Zoom strategy: the Otsu path zooms UP in RUN SPACE (zoom_runs) — the
    # upscaled image is never materialized, so a 150-DPI page costs native
    # pixel work + run arithmetic instead of 4x the memory traffic (the
    # shared-bus host punishes exactly that; see CLAUDE.md). Sauvola is a
    # windowed local threshold, so its (rare, test/param) path upscales
    # pixels — window statistics are not expressible over duplicated runs.
    # DOWNSCALE (zoom < 1, a >300-DPI scan) takes the materialized pixel
    # path: run arithmetic can't express it — ceil-mapping a native run
    # downward emits zero-length runs and abutting fragments that diverge
    # from resize_nearest (ADVICE round 2, item 2), and downscaled images
    # are SMALLER than native, so materializing costs less than the input.
    zoom_in_runs = zoom > 1.0 and params.binarize.method != "sauvola"
    if zoom != 1.0 and not zoom_in_runs:
        img = resize_nearest(img, zoom)
    if zoom_in_runs:
        h = max(1, int(np.ceil(nat_h * zoom)))
        w = max(1, int(np.ceil(nat_w * zoom)))
    else:
        h, w = img.shape
    from .kernels.components import close_runs

    _gap = params.binarize.close_gap
    escalated = False
    if params.binarize.method == "sauvola":
        from .kernels.binarize import binarize_sauvola
        from .kernels.components import _find_runs

        def _runs(im):
            mask = binarize_sauvola(im, params.binarize.sauvola_window, params.binarize.sauvola_k)
            return close_runs(_find_runs(mask), _gap)
    else:
        from .kernels.binarize import otsu_stats

        t, eta, _ink = otsu_stats(img)
        escalated = (
            params.binarize.escalate_low_separability
            and eta < params.binarize.min_separability
        )
        if escalated:
            # global-threshold confidence gate (VERDICT r5 item 5): a low
            # between/total-variance ratio means shading has smeared the
            # paper mode into the ink mode and NO global cut can separate
            # them — flatten illumination (background division) and
            # re-threshold. The pipeline RESTARTS from the pre-normalize
            # image: the percentile stretch is lossy (LUT clipping) on
            # exactly the shaded pages that escalate, so flattening its
            # output recovers less than flattening the raw scan (measured:
            # border recovery 0.84 vs 0.90 at 4x strength). The run-space
            # zoom strategy is unaffected (flattening precedes runs).
            from .kernels.binarize import flatten_background, normalize_gray

            base = raw
            if zoom != 1.0 and not zoom_in_runs:
                base = resize_nearest(base, zoom)
            img = flatten_background(base)
            if params.binarize.normalize_gray:
                img = normalize_gray(
                    img, params.binarize.norm_lo_pct, params.binarize.norm_hi_pct
                )
            t = otsu_threshold(img)

        def _runs(im):
            # unshear moves pixels, not values — the Otsu threshold is reused;
            # threshold + run extraction fused per strip (no full mask);
            # close_gap heals sub-gap white dropouts inside ink runs
            return close_runs(runs_from_image(im, t), _gap)

    runs = _runs(img)
    if zoom_in_runs:
        runs = zoom_runs(runs, zoom, nat_h)
    shear = estimate_shear_from_runs(*runs, h, w, params.deskew)
    if shear != 0.0:
        if zoom_in_runs:
            runs = unshear_runs(runs, shear, w)
        else:
            img = unshear(img, shear)
            runs = _runs(img)
    cc = labeled_runs(runs=runs, h=h)  # one CC pass shared by ruler/border/classify
    shape = (h, w)
    ruler = detect_ruler(shape, params.crop, stats=cc[0])
    border, perfect = detect_border(shape, ruler, params.crop, cc=cc)
    scores, labels, seg = classify_page(shape, border, params.classify, stats=cc)
    if zoom != 1.0:
        # unzoom to native coordinates (ref cropping.py:156 'unzoom'); floor
        # inverts resize_nearest exactly, clip guards zoom < 1 edge cases
        border = [
            min(int(border[0] // zoom), nat_w - 1),
            min(int(border[1] // zoom), nat_h - 1),
            min(int(border[2] // zoom), nat_w - 1),
            min(int(border[3] // zoom), nat_h - 1),
        ]
    features = (
        "grayscale_normalized,binarized"
        if params.binarize.normalize_gray
        else "binarized"
    )
    if escalated:
        # lineage marker for the gated illumination-flattening path — lets
        # downstream selectors (P1 feature filters) target or audit
        # escalated pages; clean pages never carry it (gate never trips)
        features = features.replace("binarized", "illum_flattened,binarized")
    if shear != 0.0:
        features += ",deskewed"
    features += ",cropped"
    return {
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


def extract_document(doc_id: str, spans: list[dict]):
    """Flagship extraction: reading-order-sorted span sequence
    (kind, text, media_ref, order) — strict-equality contract of
    BASELINE.json input_hint."""
    ordered = sorted(spans, key=lambda s: s["offset"])
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "order": i}
            for i, s in enumerate(ordered)
        ],
    }


def process_document(doc: dict, blobs: dict[str, bytes], params: PipelineParams = DEFAULT_PARAMS):
    """Full per-document oracle: extraction + per-page results + structure fold."""
    extracted = extract_document(doc["doc_id"], doc["spans"])
    page_results = []
    page_labels: list[tuple[str, list[str]]] = []
    page_no = 0
    for s in extracted["spans"]:
        if s["kind"] == "page_image":
            r = process_page(blobs[s["media_ref"]], params)
            r["doc_id"] = doc["doc_id"]
            r["media_ref"] = s["media_ref"]
            r["page_no"] = page_no
            page_results.append(r)
            page_labels.append((s["media_ref"], r["labels"]))
            page_no += 1
    divs, links = fold_document(page_labels)
    structure = {
        "doc_id": doc["doc_id"],
        "divs": [{"log_id": d[0], "label": d[1], "parent_id": d[2]} for d in divs],
        "links": [{"log_id": l[0], "media_ref": l[1]} for l in links],
    }
    return extracted, page_results, structure


def round_like_spark(x: float, scale: int = 6) -> float:
    """Replicate Spark's ``F.round(double, scale)`` bit-for-bit.

    Spark's Round on DoubleType is ``BigDecimal(Double.toString(d))
    .setScale(scale, HALF_UP).toDouble``; Python's ``repr`` emits the same
    shortest round-trip decimal as ``Double.toString``, so quantizing that
    Decimal HALF_UP reproduces the exact double Spark returns — Python's
    built-in ``round`` (banker's, binary) does NOT. The ``+ 0.0`` folds
    -0.0 to +0.0: BigDecimal has no signed zero, so Spark returns +0.0
    for any tiny negative that rounds to zero, while Decimal preserves
    the sign — and the driver's canon formats them differently ('-0' vs
    '0'), which would flip the hash gate (round-4 review finding).
    """
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP)) + 0.0


MEDIA_RESIZE_ZOOM = 0.5  # the fixed zoom the media_resize query is gated at

# bump when the CONTENT of the expected_*.parquet files changes for the
# same corpus bytes — kernel behavior feeding process_page/fold, the
# flat-row shaping in materialize_expected, round_like_spark,
# MEDIA_RESIZE_ZOOM or the resize composition. The query-corpus cache dir
# is keyed by SYNTH_VERSION (corpus BYTES) and by this version (the derived
# expectations INSIDE it) — without it, a stale cached expectation would
# fail the driver gate on correct code with no pointer to the cache.
EXPECTED_VERSION = 6  # v6: bpe_merges + fit_coverage_ppm (no-silent-caps)
                      # (BPE tokenizer expectations join the materialized set)
# (v4: Otsu-confidence gate + illumination flattening — no-op on clean
# pages, eta >= 0.98 there, but the kernel changed, so cached
# expectations re-materialized)
# (v2: close_runs healing + normalize_gray ink-anchor gate — round-5
# degraded-tier hardening; clean-tier recovery verified unchanged, but the
# kernels feeding process_page changed, so re-materialize by contract)


def expected_marker_name() -> str:
    """Completion marker written LAST by materialize_expected, stamped with
    EXPECTED_VERSION."""
    return f".expected_complete_v{EXPECTED_VERSION}"


def _expected_resize_row(media_ref: str, png_bytes: bytes) -> dict:
    """Oracle expectation for one blob: the SAME resize composition the
    distributed operator runs (operators/media.resize_image_bytes — single
    definition, nothing to hand-synchronize), hashed."""
    import hashlib

    from .operators.media import resize_image_bytes

    png, h, w = resize_image_bytes(png_bytes, MEDIA_RESIZE_ZOOM)
    return {
        "media_ref": media_ref,
        "width": w,
        "height": h,
        "img_md5": hashlib.md5(png).hexdigest(),
    }


def materialize_expected(out_dir: str, n_docs: int, seed: int = 42,
                         params: PipelineParams = DEFAULT_PARAMS) -> None:
    """Write the oracle's expected pipeline outputs as parquet next to the
    corpus, in EXACTLY the flat row shape the two pipeline-backed queries
    emit (queries.q_pipeline_page_results / q_pipeline_doc_structure), so a
    DuckDB ``read_parquet`` over these files is a full rows+schema+hash
    oracle for the image-kernel-backed queries (VERDICT r3 item 1; matches
    the reference's e2e postcondition tests,
    reference: tests/test_ocrd.py:24-25,32,44).

    Regenerates each document from (seed, index) — byte-identical to the
    corpus by synth's determinism contract — and runs the single-process
    kernels; the caller keys ``out_dir`` on SYNTH_VERSION and
    EXPECTED_VERSION so neither a generator nor a kernel change can serve
    stale expectations.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .synth import generate_doc

    from .operators.media import dhash_bytes

    pr_rows: list[dict] = []
    ds_rows: list[dict] = []
    rz_rows: list[dict] = []
    dh_rows: list[dict] = []
    flat_texts: dict[str, str] = {}  # doc_id -> reading-order text (BPE twin)
    for i in range(n_docs):
        doc, blobs = generate_doc(seed, i)
        flat_texts[doc["doc_id"]] = " ".join(
            t
            for _, t in sorted(
                (s["offset"], s["text"])
                for s in doc["spans"]
                if s["text"] is not None
            )
        )
        blob_map = {b["media_ref"]: b["image"] for b in blobs}
        for ref in sorted(blob_map):
            rz_rows.append(_expected_resize_row(ref, blob_map[ref]))
            dh_rows.append({"media_ref": ref, "dhash": dhash_bytes(blob_map[ref])})
        _, page_results, structure = process_document(doc, blob_map, params)
        for r in page_results:
            pr_rows.append(
                {
                    "doc_id": r["doc_id"],
                    "media_ref": r["media_ref"],
                    "page_no": r["page_no"],
                    "bx1": r["border"][0],
                    "by1": r["border"][1],
                    "bx2": r["border"][2],
                    "by2": r["border"][3],
                    "perfect": r["perfect"],
                    "skew": round_like_spark(r["skew"], 6),
                    "features": r["features"],
                    "labels": ",".join(r["labels"]),
                    "n_text_regions": r["n_text_regions"],
                    "n_image_regions": r["n_image_regions"],
                }
            )
        for d in structure["divs"]:
            ds_rows.append(
                {
                    "doc_id": structure["doc_id"],
                    "log_id": d["log_id"],
                    "log_ref": f"LOG_{d['log_id']:04d}",
                    "label": d["label"],
                    "parent_id": d["parent_id"],
                }
            )

    pr_schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), False),
            pa.field("media_ref", pa.string(), False),
            pa.field("page_no", pa.int32(), False),
            pa.field("bx1", pa.int32(), False),
            pa.field("by1", pa.int32(), False),
            pa.field("bx2", pa.int32(), False),
            pa.field("by2", pa.int32(), False),
            pa.field("perfect", pa.bool_(), False),
            pa.field("skew", pa.float64(), False),
            pa.field("features", pa.string(), False),
            pa.field("labels", pa.string(), False),
            pa.field("n_text_regions", pa.int32(), False),
            pa.field("n_image_regions", pa.int32(), False),
        ]
    )
    ds_schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), False),
            pa.field("log_id", pa.int32(), False),
            pa.field("log_ref", pa.string(), False),
            pa.field("label", pa.string(), False),
            pa.field("parent_id", pa.int32(), False),
        ]
    )
    rz_schema = pa.schema(
        [
            pa.field("media_ref", pa.string(), False),
            pa.field("width", pa.int32(), False),
            pa.field("height", pa.int32(), False),
            pa.field("img_md5", pa.string(), False),
        ]
    )
    dh_schema = pa.schema(
        [
            pa.field("media_ref", pa.string(), False),
            pa.field("dhash", pa.int64(), False),
        ]
    )
    # BPE tokenizer expectations — the single-process twin of
    # operators/tokenize.py: same Counter the distributed word count
    # produces, same top-V tie-break, same kernels/bpe.py fit + encode
    import hashlib as _hashlib
    from collections import Counter

    from .kernels.bpe import BPE_TOP_WORDS, bpe_encode_text, bpe_train

    wc: Counter = Counter()
    for t in flat_texts.values():
        wc.update(t.split(" "))
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_WORDS]
    merges = bpe_train(top)
    # exact-int coverage of the top-V cap (no silent caps, VERDICT r6
    # item 5) — same x*1e6 div total as operators/tokenize.bpe_fit_stats
    total_occ = sum(wc.values())
    cov_ppm = (sum(c for _, c in top) * 1_000_000) // total_occ if total_occ else 0
    bm_rows = [
        {
            "merge_rank": i,
            "pair_left": l,
            "pair_right": r,
            "merged": l + r,
            "fit_coverage_ppm": cov_ppm,
        }
        for i, (l, r) in enumerate(merges)
    ]
    bt_rows = []
    for d in sorted(flat_texts):
        toks = bpe_encode_text(flat_texts[d], merges)
        bt_rows.append(
            {
                "doc_id": d,
                "n_words": len(flat_texts[d].split(" ")),
                "n_tokens": len(toks),
                "tokens_md5": _hashlib.md5(" ".join(toks).encode()).hexdigest(),
            }
        )
    bm_schema = pa.schema(
        [
            pa.field("merge_rank", pa.int64(), False),
            pa.field("pair_left", pa.string(), False),
            pa.field("pair_right", pa.string(), False),
            pa.field("merged", pa.string(), False),
            pa.field("fit_coverage_ppm", pa.int64(), False),
        ]
    )
    bt_schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), False),
            pa.field("n_words", pa.int64(), False),
            pa.field("n_tokens", pa.int64(), False),
            pa.field("tokens_md5", pa.string(), False),
        ]
    )
    # write-to-temp + atomic rename per file; the version-stamped marker
    # below is written AFTER all of them, so a crash mid-set leaves it
    # absent
    for rows, schema, name in (
        (pr_rows, pr_schema, "expected_page_results.parquet"),
        (ds_rows, ds_schema, "expected_doc_structure.parquet"),
        (rz_rows, rz_schema, "expected_resize.parquet"),
        (dh_rows, dh_schema, "expected_dhash.parquet"),
        (bm_rows, bm_schema, "expected_bpe_merges.parquet"),
        (bt_rows, bt_schema, "expected_bpe_tokens.parquet"),
    ):
        tmp = os.path.join(out_dir, f".{name}.tmp.{os.getpid()}")
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
        os.replace(tmp, os.path.join(out_dir, name))
    # version-stamped completion marker, written after every data file
    open(os.path.join(out_dir, expected_marker_name()), "w").write("ok")
