"""Deterministic synthetic corpus generator (FIXTURES.md §1-2).

Produces the engine's input tables in exactly the BASELINE.json input_hint
shape:

  documents(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)
  page_blobs(media_ref, image(PNG bytes), width, height, dpi,
             truth_border, truth_labels, truth_skew)

Mirrors the reference's deterministic seeded test sample (reference:
tests/conftest.py:36-39, seed 12) but at arbitrary scale: every document is
generated from ``PCG64(seed ^ doc_index)`` so generation is order-independent
and parallelizable; the same (seed, doc_index) always yields byte-identical
rows.

Skew realism (SURVEY.md §7 hard-part 4): a long-tail fraction of documents
gets many pages and larger page images so salted repartitioning is actually
exercised by the benchmark.

Span arrays are stored SHUFFLED (deterministically) while ``offset`` carries
true reading order — extraction must sort, mirroring the reference's
reliance on PAGE region order (reference: cli/ocrd_anybaseocr_layout_analysis.py:156).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .config import DEFAULT_PARAMS
from .png import encode_gray, encode_rgb

# bump when generated bytes change for the same (seed, index) — cached
# corpora (queries._pipeline_corpus, .bench) key on it
SYNTH_VERSION = 2

WORDS = (
    "the quick brown fox jumps over lazy dog page chapter section index "
    "table figure margin text line word glyph border frame scan print "
    "folio recto verso quire colophon rubric incipit gloss lemma serif"
).split()


def _rng_for(seed: int, doc_index: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.uint64(seed) ^ np.uint64(0x9E3779B97F4A7C15 * (doc_index + 1) % (1 << 64))))


def skew_grid() -> np.ndarray:
    """The discrete shear-candidate grid shared by generator and deskew kernel
    (DEFAULT_PARAMS.deskew)."""
    params = DEFAULT_PARAMS.deskew
    return np.linspace(-params.max_skew, params.max_skew, params.steps)


def _draw_page(rng: np.random.Generator, role: str, oversized: bool):
    """Draw one synthetic scanned page. Returns (img, truth_border, labels,
    shear, dpi, is_rgb).

    Pages are drawn at their NATIVE resolution: every absolute-pixel
    constant below is calibrated at the 300-DPI working resolution and
    scaled by s = dpi/300 (via ``px``), so after process_page's zoom to
    300 DPI the structures land back in the classify/tiseg gate bands.
    Oversized long-tail docs stay 300 DPI (high-res scans — keeps the
    byte-skew fixture extreme); sheared pages stay 300 DPI because a
    shear applied at native resolution does not survive the nearest
    zoom→unshear→unzoom round-trip exactly, and exact truth recovery is
    a corpus invariant (CLAUDE.md)."""
    scale = 2.0 if oversized else 1.0
    dpi = 300 if oversized else int(rng.choice([150, 200, 300]))
    s = dpi / 300.0

    def px(v: float) -> int:
        return max(1, int(round(v * s)))

    w = int(rng.integers(560, 920) * scale * s)
    h = int(rng.integers(760, 1240) * scale * s)
    img = np.full((h, w), 235, dtype=np.uint8)  # paper background

    # ground-truth page frame
    ml = rng.uniform(0.06, 0.13)
    mr = rng.uniform(0.06, 0.13)
    mt = rng.uniform(0.06, 0.13)
    mb = rng.uniform(0.08, 0.15)
    x1, y1 = int(ml * w), int(mt * h)
    x2, y2 = int((1 - mr) * w), int((1 - mb) * h)
    t = px(3)  # frame thickness (3 px at working resolution)
    img[y1 : y1 + t, x1 : x2 + 1] = 10
    img[y2 - t + 1 : y2 + 1, x1 : x2 + 1] = 10
    img[y1 : y2 + 1, x1 : x1 + t] = 10
    img[y1 : y2 + 1, x2 - t + 1 : x2 + 1] = 10

    iw, ih = x2 - x1, y2 - y1
    pad = max(px(8), int(0.02 * min(iw, ih)))
    cx1, cy1, cx2, cy2 = x1 + pad, y1 + pad, x2 - pad, y2 - pad

    labels = [role] if role != "title_page" else ["title_page"]

    def text_rows(rx1, ry1, rx2, ry2):
        # text rows 8-13 px at working res (tiseg text gate <= 14 even
        # after the +-1 px zoom round-trip at non-integer s)
        row_h = px(int(rng.integers(8, 14)))
        gap = px(int(rng.integers(6, 12)))
        y = ry1
        while y + row_h <= ry2:
            wfrac = rng.uniform(0.75, 1.0)
            img[y : y + row_h, rx1 : rx1 + int((rx2 - rx1) * wfrac)] = 20
            y += row_h + gap

    if role == "title_page":
        # centered blocks in upper half
        for i in range(int(rng.integers(2, 5))):
            bw = int(iw * rng.uniform(0.35, 0.55))
            # 22-30 px at working res: stays in the 20..31 title band even
            # with the +-1 px round-trip at s = 2/3 (22 is the safe floor)
            bh = px(int(rng.integers(22, 31)))
            bx = (cx1 + cx2 - bw) // 2
            by = cy1 + int(ih * 0.12) + i * (bh + px(24))
            img[by : by + bh, bx : bx + bw] = 15
    elif role in ("chapter", "section"):
        # header bar: chapter wide (>=0.65 inner), section narrower (0.35-0.55)
        frac = rng.uniform(0.68, 0.75) if role == "chapter" else rng.uniform(0.35, 0.52)
        bw = int(iw * frac)
        img[cy1 : cy1 + px(17), cx1 : cx1 + bw] = 15
        text_rows(cx1, cy1 + px(34), cx2, cy2)
    elif role == "illustration":
        pw = int(iw * rng.uniform(0.45, 0.6))
        ph = int(ih * rng.uniform(0.3, 0.42))
        ix = cx1 + int(rng.uniform(0, 0.2) * iw)
        iy = cy1 + int(rng.uniform(0.05, 0.2) * ih)
        img[iy : iy + ph, ix : ix + pw] = 60
        text_rows(cx1, iy + ph + px(20), cx2, cy2)
    else:  # plain text page, 1-3 columns
        ncols = int(rng.integers(1, 4))
        colsep = max(12, int(0.03 * iw))
        cw = (cx2 - cx1 - (ncols - 1) * colsep) // ncols
        for c in range(ncols):
            ox = cx1 + c * (cw + colsep)
            text_rows(ox, cy1, ox + cw, cy2)

    # optional ruler bar in the bottom margin (reference ruler gates:
    # cli/ocrd_anybaseocr_cropping.py:237-250 — aspect 3..50, near a margin)
    has_ruler = bool(rng.random() < 0.3) and (h - y2) > px(18)
    if has_ruler:
        rw = int(w * rng.uniform(0.3, 0.55))
        rh = max(px(5), min(px(8), h - y2 - px(8)))
        ry = y2 + px(5)
        rx = int(rng.uniform(0.1, 0.4) * w)
        img[ry : ry + rh, rx : rx + rw] = 30

    # salt noise specks in outer margins
    n_noise = int(0.0006 * w * h * rng.random())
    if n_noise:
        xs = rng.integers(0, w, n_noise)
        ys = rng.integers(0, h, n_noise)
        outside = (xs < x1 - 4) | (xs > x2 + 4) | (ys < y1 - 4) | (ys > y2 + 4)
        img[ys[outside], xs[outside]] = 25

    # shear skew from the shared discrete grid (40% of 300-DPI pages; see
    # docstring for why sheared pages stay at the working resolution)
    grid = skew_grid()
    shear = 0.0
    if dpi == 300 and rng.random() < 0.4:
        shear = float(grid[int(rng.integers(0, len(grid)))])
        if shear != 0.0:
            shifts = np.round(shear * np.arange(h)).astype(np.int64)
            out = np.full_like(img, 235)
            for s in np.unique(shifts):
                rows = shifts == s
                if s >= 0:
                    out[rows, s:] = img[rows, : w - s] if s else img[rows]
                else:
                    out[rows, :s] = img[rows, -s:]
            img = out

    # ~25% of pages are RGB scans (channel-stacked gray, exactly the
    # reference's gray→RGB convention, cropping.py:144-145) — exercises the
    # color decode + luminance path end to end with zero truth drift
    is_rgb = bool(rng.random() < 0.25)
    return img, [x1, y1, x2, y2], labels, shear, dpi, is_rgb


# version tag of the DEGRADED tier only (cache dirs carry it); clean-tier
# bytes are untouched by the degradation pass, so SYNTH_VERSION is unchanged
DEGRADE_VERSION = 1


def _degrade_rng(seed: int, doc_index: int) -> np.random.Generator:
    # a stream SEPARATE from the draw rng: the degraded tier is a pure
    # function of (clean page, seed, doc_index) and the clean tier's bytes
    # can never shift under a degradation change
    return np.random.Generator(
        np.random.PCG64(
            np.uint64(seed) ^ np.uint64(0xD1B54A32D192ED03 * (doc_index + 1) % (1 << 64))
        )
    )


def degrade_page(
    img: np.ndarray, rng: np.random.Generator, strength: float = 1.0
) -> np.ndarray:
    """Seeded scanner-realism degradation (VERDICT r4 item 3): the
    adversarial tier between the clean synth corpus and real scans the
    reference validates on (reference tests/test_ocrd.py:13-44 run against
    dfki-testdata; no network here, so realism is modeled, not fetched).

    Applied AFTER drawing; truth values are NOT adjusted — the kernels must
    recover border/skew/labels within tolerances (tests/test_degraded.py)
    instead of exactly. Four degradations, all seeded:

    - bleed-through: faint mirrored ghost of the page's own ink (recto
      showing through verso), min-blended so it only darkens;
    - scanner vignette: smooth multiplicative corner shading;
    - salt-pepper: isolated full-black / full-white pixels anywhere,
      including ON content (holes in strokes, specks in margins);
    - sub-grid skew jitter: a small extra shear, < half the deskew
      candidate grid step, so the nearest-grid recovery stays the truth.

    ``strength`` scales every degradation (the envelope axis of
    BENCH/BASELINE.md, measured by tools/envelope.py): bleed/vignette/
    pepper rates multiply by it; jitter multiplies but caps at 0.45 of a
    grid step so nearest-grid skew recovery stays the truth at any
    strength. strength=1.0 consumes the SAME rng stream with the SAME
    values as before the parameter existed — shipped-tier bytes are
    unchanged (DEGRADE_VERSION stays 1).
    """
    h, w = img.shape
    out = img.astype(np.float32)
    # bleed-through (behind the shading)
    alpha = float(rng.uniform(0.04, 0.08)) * strength
    ghost = img[:, ::-1].astype(np.float32)
    out = np.minimum(out, 235.0 - alpha * (235.0 - ghost))
    # vignette: factor 1 at center → 1-v at extreme corners
    v = min(float(rng.uniform(0.04, 0.10)) * strength, 0.9)
    yy = (np.arange(h, dtype=np.float32) / max(h - 1, 1)) * 2.0 - 1.0
    xx = (np.arange(w, dtype=np.float32) / max(w - 1, 1)) * 2.0 - 1.0
    out *= 1.0 - v * ((yy[:, None] ** 2 + xx[None, :] ** 2) / 2.0)
    img2 = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    # salt-pepper
    n = int(rng.uniform(0.0001, 0.0003) * strength * h * w)
    if n:
        ys = rng.integers(0, h, n)
        xs = rng.integers(0, w, n)
        img2[ys, xs] = np.where(rng.random(n) < 0.5, 0, 255).astype(np.uint8)
    # sub-grid skew jitter (same row-shift mechanism as the draw shear);
    # uniform(-1,1)*0.3 consumes and maps the stream identically to the
    # historical uniform(-0.3, 0.3) draw at strength 1
    grid = skew_grid()
    step = float(grid[1] - grid[0])
    eps = float(rng.uniform(-1.0, 1.0)) * min(0.3 * strength, 0.45) * step
    shifts = np.round(eps * np.arange(h)).astype(np.int64)
    if shifts.any():
        out2 = np.full_like(img2, 235)
        for s in np.unique(shifts):
            rows = shifts == s
            if s >= 0:
                out2[rows, s:] = img2[rows, : w - s] if s else img2[rows]
            else:
                out2[rows, :s] = img2[rows, -s:]
        img2 = out2
    return img2


def generate_doc(
    seed: int, doc_index: int, bench: bool = False, degraded: bool | float = False
):
    """Generate one document: (doc row, [page_blob rows]).

    ``degraded`` doubles as the degradation strength: False = clean,
    True = shipped tier (strength 1.0), a float = that strength on the
    envelope axis (tools/envelope.py)."""
    rng = _rng_for(seed, doc_index)
    oversized = bool(rng.random() < 0.02)
    if oversized:
        n_pages = int(rng.integers(20, 41)) if not bench else int(rng.integers(12, 25))
    else:
        n_pages = int(rng.integers(1, 9)) if not bench else int(rng.integers(1, 6))

    doc_id = f"doc{doc_index:06d}"
    spans: list[tuple[str, str | None, str | None, int]] = []
    blobs = []
    offset = 0
    drng = _degrade_rng(seed, doc_index) if degraded else None
    for p in range(n_pages):
        if p == 0:
            role = "title_page"
        else:
            r = rng.random()
            role = "chapter" if r < 0.12 else "section" if r < 0.24 else "illustration" if r < 0.32 else "page"
        img, border, labels, shear, dpi, is_rgb = _draw_page(rng, role, oversized)
        if drng is not None:
            img = degrade_page(img, drng, float(degraded))
        media_ref = f"{doc_id}_p{p:03d}"
        if is_rgb:
            png = encode_rgb(np.stack((img,) * 3, axis=-1), dpi=dpi)
        else:
            png = encode_gray(img, dpi=dpi)
        blobs.append(
            {
                "media_ref": media_ref,
                "image": png,
                "width": int(img.shape[1]),
                "height": int(img.shape[0]),
                "dpi": dpi,
                "truth_border": border,
                "truth_labels": labels,
                "truth_skew": shear,
            }
        )
        spans.append(("page_image", None, media_ref, offset))
        offset += 1
        n_text = int(rng.integers(3, 11))
        for s in range(n_text):
            if s == 0 and role in ("chapter", "section"):
                kind = "heading"
            elif rng.random() < 0.08:
                kind = "marginalia"
            elif rng.random() < 0.05:
                kind = "table"
            else:
                kind = "text"
            n_words = int(rng.integers(4, 13))
            text = " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))
            spans.append((kind, text, None, offset))
            offset += 1

    # deterministic shuffle of stored span order; `offset` keeps truth order
    perm = rng.permutation(len(spans))
    shuffled = [
        {"kind": spans[i][0], "text": spans[i][1], "media_ref": spans[i][2], "offset": int(spans[i][3])}
        for i in perm
    ]
    return {"doc_id": doc_id, "spans": shuffled}, blobs


_DOC_PA_SCHEMA = pa.schema(
    [
        pa.field("doc_id", pa.string(), False),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("kind", pa.string()),
                        pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()),
                        pa.field("offset", pa.int32()),
                    ]
                )
            ),
            False,
        ),
    ]
)

_BLOB_PA_SCHEMA = pa.schema(
    [
        pa.field("media_ref", pa.string(), False),
        pa.field("image", pa.binary(), False),
        pa.field("width", pa.int32(), False),
        pa.field("height", pa.int32(), False),
        pa.field("dpi", pa.int32(), False),
        pa.field("truth_border", pa.list_(pa.int32()), False),
        pa.field("truth_labels", pa.list_(pa.string()), False),
        pa.field("truth_skew", pa.float64(), False),
    ]
)


def _gen_chunk(args):
    seed, lo, hi, bench, degraded = args
    docs, blobs = [], []
    for i in range(lo, hi):
        d, bs = generate_doc(seed, i, bench=bench, degraded=degraded)
        docs.append(d)
        blobs.extend(bs)
    return docs, blobs


def generate_corpus(
    out_dir: str, n_docs: int, seed: int = 42, bench: bool = False, workers: int = 0,
    degraded: bool | float = False,
) -> None:
    """Write documents.parquet + page_blobs.parquet under out_dir.

    Deterministic regardless of parallelism: each doc derives from
    PCG64(seed ^ f(doc_index)) and chunks are reassembled in index order.
    """
    import multiprocessing as mp
    import os

    os.makedirs(out_dir, exist_ok=True)
    if workers <= 0:
        workers = min(16, max(1, (os.cpu_count() or 4) // 2)) if n_docs >= 256 else 1
    step = max(32, n_docs // (workers * 4) or 1)
    chunks = [(seed, lo, min(lo + step, n_docs), bench, degraded) for lo in range(0, n_docs, step)]
    doc_batches, blob_batches = [], []

    def consume(result):
        docs, blobs = result
        doc_batches.append(pa.Table.from_pylist(docs, schema=_DOC_PA_SCHEMA))
        blob_batches.append(pa.Table.from_pylist(blobs, schema=_BLOB_PA_SCHEMA))

    if workers == 1:
        for ch in chunks:
            consume(_gen_chunk(ch))
    else:
        with mp.Pool(workers) as pool:
            for result in pool.imap(_gen_chunk, chunks):  # ordered
                consume(result)
    pq.write_table(pa.concat_tables(doc_batches), os.path.join(out_dir, "documents.parquet"))
    # small row groups (~2 MB of encoded pages) let Spark split the blob
    # scan finely, so no scan task reads a disproportionate byte load; the
    # image stage still balances its tasks with one salted repartition of
    # the bytes after the join (pipeline.salted_repartition)
    pq.write_table(
        pa.concat_tables(blob_batches),
        os.path.join(out_dir, "page_blobs.parquet"),
        row_group_size=64,
    )
