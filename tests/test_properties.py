"""Property-based tests (hypothesis) for the hard-part kernels
(SURVEY.md §7): merge confluence, CC correctness vs brute force, codec
round-trip, fold totality."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from ocrd_anybaseocr_spark.kernels.components import component_stats
from ocrd_anybaseocr_spark.kernels.crop import merge_x_overlaps
from ocrd_anybaseocr_spark.kernels.fold import fold_document
from ocrd_anybaseocr_spark.png import decode_gray, encode_gray

boxes_strategy = st.lists(
    st.tuples(
        st.integers(0, 80), st.integers(0, 80), st.integers(0, 40), st.integers(0, 40)
    ).map(lambda t: [t[0], t[1], t[0] + t[2] + 1, t[1] + t[3] + 1]),
    min_size=1,
    max_size=25,
)


def _union_find_merge(boxes: np.ndarray) -> set[tuple]:
    """Independent oracle for J2: connected components of the x-interval
    overlap graph, merged bboxes (reference semantics:
    cli/ocrd_anybaseocr_cropping.py:755-773)."""
    n = len(boxes)
    parent = list(range(n))

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if boxes[i][0] <= boxes[j][2] and boxes[j][0] <= boxes[i][2]:
                parent[find(i)] = find(j)
    groups = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(boxes[i])
    out = set()
    for g in groups.values():
        g = np.array(g)
        out.add((int(g[:, 0].min()), int(g[:, 1].min()), int(g[:, 2].max()), int(g[:, 3].max())))
    return out


@given(boxes_strategy)
@settings(max_examples=200, deadline=None)
def test_merge_x_overlaps_confluent_with_union_find(boxes):
    got = merge_x_overlaps(np.array(boxes))
    want = _union_find_merge(np.array(boxes))
    assert {tuple(int(v) for v in b) for b in got} == want


@given(st.integers(0, 2**32 - 1))
@settings(max_examples=50, deadline=None)
def test_cc_matches_bruteforce_flood(seed):
    rng = np.random.default_rng(seed)
    mask = rng.random((20, 24)) < 0.35
    stats = component_stats(mask)
    # brute-force 4-connected flood fill
    seen = np.zeros_like(mask, dtype=bool)
    comps = []
    for y in range(mask.shape[0]):
        for x in range(mask.shape[1]):
            if mask[y, x] and not seen[y, x]:
                stack, px = [(y, x)], []
                seen[y, x] = True
                while stack:
                    cy, cx = stack.pop()
                    px.append((cy, cx))
                    for ny, nx in ((cy-1, cx), (cy+1, cx), (cy, cx-1), (cy, cx+1)):
                        if 0 <= ny < mask.shape[0] and 0 <= nx < mask.shape[1] \
                                and mask[ny, nx] and not seen[ny, nx]:
                            seen[ny, nx] = True
                            stack.append((ny, nx))
                ys = [p[0] for p in px]
                xs = [p[1] for p in px]
                comps.append((min(xs), min(ys), max(xs), max(ys), len(px)))
    got = {tuple(int(v) for v in r[:5]) for r in stats}
    assert got == set(comps)


@given(st.integers(0, 2**32 - 1), st.integers(1, 64), st.integers(1, 64))
@settings(max_examples=50, deadline=None)
def test_png_roundtrip_random(seed, h, w):
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    out, _ = decode_gray(encode_gray(img))
    assert np.array_equal(out, img)


label_strategy = st.lists(
    st.lists(
        st.sampled_from(
            ["page", "chapter", "section", "title_page", "binding", "cover",
             "endsheet", "paste_down", "illustration", "index", "contents"]
        ),
        min_size=1,
        max_size=2,
    ),
    min_size=1,
    max_size=12,
)


@given(label_strategy)
@settings(max_examples=200, deadline=None)
def test_fold_total_and_links_every_label(labels_per_page):
    """The fold must never raise (guarded log_divs[first]) and must emit one
    link per (page, label) in order (reference emits one smLink per label,
    cli/ocrd_anybaseocr_layout_analysis.py:215-218)."""
    pages = [(f"p{i}", labels) for i, labels in enumerate(labels_per_page)]
    divs, links = fold_document(pages)
    assert len(links) == sum(len(l) for l in labels_per_page)
    div_ids = {d[0] for d in divs}
    assert all(l[0] in div_ids for l in links)
    # parent ids reference existing divs or root
    assert all(p == -1 or p in div_ids for _, _, p in divs)
    # ids are dense and ordered
    assert [d[0] for d in divs] == list(range(len(divs)))


def test_cc_spiral_long_chain():
    """Deep-chain stress for the pointer-jumping CC: a spiral is one
    component whose run graph is a single long path."""
    n = 61
    m = np.zeros((n, n), dtype=bool)
    x1 = y1 = 0
    x2 = y2 = n - 1
    while x1 <= x2 and y1 <= y2:
        m[y1, x1:x2 + 1] = True
        m[y2, x1:x2 + 1] = True
        m[y1:y2 + 1, x1] = True
        m[y1:y2 + 1, x2] = True
        x1 += 4; y1 += 4; x2 -= 4; y2 -= 4
        if y1 <= y2:
            m[y1 - 4:y1 + 1, x1] = True  # connect rings into one spiral arm
    stats = component_stats(m)
    assert len(stats) == 1
    assert stats[0][4] == int(m.sum())


@given(st.integers(0, 2**32 - 1), st.integers(1, 300), st.integers(1, 50),
       st.sampled_from([1, 2, 7, 128]))
@settings(max_examples=60, deadline=None)
def test_runs_from_image_equals_mask_path(seed, h, w, strip):
    """Strip-fused threshold+runs must be identical to the mask-based path
    for every strip size, including strips that split components."""
    from ocrd_anybaseocr_spark.kernels.components import _find_runs, runs_from_image

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    t = 128
    want = _find_runs(img <= t)
    got = runs_from_image(img, t, strip=strip)
    for a, b in zip(got, want):
        assert np.array_equal(a, b)


@given(st.integers(0, 2**32 - 1), st.integers(2, 120), st.integers(2, 90),
       st.sampled_from([1.25, 1.5, 2.0, 2.5, 3.0]),
       st.sampled_from([-0.02, -0.01, 0.0, 0.01, 0.02]))
@settings(max_examples=40, deadline=None)
def test_run_space_transforms_equal_pixel_path(seed, h, w, zoom, shear):
    """zoom_runs ∘ unshear_runs must equal resize_nearest ∘ unshear for
    ANY image, zoom and shear — the production run-space path never
    materializes the working raster, so this equality is the correctness
    backbone of the DPI pipeline."""
    from ocrd_anybaseocr_spark.kernels.components import (
        runs_from_image,
        unshear_runs,
        zoom_runs,
    )
    from ocrd_anybaseocr_spark.kernels.deskew import unshear
    from ocrd_anybaseocr_spark.kernels.transform import resize_nearest

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    t = 128
    wimg = resize_nearest(img, zoom)
    want = runs_from_image(unshear(wimg, shear), t)
    got = unshear_runs(zoom_runs(runs_from_image(img, t), zoom, h), shear, wimg.shape[1])

    def canon(r):
        o = np.lexsort((r[1], r[0]))
        return tuple(a[o] for a in r)

    for a, b in zip(canon(got), canon(want)):
        assert np.array_equal(a, b)


def test_unshear_shift_reaching_width_regression():
    """r5 judge's Hypothesis falsifier (h=109, w=2, zoom=3.0, shear=0.02):
    the working raster is 327x6 and round(shear*y) reaches the width, so
    the positive-branch stop w-s went negative and wrapped. Rows whose
    shift >= width must come back as pure background fill, matching the
    run-space twin (unshear_runs intersects with [0, w))."""
    from ocrd_anybaseocr_spark.kernels.components import (
        runs_from_image,
        unshear_runs,
        zoom_runs,
    )
    from ocrd_anybaseocr_spark.kernels.deskew import unshear
    from ocrd_anybaseocr_spark.kernels.transform import resize_nearest

    h, w, zoom, shear = 109, 2, 3.0, 0.02
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    wimg = resize_nearest(img, zoom)
    out = unshear(wimg, shear)  # must not raise
    assert out.shape == wimg.shape
    # rows with shift >= width are pure fill
    shifts = np.round(shear * np.arange(wimg.shape[0])).astype(np.int64)
    gone = np.abs(shifts) >= wimg.shape[1]
    assert gone.any()
    assert (out[gone] == 235).all()
    # and the run-space path still agrees exactly
    t = 128
    want = runs_from_image(out, t)
    got = unshear_runs(zoom_runs(runs_from_image(img, t), zoom, h), shear, wimg.shape[1])

    def canon(r):
        o = np.lexsort((r[1], r[0]))
        return tuple(a[o] for a in r)

    for a, b in zip(canon(got), canon(want)):
        assert np.array_equal(a, b)


def test_value_quantiles_null_semantics_match_duckdb(spark, tmp_path):
    """Rank-based exact quantiles on data WITH NULL values: quantile
    positions must use the non-null count (percentile/quantile_cont
    ignore NULLs) while the reported n stays COUNT(*) — round-3 review
    finding, latent in driver testdata which has no NULLs."""
    import datetime as dt
    import os
    import random

    import duckdb
    from pyspark.sql import types as T

    from ocrd_anybaseocr_spark.queries import QUERIES

    random.seed(7)
    rows = []
    for i in range(500):
        v = None if i % 7 == 0 else random.random() * 100
        rows.append((i, dt.datetime(2026, 1, 1), i % 5, "a" if i % 2 else "b", v, ""))
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    d = str(tmp_path)
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        os.path.join(d, "events.parquet")
    )
    got = {
        r.event_type: (r.p50, r.p95, r.p99, r.n)
        for r in QUERIES["value_quantiles"](spark, d).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{os.path.join(d, 'events.parquet')}/*.parquet'"
    )
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            "SELECT event_type, round(quantile_cont(value,0.5),6),"
            " round(quantile_cont(value,0.95),6), round(quantile_cont(value,0.99),6),"
            " COUNT(*) FROM events GROUP BY event_type"
        ).fetchall()
    }
    assert got == want


def test_close_runs_matches_bruteforce_mask_closing():
    """Property (hypothesis): close_runs over arbitrary run layouts equals
    extracting runs from a brute-force 1-D binary closing of the mask
    (bridge white gaps <= gap between ink pixels in the same row)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from ocrd_anybaseocr_spark.kernels.components import _find_runs, close_runs

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 5),    # row
                st.integers(0, 30),   # start
                st.integers(1, 6),    # width
            ),
            min_size=0, max_size=25,
        ),
        st.integers(0, 3),           # gap
    )
    def check(spans, gap):
        mask = np.zeros((6, 48), dtype=bool)
        for r, s0, w in spans:
            mask[r, s0 : s0 + w] = True
        runs = _find_runs(mask)
        got = close_runs(runs, gap)
        # brute force: bridge white gaps <= gap between ink in the same row
        closed = mask.copy()
        for r in range(mask.shape[0]):
            ink = np.flatnonzero(mask[r])
            for a, b in zip(ink[:-1], ink[1:]):
                if 1 < b - a <= gap + 1:
                    closed[r, a:b] = True
        want = _find_runs(closed)
        assert [x.tolist() for x in got] == [x.tolist() for x in want]

    check()


_bpe_word = st.text(alphabet="abcde<>/", min_size=0, max_size=12)


@given(
    st.lists(st.tuples(_bpe_word, st.integers(1, 50)), min_size=1, max_size=12),
    _bpe_word,
)
@settings(max_examples=200, deadline=None)
def test_bpe_encode_round_trip_any_vocab(counts, probe):
    """BPE losslessness: for ANY trained merge table, encoding any word —
    including words never seen in training and words containing the EOW
    marker characters themselves — concatenates back to exactly
    word + EOW. (The marker is appended as a SYMBOL, not by string
    concat, so 'a</w>b' as input text cannot collide with a merged
    suffix.) Also: training never emits a merge whose pair count was
    below 2, and re-encoding the training words is deterministic."""
    from ocrd_anybaseocr_spark.kernels.bpe import (
        EOW,
        bpe_encode_word,
        bpe_train,
    )

    merges = bpe_train(counts, n_merges=16)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in [probe] + [w for w, _ in counts]:
        toks = bpe_encode_word(w, ranks)
        assert "".join(toks) == w + EOW
        assert toks == bpe_encode_word(w, ranks)


@given(
    st.lists(st.sampled_from(["aa", "ab", "bb", "ba", "abc"]), min_size=1, max_size=60),
    st.integers(0, 3),
)
@settings(max_examples=60, deadline=None)
def test_cdc_twin_partition_property(words, drop):
    """CDC chunking twin (the same algebra the Spark expressions and the
    DuckDB CTE implement, pinned against them in test_lsh): for any word
    list, chunks PARTITION the text — every word in exactly one chunk,
    boundaries strictly increasing, last boundary at the final word —
    and deleting a PREFIX preserves every chunk after the first surviving
    content-defined boundary (shift survival, the property fixed-size
    blocking lacks)."""
    import hashlib

    from ocrd_anybaseocr_spark.operators.dedup import CDC_D, CDC_W

    def bounds(ws):
        ends = []
        for s in range(0, len(ws) - CDC_W):
            h = int(hashlib.md5(" ".join(ws[s:s + CDC_W]).encode()).hexdigest()[:8], 16)
            if h % CDC_D == 0:
                ends.append(s + CDC_W - 1)
        ends.append(len(ws) - 1)
        return ends

    def chunks(ws):
        out, stt = [], 0
        for e in bounds(ws):
            out.append(tuple(ws[stt:e + 1]))
            stt = e + 1
        return out

    def _chunks_pos(ws):
        out, stt = [], 0
        for e in bounds(ws):
            out.append((stt, tuple(ws[stt:e + 1])))
            stt = e + 1
        return out

    ch = chunks(words)
    assert [w for c in ch for w in c] == words  # exact partition
    bs = bounds(words)
    assert bs == sorted(set(bs)) and bs[-1] == len(words) - 1
    if drop and drop < len(words):
        # EXACT shift-survival: deleting a `drop`-word prefix keeps every
        # content-defined boundary whose window lies fully past the cut
        # (same window content, shifted index) and creates no new ones —
        # so all original chunks starting after the first surviving
        # boundary reappear verbatim in the shifted chunking.
        surv = [
            e for e in bounds(words)
            if e - CDC_W + 1 >= drop and e < len(words) - 1
        ]
        if surv:
            b0 = surv[0]
            orig_tail = [c for st_, c in _chunks_pos(words) if st_ >= b0 + 1]
            shifted_tail = [
                c for st_, c in _chunks_pos(words[drop:]) if st_ >= b0 + 1 - drop
            ]
            assert shifted_tail == orig_tail


@given(st.binary(min_size=0, max_size=400), st.integers(0, 3))
@settings(max_examples=150, deadline=None)
def test_quarantine_wrapper_never_raises(blob, variant):
    """The per-row quarantine wrapper must turn ANY kernel failure into an
    error row — arbitrary bytes, truncated PNG headers, or a valid
    signature with garbage chunks can never raise out of the page stage's
    batch function (one bad blob killing the Arrow batch task is the r5
    failure class)."""
    import pyarrow as pa

    from ocrd_anybaseocr_spark.config import DEFAULT_PARAMS
    from ocrd_anybaseocr_spark.operators.pipeline import _stage

    if variant == 1:
        blob = b"\x89PNG\r\n\x1a\n" + blob  # valid signature, garbage body
    elif variant == 2:
        blob = blob[:7]  # shorter than any signature
    batch = pa.RecordBatch.from_pydict(
        {"doc_id": ["d0"], "media_ref": ["d0_p000"], "page_no": [0], "image": [blob]}
    )
    out = [r for b in _stage([batch], DEFAULT_PARAMS) for r in b.to_pylist()]
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == "d0" and r["media_ref"] == "d0_p000"
    # random bytes are (essentially) never a valid PNG — every variant
    # here must quarantine, with NULL kernel fields
    assert r["error"] is not None
    assert r["border"] is None
