"""Multimodal binary-column operators.

Media travel as opaque BinaryType columns with typed metadata (the
multimodal-columns contract). Two tiers:

- metadata extraction that never leaves the JVM: PNG IHDR width/height/bit
  depth live at fixed byte offsets, so they are pure column expressions
  (hex/conv/substring) — at 100 TB this runs at scan speed with no Python;
- decode / feature-extraction in ``mapInArrow`` stages: the blob
  operators below share one batch loop (_map_blobs), and
  operators/pipeline.py process_pages is the real decode path via the
  in-repo PNG codec, since PIL/OpenCV are absent here.
"""

from __future__ import annotations

from itertools import islice

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.session_cache import shared


def png_width(image: Column) -> Column:
    """IHDR width: bytes 17-20 big-endian (after 8-byte signature + length + 'IHDR')."""
    return F.conv(F.hex(F.substring(image, 17, 4)), 16, 10).cast("int")


def png_height(image: Column) -> Column:
    return F.conv(F.hex(F.substring(image, 21, 4)), 16, 10).cast("int")


def png_bit_depth(image: Column) -> Column:
    return F.conv(F.hex(F.substring(image, 25, 1)), 16, 10).cast("int")


def png_is_valid(image: Column) -> Column:
    """Signature check — cheap row-level media validation before decode."""
    return F.hex(F.substring(image, 1, 8)) == F.lit("89504E470D0A1A0A")


def media_metadata(blobs: DataFrame) -> DataFrame:
    """page_blobs(media_ref, image, ...) → typed metadata, JVM-side only."""
    return blobs.select(
        "media_ref",
        png_is_valid(F.col("image")).alias("is_png"),
        png_width(F.col("image")).alias("png_width"),
        png_height(F.col("image")).alias("png_height"),
        png_bit_depth(F.col("image")).alias("png_bit_depth"),
        F.length("image").cast("bigint").alias("byte_size"),
        (png_width(F.col("image")).cast("bigint") * png_height(F.col("image"))).alias("pixels"),
    )


# ---------------------------------------------------------------------------
# Audio / video tiers of the multimodal contract
# ---------------------------------------------------------------------------

AUDIO_WINDOW = 256  # int16 samples per analysis window
AUDIO_MAX_WINDOWS = 8  # leading windows per media row (bounded output)

FRAME_BYTES = 4096  # raw-codec frame size (fixed-size concatenation)
FRAME_STRIDE = 4  # sample every stride-th frame
FRAME_MAX = 4  # sampled frames per media row (bounded output)


def _map_blobs(blobs: DataFrame, rows, ddl: str) -> DataFrame:
    """The batch loop of every blob operator below: one ``mapInArrow`` hop
    over (media_ref, image). ``rows(blob)`` gives the output rows of one
    blob and ``ddl`` their columns; the loop prepends media_ref to both.
    Columns are built at their declared Arrow types: Spark fails on an
    int64 vector behind an int column."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(f"media_ref string not null, {ddl}")
    aschema = to_arrow_schema(schema)

    def stage(batches):
        import pyarrow as pa

        for batch in batches:
            out = [
                (ref, *row)
                for ref, blob in zip(
                    batch.column("media_ref").to_pylist(), batch.column("image").to_pylist()
                )
                for row in rows(blob)
            ]
            if out:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(zip(*out), aschema)],
                    schema=aschema,
                )

    return blobs.select("media_ref", "image").mapInArrow(stage, schema)


def audio_energy_windows(blobs: DataFrame) -> DataFrame:
    """(media_ref, win_no, n_samples, energy): windowed sum-of-squares over
    the binary column interpreted as 16-bit little-endian PCM — the audio
    feature-extraction tier, as one ``mapInArrow`` hop (np.frombuffer +
    vectorized square/sum; bytes cross to Python once, no per-row
    Python). Energies are exact int64 (|x| < 2^15, AUDIO_WINDOW
    <= 2^16 → sum x^2 < 2^47), so a DuckDB hex-arithmetic oracle matches
    hash-exactly. This corpus carries no true audio; the page blobs stand
    in as deterministic PCM — the decode/window/reduce PLUMBING is the
    real deliverable, and a genuine PCM column drops in unchanged. A
    trailing partial window is analyzed as-is (n_samples < AUDIO_WINDOW)."""

    def rows(blob):
        import numpy as np

        x = np.frombuffer(blob[: len(blob) // 2 * 2], dtype="<i2").astype(np.int64)
        for w in range(min(AUDIO_MAX_WINDOWS, -(-len(x) // AUDIO_WINDOW))):
            seg = x[w * AUDIO_WINDOW : (w + 1) * AUDIO_WINDOW]
            yield w, len(seg), int((seg * seg).sum())

    return _map_blobs(
        blobs, rows, "win_no int not null, n_samples int not null, energy bigint not null"
    )


def decode_video_frames(blob: bytes):
    """Frame iterator for the video tier. Only the raw format is read: a
    fixed-size frame concatenation (the deterministic stand-in format; a
    trailing partial frame is dropped, matching real fixed-rate raw
    video). Container codecs would need an external decoder (av/ffmpeg)
    the package does not depend on; the sampling/feature plumbing is
    codec-agnostic."""
    for f in range(len(blob) // FRAME_BYTES):
        yield blob[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]


def frame_sample(blobs: DataFrame) -> DataFrame:
    """(media_ref, frame_no, n_bytes, byte_sum): every FRAME_STRIDE-th frame
    of the binary column read as raw fixed-size frames (the only format
    decode_video_frames reads) — the video frame-sampling tier as one
    ``mapInArrow`` hop. byte_sum is the exact uint8 sum
    (DuckDB-oracle-able); real per-frame features (resize, embed) slot
    into the same loop. Page blobs stand in for raw video exactly as in
    audio_energy_windows."""

    def rows(blob):
        import numpy as np

        # islice stops the frame iterator after the LAST sampled index
        # ((FRAME_MAX-1)*FRAME_STRIDE + 1 frames advanced, the skipped ones
        # still sliced) instead of materializing the whole blob's frame
        # list before sampling
        sampled = islice(
            decode_video_frames(blob), 0, (FRAME_MAX - 1) * FRAME_STRIDE + 1, FRAME_STRIDE
        )
        for i, f in enumerate(sampled):
            byte_sum = int(np.frombuffer(f, dtype=np.uint8).astype(np.int64).sum())
            yield i * FRAME_STRIDE, len(f), byte_sum

    return _map_blobs(
        blobs, rows, "frame_no int not null, n_bytes int not null, byte_sum bigint not null"
    )


def resize_image_bytes(png_bytes: bytes, zoom: float) -> tuple[bytes, int, int]:
    """(out_png, height, width): ONE image through the resize composition —
    decode (gray AND RGB; alpha rejected explicitly) → per-channel
    nearest-neighbour resample (kernels.transform.resize_nearest, the
    pipeline's exactly-invertible mapping) → canonical re-encode in the SOURCE
    mode with the pHYs resolution scaled by ``zoom``. This is THE single
    definition: the distributed operator (resize_images) and the oracle
    expectation (oracle._expected_resize_row) both call it, so the two
    can never drift (round-4 review)."""
    import numpy as np

    from ..kernels.transform import resize_nearest
    from ..png import decode_image, encode_gray, encode_rgb

    if not zoom > 0:
        raise ValueError(f"zoom must be > 0, got {zoom!r}")

    img, mode, dpi = decode_image(png_bytes)
    out_dpi = None if dpi is None else max(1, int(round(dpi * zoom)))
    if mode == "L":
        out = resize_nearest(img, zoom)
        png = encode_gray(out, dpi=out_dpi)
    elif mode == "RGB":
        out = np.stack([resize_nearest(img[:, :, c], zoom) for c in range(3)], axis=-1)
        png = encode_rgb(out, dpi=out_dpi)
    else:
        raise ValueError(
            f"mode {mode!r} not supported by the resize tier (alpha would "
            "need compositing policy; decode is fine — png.decode_image "
            "handles LA/RGBA)"
        )
    return png, int(out.shape[0]), int(out.shape[1])


def resize_images(blobs: DataFrame, zoom: float) -> DataFrame:
    """(media_ref, width, height, image): the resize tier of the
    multimodal contract as one ``mapInArrow`` hop over
    resize_image_bytes (see its docstring for the full composition).
    Deterministic end-to-end: the in-repo encoder is canonical, so output
    bytes are reproducible across runs and parallelism levels."""
    if not zoom > 0:
        raise ValueError(f"zoom must be > 0, got {zoom!r}")

    def rows(blob):
        png, h, w = resize_image_bytes(blob, zoom)
        return [(w, h, png)]

    return _map_blobs(
        blobs, rows, "width int not null, height int not null, image binary not null"
    )


# (media_ref, dhash) shared per (session, corpus_dir) through
# sources.session_cache: three driver queries (hashes, pairs, doc pairs)
# consume it and the pair generator SELF-JOINS it — un-truncated lineage
# would re-decode every page PNG per consumer per side (the IVF/LSH/PQ
# index rationale, CLAUDE.md)
def media_dhash_cached(blobs: DataFrame, corpus_dir: str) -> DataFrame:
    return shared("dhash", blobs.sparkSession, (corpus_dir,), lambda: media_dhash(blobs))


# ---------------------------------------------------------------------------
# Perceptual hash (dHash) — pixel-side near-duplicate evidence
# ---------------------------------------------------------------------------

DHASH_ROWS = 8
DHASH_COLS = 8  # gradient bits per row → 8x8 = 64-bit signature


def dhash_bytes(png_bytes: bytes) -> int:
    """64-bit difference hash of one page image — THE single definition
    shared by the distributed operator (media_dhash) and the oracle
    expectation (oracle.materialize_expected), same convention as
    resize_image_bytes. Decode to luminance (the pipeline's own gray
    path), block-mean to an 8x9 grid with integer bin edges (exact
    floor-mean ints — no float resampling, so the hash is bit-stable on
    every platform), then bit j = row*8+col set iff grid[r][c+1] >
    grid[r][c]. Bit 63 is the int64 sign bit (two's complement, the
    SimHash convention) so the value round-trips parquet/Spark/DuckDB
    unchanged. Robust to brightness shifts and re-encodes; a few changed
    pixels flip at most a few bits — hamming distance is the near-dup
    evidence, generated at scale by dedup.hamming_pairs banding."""
    import numpy as np

    from ..png import decode_gray

    img, _ = decode_gray(bytes(png_bytes))
    h, w = img.shape
    if h < DHASH_ROWS or w < DHASH_COLS + 1:
        raise ValueError(f"image {w}x{h} too small for {DHASH_COLS + 1}x{DHASH_ROWS} dhash grid")
    ys = (np.arange(DHASH_ROWS + 1) * h) // DHASH_ROWS
    xs = (np.arange(DHASH_COLS + 2) * w) // (DHASH_COLS + 1)
    # dtype=int64 accumulates exactly WITHOUT materializing an 8x-wider
    # full-image copy first (the shared-bus host punishes full-image
    # upcasts; CLAUDE.md)
    s = np.add.reduceat(
        np.add.reduceat(img, ys[:-1], axis=0, dtype=np.int64),
        xs[:-1], axis=1, dtype=np.int64,
    )
    areas = np.diff(ys)[:, None] * np.diff(xs)[None, :]
    g = s // areas
    bits = (g[:, 1:] > g[:, :-1]).ravel()
    v = 0
    for j, b in enumerate(bits):
        if b:
            v += -(1 << 63) if j == 63 else (1 << j)
    return int(v)


def media_dhash(blobs: DataFrame) -> DataFrame:
    """(media_ref, dhash): perceptual hashes via one ``mapInArrow`` hop —
    the image twin of the text fingerprints: 8 bytes per page regardless
    of image size, so a 10^12-page corpus's visual near-dup pass runs over
    a narrow long column."""
    return _map_blobs(blobs, lambda blob: [(dhash_bytes(blob),)], "dhash bigint not null")


# ---------------------------------------------------------------------------
# Audio perceptual fingerprint: the dHash analog for the audio tier — a
# 64-bit energy-envelope gradient signature feeding the SAME pigeonhole
# hamming banding as text SimHash and image dHash
# ---------------------------------------------------------------------------

AFP_WINDOW = 64  # int16 samples per envelope window
AFP_NWIN = 65  # 65 window energies -> 64 gradient bits


def audio_fp_bytes(blob: bytes):
    """(n_windows, afp) for one PCM blob: bit j of the signed-int64
    fingerprint is set iff energy[j+1] > energy[j] over the leading
    AFP_NWIN windows — the perceptual property is the SHAPE of the energy
    envelope (robust to uniform gain changes in the >-comparison sense),
    exactly the dhash_bytes gradient idea transposed to PCM. Pure
    function shared by the Spark stage and the pytest twin. Returns None
    for blobs under one sample (no envelope exists)."""
    import numpy as np

    x = np.frombuffer(blob[: len(blob) // 2 * 2], dtype="<i2").astype(np.int64)
    if len(x) == 0:
        return None
    n_win = min(AFP_NWIN, -(-len(x) // AFP_WINDOW))
    e = [int((x[w * AFP_WINDOW : (w + 1) * AFP_WINDOW] ** 2).sum()) for w in range(n_win)]
    fp = 0
    for j in range(min(n_win - 1, 64)):
        if e[j + 1] > e[j]:
            fp |= 1 << j
    if fp >= 1 << 63:
        fp -= 1 << 64
    return n_win, fp


def audio_fingerprint(blobs: DataFrame) -> DataFrame:
    """(media_ref, n_windows, afp): one ``mapInArrow`` hop over the
    binary column (the audio_energy_windows decode, folded straight into
    the 64 gradient bits — energies never leave the Python worker). Exact
    integer end-to-end, so the DuckDB hex-arithmetic oracle re-derives the
    identical signed fingerprint; pairs ride dedup.hamming_pairs, the one
    banding shared by all three modalities. A blob under one sample has
    no envelope and yields no row."""

    def rows(blob):
        r = audio_fp_bytes(blob)
        return [] if r is None else [r]

    return _map_blobs(blobs, rows, "n_windows int not null, afp bigint not null")
