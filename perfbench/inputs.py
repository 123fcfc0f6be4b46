"""Seeded, cached inputs: page corpora and the query tables.

Everything here runs before any timed region. A corpus is cached under
the benchmark's cache directory, keyed by everything that changes its
bytes: seed, ``SYNTH_VERSION``, ``DEGRADE_VERSION``, strength and the
composition. A directory is used only once its ``.complete`` marker exists.

The query tables are a byte-for-byte copy of TESTDATA.md's sf0.01 test
tables (seed 42), the scale the repo's oracle checks run at; they ship in
``perfbench/data`` so a run reads nothing outside its checkout.
"""

from __future__ import annotations

import multiprocessing as mp
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from ocrd_anybaseocr_spark import synth

QUERY_TABLES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# the page corpus content. Some streams hold single pages on which
# kernels.crop.detect_border takes seconds (seed 2: doc000099_p000 at 3.4 s);
# which task such a page lands in then swings a whole run's wall time, so
# this stream is one whose slowest page costs about 10 typical ones
PAGES_DATA_SEED = 3


def _publish(tmp: str, final: str) -> None:
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)


def _gen_docs(args):
    seed, indices, strength = args
    return [synth.generate_doc(seed, i, bench=True, degraded=strength) for i in indices]


def _long_tail_pages(seed: int, i: int) -> int:
    """Page count of document ``i`` if it is a long-tail one, else 0.
    generate_doc's first draw picks the long tail (2% of documents), its
    second the page count (12-24 with bench=True)."""
    rng = synth._rng_for(seed, i)
    return int(rng.integers(12, 25)) if rng.random() < 0.02 else 0


def page_corpus(cache: str, seed: int, n_regular: int, n_oversized: int,
                oversized_pages: int, strength: float, workers: int) -> str:
    """A corpus of ``n_regular`` regular documents and ``n_oversized``
    long-tail documents of ``oversized_pages`` large pages each: the first
    ones of each kind in the seeded ``synth.generate_doc`` stream, at
    degradation ``strength``.

    Long-tail pages cost 3-7 times a regular page. A fixed mix keeps the
    work per page steadier from seed to seed; the generator's own draws
    put anywhere from 2 to 8 long-tail documents of 12 to 24 pages in 150."""
    tag = (f"pages_s{seed}_v{synth.SYNTH_VERSION}_d{synth.DEGRADE_VERSION}"
           f"_x{strength:g}_{n_regular}r{n_oversized}x{oversized_pages}o")
    final = os.path.join(cache, "corpora", tag)
    if os.path.exists(os.path.join(final, ".complete")):
        return final
    regular, oversized, i = [], [], 0
    while len(regular) < n_regular or len(oversized) < n_oversized:
        tail = _long_tail_pages(seed, i)
        if not tail and len(regular) < n_regular:
            regular.append(i)
        elif tail == oversized_pages and len(oversized) < n_oversized:
            oversized.append(i)
        i += 1
    indices = sorted(regular + oversized)
    chunks = [(seed, indices[k:k + 4], strength) for k in range(0, len(indices), 4)]
    with mp.get_context("spawn").Pool(workers) as pool:
        chosen = [d for docs in pool.map(_gen_docs, chunks) for d in docs]
    big = {i for i, (_, blobs) in zip(indices, chosen) if len(blobs) == oversized_pages}
    if big != set(oversized):
        raise RuntimeError("synth's long-tail draws changed; update _long_tail_pages")
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # the generator's own parquet layout, so load_corpus reads it unchanged
    pq.write_table(pa.Table.from_pylist([d for d, _ in chosen], schema=synth._DOC_PA_SCHEMA),
                   os.path.join(tmp, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist([b for _, bs in chosen for b in bs],
                                        schema=synth._BLOB_PA_SCHEMA),
                   os.path.join(tmp, "page_blobs.parquet"), row_group_size=64)
    _publish(tmp, final)
    return final


def relabeled(cache: str, base: str, seed: int) -> str:
    """``base`` with its documents in a seeded order under seeded names.

    Names feed every hash the pipeline partitions by (the salted page
    shuffle on media_ref, the output buckets on doc_id), so the seed moves
    each page, the slow ones included, to different tasks and neighbours
    while the work itself stays the same."""
    final = os.path.join(cache, "corpora", f"{os.path.basename(base)}_r{seed}")
    if os.path.exists(os.path.join(final, ".complete")):
        return final
    docs = pq.read_table(os.path.join(base, "documents.parquet"))
    blobs = pq.read_table(os.path.join(base, "page_blobs.parquet"))
    order = list(range(docs.num_rows))
    random.Random(seed).shuffle(order)
    new_id = {docs["doc_id"][i].as_py(): f"doc{k:06d}" for k, i in enumerate(order)}

    def ref(r):
        return None if r is None else new_id[r.rsplit("_p", 1)[0]] + "_p" + r.rsplit("_p", 1)[1]

    rows = docs.take(order).to_pylist()
    for d in rows:
        d["doc_id"] = new_id[d["doc_id"]]
        for sp in d["spans"]:
            sp["media_ref"] = ref(sp["media_ref"])
    by_doc: dict[str, list] = {}
    for b in blobs.to_pylist():
        b["media_ref"] = ref(b["media_ref"])
        by_doc.setdefault(b["media_ref"].rsplit("_p", 1)[0], []).append(b)
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(pa.Table.from_pylist(rows, schema=docs.schema),
                   os.path.join(tmp, "documents.parquet"))
    pq.write_table(pa.Table.from_pylist([b for d in rows for b in by_doc[d["doc_id"]]],
                                        schema=blobs.schema),
                   os.path.join(tmp, "page_blobs.parquet"), row_group_size=64)
    _publish(tmp, final)
    return final


def read_corpus(corpus: str) -> tuple[list[dict], dict[str, dict]]:
    """(documents, blob rows by media_ref) of a corpus directory."""
    docs = pq.read_table(os.path.join(corpus, "documents.parquet")).to_pylist()
    blobs = pq.read_table(os.path.join(corpus, "page_blobs.parquet")).to_pylist()
    return docs, {b["media_ref"]: b for b in blobs}
