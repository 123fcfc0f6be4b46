"""The measurement scripts around the engine: the sf testdata scale-up
(tools/scale_testdata.py) and the per-query harness (bench_extra.py)."""

from __future__ import annotations

import importlib.util
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scale_testdata():
    path = os.path.join(ROOT, "tools", "scale_testdata.py")
    spec = importlib.util.spec_from_file_location("scale_testdata", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _normalized_words(text: str) -> set[str]:
    # dedup_exact_normalized's normalization: lowercase, strip [^a-z0-9 ]
    return set(re.sub(r"[^a-z0-9 ]", "", text.lower()).split())


def test_scaled_copies_disjoint_under_normalization(tmp_path):
    """Copy 1 of a scale-up shares no normalized word with copy 0. Words
    that end in a digit, or carry punctuation the normalization deletes,
    are where a suffix that does not survive it collides."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    out.mkdir()
    texts = ["Alpha beta gamma.", "beta1 Foo~ bar, baz", "delta-2 epsilon 12"]
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()), "text": texts}),
        src / "documents.parquet",
    )
    _scale_testdata().scale_table("documents", str(src), str(out), 2)
    scaled = pq.read_table(out / "documents.parquet").to_pylist()
    assert len(scaled) == 6
    copy0 = set().union(*(_normalized_words(r["text"]) for r in scaled[:3]))
    copy1 = set().union(*(_normalized_words(r["text"]) for r in scaled[3:]))
    assert copy1 and not copy1 & copy0, copy1 & copy0
    assert [r["doc_id"] for r in scaled[3:]] == [10**7 + 1, 10**7 + 2, 10**7 + 3]


def test_bench_extra_sf_of_unparsable_suffix_is_none():
    from bench_extra import sf_of

    assert sf_of("/data/sf0.1") == 0.1
    assert sf_of("/data/sf1/") == 1.0
    assert sf_of("/data/sf0.1_10x") is None
    assert sf_of("/data/testdata") is None
