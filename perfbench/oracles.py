"""Output checks against the repo's own oracles.

Pages: one ``mp.Pool`` pass of ``oracle.process_page`` over every page
gives both the expected outputs and ``kernel_floor`` (pages per second
with no Spark at all). Queries: each parquet result is compared
with the DuckDB answer of its ``ORACLE`` SQL through
``tools/check_queries.canon``; answers are cached per (table directory,
hash of the SQL).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import math
import multiprocessing as mp
import os
import time

import pandas as pd
import pyarrow.parquet as pq


@functools.cache
def _check_queries():
    """tools/check_queries.py, loaded by path (``tools`` is not a package)."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_queries", os.path.join(root, "tools", "check_queries.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _warm(_):
    import ocrd_anybaseocr_spark.oracle  # noqa: F401 — imports paid before timing

    return os.getpid()


def _page_oracle(task):
    from ocrd_anybaseocr_spark.oracle import process_page

    media_ref, png = task
    return media_ref, process_page(png)


class OraclePool:
    """N spawned worker processes, warmed before anything is timed."""

    def __init__(self, n: int):
        self.n = n
        self.pool = mp.get_context("spawn").Pool(n)
        self.pool.map(_warm, range(4 * n), chunksize=1)

    def close(self) -> None:
        self.pool.close()
        self.pool.join()

    def __enter__(self):
        return self

    def __exit__(self, exc_type, *_):
        if exc_type is not None:
            # queued pages are not worth finishing on the way out
            self.pool.terminate()
        self.close()

    def pages(self, blobs: dict[str, dict], min_seconds: float = 0.0) -> tuple[dict, float]:
        """``process_page`` over every blob, largest first so no big page
        starts last. Passes repeat until ``min_seconds`` have elapsed.
        Returns ({media_ref: result} of the first pass, pages per second
        over all passes): the kernel floor, with no Spark at all."""
        tasks = sorted(((ref, b["image"]) for ref, b in blobs.items()),
                       key=lambda t: -len(t[1]))
        results: dict = {}
        done = 0
        t0 = time.perf_counter()
        while True:
            out = dict(self.pool.imap_unordered(_page_oracle, tasks, chunksize=1))
            results = results or out
            done += len(tasks)
            elapsed = time.perf_counter() - t0
            if elapsed >= min_seconds:
                return results, done / elapsed


def documents(docs: list[dict], page_results: dict) -> dict:
    """{doc_id: (page results, structure)}: ``oracle.process_document``'s
    composition (reading order, page numbers, structure fold) over page
    results already computed by ``OraclePool.pages``."""
    from ocrd_anybaseocr_spark.kernels.fold import fold_document
    from ocrd_anybaseocr_spark.oracle import extract_document

    out = {}
    for d in docs:
        refs = [s["media_ref"] for s in extract_document(d["doc_id"], d["spans"])["spans"]
                if s["kind"] == "page_image"]
        pages = [{**page_results[ref], "doc_id": d["doc_id"], "media_ref": ref, "page_no": i}
                 for i, ref in enumerate(refs)]
        divs, links = fold_document([(p["media_ref"], p["labels"]) for p in pages])
        out[d["doc_id"]] = (pages, {
            "doc_id": d["doc_id"],
            "divs": [{"log_id": a, "label": b, "parent_id": c} for a, b, c in divs],
            "links": [{"log_id": a, "media_ref": b} for a, b in links],
        })
    return out


_PAGE_FIELDS = ("page_no", "border", "perfect", "skew", "features", "scores", "labels",
                "n_text_regions", "n_image_regions", "ink_ratio")


def _plain(v):
    return v.tolist() if hasattr(v, "tolist") else v


def check_pages(out_dir: str, expected: dict) -> tuple[int, int, list[str]]:
    """Compare the committed page_results and doc_structure under
    ``out_dir`` with the oracle results. Returns (attempted, failed,
    first few problems). A page that is quarantined, missing, duplicated
    or different counts as failed, as does a document whose structure
    differs."""
    want_pages = {(p["doc_id"], p["media_ref"]): p
                  for pages, _ in expected.values() for p in pages}
    pr = pq.read_table(os.path.join(out_dir, "page_results")).to_pylist()
    st = pq.read_table(os.path.join(out_dir, "doc_structure")).to_pylist()
    problems: list[str] = []
    seen: set = set()
    for row in pr:
        key = (row["doc_id"], row["media_ref"])
        want = want_pages.get(key)
        if want is None or key in seen or row.get("error") is not None:
            problems.append(f"page {key}: unexpected, duplicate or quarantined")
        elif any(_plain(row[f]) != want[f] for f in _PAGE_FIELDS):
            bad = [f for f in _PAGE_FIELDS if _plain(row[f]) != want[f]]
            problems.append(f"page {key}: differs in {bad}")
        seen.add(key)
    problems += [f"page {k}: missing" for k in want_pages.keys() - seen]
    got_st = {r["doc_id"]: r for r in st}
    for doc_id, (_, want) in expected.items():
        got = got_st.get(doc_id)
        if got is None or (
            [(d["log_id"], d["label"], d["parent_id"]) for d in got["divs"]]
            != [(d["log_id"], d["label"], d["parent_id"]) for d in want["divs"]]
            or [(l["log_id"], l["media_ref"]) for l in got["links"]]
            != [(l["log_id"], l["media_ref"]) for l in want["links"]]
        ):
            problems.append(f"doc_structure {doc_id}: missing or differs")
    return len(want_pages) + len(expected), len(problems), problems[:5]


def truth_recovery(expected: dict, blobs: dict[str, dict], tol: int = 8) -> float:
    """Share of pages whose border is within ``tol`` px of truth_border on
    every side and whose labels equal truth_labels."""
    hits = total = 0
    for pages, _ in expected.values():
        for p in pages:
            b = blobs[p["media_ref"]]
            total += 1
            hits += (max(abs(x - y) for x, y in zip(p["border"], b["truth_border"])) <= tol
                     and list(p["labels"]) == list(b["truth_labels"]))
    return hits / total


class QueryOracle:
    """DuckDB answers of the registry's ORACLE SQL over one table
    directory, cached on disk per (directory, SQL hash)."""

    def __init__(self, sf_dir: str, cache: str):
        import duckdb

        self.sf_dir, self.cache = sf_dir, cache
        os.makedirs(cache, exist_ok=True)
        self.con = duckdb.connect()
        for t in _check_queries().TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def answer(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha1(f"{self.sf_dir}\n{sql}".encode()).hexdigest()
        path = os.path.join(self.cache, f"{key}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)  # written by this class only
        df = self.con.execute(sql).fetchdf()
        tmp = f"{path}.tmp{os.getpid()}"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        self.con.close()


def check_query(result_dir: str, want: pd.DataFrame) -> str | None:
    """None if the parquet result equals the oracle answer (row count,
    column names, canonical values), else what differs."""
    got = pq.read_table(result_dir).to_pandas()
    if len(got) != len(want):
        return f"rowcount {len(got)} != {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if not _check_queries().canon(got).equals(_check_queries().canon(want)):
        return "values differ"
    return None


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100.0 * len(s)) - 1)]
