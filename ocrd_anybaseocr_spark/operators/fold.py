"""Document-structure fold operator (W4) as a grouped-map UDF.

The reference's two-phase split — parallel per-page inference, then a
sequential per-document fold (reference:
cli/ocrd_anybaseocr_layout_analysis.py:72-86,140-220) — maps exactly onto
Spark's shuffle boundary: page_results shuffle once on doc_id, then
``applyInArrow`` folds each document's pages in reading order. The fold is
bounded per document (max ~40 pages), so no stateful-streaming operator is
needed (SURVEY.md §2.9).
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

from pyspark.sql import DataFrame

from .. import schema as S


N_FOLD_BUCKETS_MIN = 64
# Bounds the Arrow table a single applyInArrow group materializes: with
# n_fold_buckets >= ceil(rows / TARGET), one group holds <= TARGET page rows
# (~a few MB at this schema) regardless of corpus size.
TARGET_ROWS_PER_FOLD_BUCKET = 20_000


def derive_fold_buckets(n_rows: int | None, parallelism: int) -> int:
    """Fan-out for the fold stage: scales with BOTH data volume (per-group
    memory bound, see TARGET_ROWS_PER_FOLD_BUCKET) and cluster width (keep
    every core busy). The old fixed 64 meant one group = 1/64 of all page
    rows — unbounded at scale."""
    by_rows = 0 if n_rows is None else -(-n_rows // TARGET_ROWS_PER_FOLD_BUCKET)
    return int(max(N_FOLD_BUCKETS_MIN, 4 * parallelism, by_rows))


def fold_structure(page_results: DataFrame, n_fold_buckets: int | None = None) -> DataFrame:
    """page_results(doc_id, media_ref, page_no, labels, ...) → DOC_STRUCTURE.

    Grouped by a doc_id HASH BUCKET, not by doc_id: one applyInArrow call
    folds ~hundreds of documents (one Arrow sort, then one document at a
    time), so the per-group Python/Arrow overhead is amortized — at 10^12
    docs a per-document UDF call would dominate the stage. Results are
    identical for ANY bucket count: each document is still folded alone,
    in explicit (doc_id, page_no) order (parallelism-invariance is
    pytest-asserted).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    # quarantine boundary: a pipeline frame carries an `error` column whose
    # non-null rows have NULL labels — they contribute nothing to structure
    # and would crash the per-doc fold (list(None)); filtering HERE is the
    # single definition for every consumer (run_pipeline, the gated query,
    # ad-hoc callers). Frames without the column pass through.
    if "error" in page_results.columns:
        page_results = page_results.filter(F.col("error").isNull())

    if n_fold_buckets is None:
        n_fold_buckets = derive_fold_buckets(
            None,
            int(page_results.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        )

    aschema = to_arrow_schema(S.DOC_STRUCTURE)

    def fold_bucket(table):
        import pyarrow as pa

        from ..kernels.fold import fold_document

        # W5: explicit order keys
        c = table.sort_by([("doc_id", "ascending"), ("page_no", "ascending")]).to_pydict()
        out = []
        for doc_id, g in groupby(zip(c["doc_id"], c["media_ref"], c["labels"]), itemgetter(0)):
            divs, links = fold_document([(m, l) for _, m, l in g])
            out.append(
                {
                    "doc_id": doc_id,
                    "divs": [
                        {"log_id": d[0], "label": d[1], "parent_id": d[2]} for d in divs
                    ],
                    "links": [{"log_id": l[0], "media_ref": l[1]} for l in links],
                }
            )
        return pa.Table.from_pylist(out, schema=aschema)

    return (
        page_results.select("doc_id", "media_ref", "page_no", "labels")
        .withColumn("_fold_bucket", F.pmod(F.hash("doc_id"), F.lit(n_fold_buckets)))
        .groupBy("_fold_bucket")
        .applyInArrow(fold_bucket, schema=S.DOC_STRUCTURE)
    )
