"""The fused image pipeline + checkpointed end-to-end run.

Design (SURVEY.md §4.2): decode → binarize → deskew → ruler → crop → tiseg →
classify run in ONE ``mapInArrow`` so image bytes cross the JVM↔Python Arrow
boundary exactly once — the reference's pipeline-of-fileGrps would naively
become N materializations; we fuse instead and only materialize final spans,
page results, structure and metrics.

Skew handling (north_rule): rows are repartitioned on a size-bucketed salted
key before the UDF so a few oversized scans (long-tail documents,
FIXTURES.md §1) cannot pile onto one task; AQE skew-join stays enabled for
the media join.

Resumability (north_rule, S6): outputs are partitioned by a deterministic
doc_id hash bucket; a checkpoint table records (partition_id, doc_count,
row_count, latency_ms, lineage) per completed bucket; resume filters the
input with an anti-join against completed buckets and dynamic partition
overwrite makes rewriting a half-written bucket idempotent.
"""

from __future__ import annotations

import functools
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql import types as T

from .. import schema as S
from ..config import DEFAULT_PARAMS
from ..sources.tables import load_corpus, task_slots
from .extract import extract_spans, page_index
from .fold import derive_fold_buckets, fold_structure

# PAGE_RESULTS plus the per-page kernel time and the error column: the
# per-row quarantine channel — a corrupt blob yields a row with error set
# and every kernel field NULL instead of killing the whole Arrow batch task
# (and with it the job, after Spark's retries) — at corpus scale corrupt
# bytes are a certainty, not an edge case. A new StructType: add() would
# append to the shared PAGE_RESULTS in place.
_STAGE_SCHEMA = T.StructType(
    S.PAGE_RESULTS.fields
    + [T.StructField("proc_ms", T.LongType()), T.StructField("error", T.StringType())]
)
# the committed page_results table: read with it, spark.read plans without
# the one-task footer job that schema inference runs
_COMMITTED_PR_SCHEMA = T.StructType(
    _STAGE_SCHEMA.fields + [T.StructField("part_bucket", T.IntegerType())]
)

N_BUCKETS_MIN = 16  # floor for output partition buckets
N_BUCKETS_MAX = 4096  # cap: at 100 TB this is ~25 GB of output per commit unit
DOCS_PER_BUCKET = 5_000  # checkpoint/commit granularity target


def derive_buckets(n_docs: int) -> int:
    """Output-bucket count (lineage/checkpoint granularity) derived from the
    corpus size instead of a constant: small corpora keep 16 buckets (cheap
    commits, tests unchanged), large corpora get ~one bucket per 5k docs so
    a resume never re-runs more than that, capped at 4096 so the checkpoint
    table and partition listing stay trivial."""
    return int(min(N_BUCKETS_MAX, max(N_BUCKETS_MIN, -(-n_docs // DOCS_PER_BUCKET))))


def process_pages(pages_with_blobs: DataFrame, params=DEFAULT_PARAMS) -> DataFrame:
    """Fused per-page stage over (doc_id, media_ref, page_no, image).

    One mapInArrow hop: bytes in, small structured results out, with no
    pandas conversion of the page-bytes column on either side. The frozen
    params dataclass ships with the stage function (analogous to the
    reference's validated parameter JSON, ocrd-tool.json:17-132).
    """
    return pages_with_blobs.select("doc_id", "media_ref", "page_no", "image").mapInArrow(
        functools.partial(_stage, params=params), schema=_STAGE_SCHEMA
    )


_STAGE_COLS = [f.name for f in _STAGE_SCHEMA.fields]


def _stage(batches, params):
    """The per-batch body of process_pages: RecordBatch in, RecordBatch out.
    Kernel code is imported here, once per task, so executors resolve it
    from --py-files (ref model-load-once:
    cli/ocrd_anybaseocr_layout_analysis.py:51-67). The Arrow output schema
    is DERIVED from _STAGE_SCHEMA, the single source of truth.

    Per-ROW error isolation: a blob the kernels cannot process quarantines
    as a row with ``error`` set and NULL kernel fields — the rest of the
    batch (and the task) is unaffected. The r5 unshear finding was this
    exact failure class; the guard is structural, not per-kernel."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..oracle import process_page

    aschema = to_arrow_schema(_STAGE_SCHEMA)
    for batch in batches:
        d = batch.select(["doc_id", "media_ref", "page_no", "image"]).to_pydict()
        rows = []
        for doc_id, media_ref, page_no, png in zip(
            d["doc_id"], d["media_ref"], d["page_no"], d["image"]
        ):
            t0 = time.monotonic()
            try:
                r = process_page(bytes(png), params)
                r["error"] = None
            except Exception as e:  # noqa: BLE001 — any kernel failure quarantines
                r = {f.name: None for f in S.PAGE_RESULTS.fields}
                r["error"] = f"{type(e).__name__}: {e}"
            r.update(
                doc_id=doc_id,
                media_ref=media_ref,
                page_no=int(page_no),
                proc_ms=int((time.monotonic() - t0) * 1000),
            )
            rows.append(r)
        out = {name: [r[name] for r in rows] for name in _STAGE_COLS}
        yield pa.RecordBatch.from_pydict(out, schema=aschema)


def salted_repartition(df: DataFrame, cost_col: str, n_parts: int) -> DataFrame:
    """Size-bucketed salted repartition (north_rule skew handling).

    Rows are spread by (size_bucket, salt): oversized rows land in their own
    bucket space and the salt randomizes placement within it, so no task
    accumulates a disproportionate byte load even when the scan is sorted by
    document (all big pages adjacent).
    """
    bucketed = df.withColumn(
        "_size_bucket",
        F.when(F.col(cost_col) >= 1_500_000, F.lit(2))
        .when(F.col(cost_col) >= 700_000, F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn("_salt", F.pmod(F.hash("media_ref"), F.lit(max(n_parts * 4, 64))))
    return bucketed.repartition(n_parts, "_size_bucket", "_salt").drop("_size_bucket", "_salt")


def build_page_results(
    documents: DataFrame,
    blobs: DataFrame,
    n_parts: int = 32,
    params=DEFAULT_PARAMS,
) -> DataFrame:
    """documents ⋈ page_blobs → fused image stage. The join key media_ref is
    unique on both sides (no key skew).

    The image stage runs ``task_slots(spark, n_parts)`` tasks: one per task
    slot when the session declares its slots, so ``n_parts`` is an upper
    bound. Each Python task pays a fixed worker setup before its UDF runs
    (CLAUDE.md, host facts); at 8 tasks per core that setup costs more
    than the finer interleave of long-tail pages saves.

    Byte-size skew handling: a size-bucketed salted repartition on
    decoded-pixel cost after the join, so one shuffle of the image bytes
    gives even tasks (salted_repartition).
    """
    pages = page_index(documents)
    n_tasks = task_slots(documents.sparkSession, n_parts)
    joined = pages.join(blobs.select("media_ref", "image", "width", "height"), "media_ref")
    joined = joined.withColumn("_cost", F.col("width").cast("long") * F.col("height"))
    joined = salted_repartition(joined, "_cost", n_tasks)
    return process_pages(joined.select("doc_id", "media_ref", "page_no", "image"), params)


class _PathIO:
    """Parquet-directory output layout (the sandbox default): tables are
    directories under ``out_dir`` partitioned by part_bucket; per-bucket
    idempotence comes from dynamic partition overwrite (only the buckets
    present in this run's data are replaced)."""

    def __init__(self, spark: SparkSession, out_dir: str):
        self.spark, self.out_dir = spark, out_dir

    def _path(self, name: str) -> str:
        return os.path.join(self.out_dir, name)

    def overwrite_partitioned(self, df: DataFrame, name: str) -> None:
        (df.write.mode("overwrite").partitionBy("part_bucket")
            .parquet(self._path(name)))

    def overwrite_full(self, df: DataFrame, name: str) -> None:
        # WHOLE-table rewrite (unpartitioned): dynamic partition-overwrite
        # semantics only apply to partitioned writes, so this truncates
        df.write.mode("overwrite").parquet(self._path(name))

    def exists(self, name: str) -> bool:
        # Resolve through the Hadoop FileSystem API, not os.path: out_dir
        # may be an hdfs:// or s3a:// URI (the Spark writes above already
        # accept those), and a local-only isdir would let a stale quarantine
        # table survive a clean re-run on a remote FS (ADVICE r6 item 2 —
        # the n_bad==0 rewrite at the quarantine call site gates on this).
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        path = jvm.org.apache.hadoop.fs.Path(self._path(name))
        fs = path.getFileSystem(jsc.hadoopConfiguration())
        return bool(fs.exists(path))

    def append(self, df: DataFrame, name: str) -> None:
        df.write.mode("append").parquet(self._path(name))

    def read(self, name: str, read_schema=None) -> DataFrame:
        r = self.spark.read
        if read_schema is not None:
            r = r.schema(read_schema)
        return r.parquet(self._path(name))


class _CatalogIO:
    """Catalog-table output (S1/S4): ``df.writeTo(ns.table)`` against a
    configured catalog namespace. On a real Iceberg catalog,
    ``overwritePartitions()`` is ONE atomic snapshot commit per table — a
    crash mid-write leaves the previous snapshot intact and the resume
    contract strengthens from per-bucket (dynamic partition overwrite is
    atomic per partition directory move) to per-table-commit. The
    checkpoint append is still written LAST, so a bucket is only ever
    considered done after its data committed.

    The sandbox has no Iceberg jars, so the v2 write path is exercised
    against the built-in session catalog (VERDICT round 2 item 8's 'local
    catalog mock'), whose v1 parquet tables accept ``writeTo(...).create()``
    but reject v2 ``overwritePartitions()``/``append()`` — those fall back
    to the classic dynamic INSERT OVERWRITE / insertInto, which have the
    same per-bucket idempotence as _PathIO. The fallback is narrowed to
    exactly the v1-capability AnalysisException ("Cannot write into v1
    table", class _LEGACY_ERROR_TEMP_1012): any other analysis error — and
    a real catalog's commit conflicts (runtime exceptions) — must surface,
    not silently double-write. insertInto is POSITIONAL, so the fallback
    reorders the frame to the created table's column order first (ADVICE
    r3 item 2: a reordered select in a caller would otherwise silently
    scramble columns on this path only)."""

    def __init__(self, spark: SparkSession, namespace: str):
        self.spark, self.ns = spark, namespace
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {namespace}")

    def _tbl(self, name: str) -> str:
        return f"{self.ns}.{name}"

    @staticmethod
    def _is_v1_capability_error(e) -> bool:
        # getCondition is the 4.x name; older sessions only have getErrorClass.
        # Strictness follows from the exception itself (VERDICT r4 item 6):
        # an exception that carries an error class qualifies only as
        # _LEGACY_ERROR_TEMP_1012 — on a real catalog, commit conflicts and
        # analysis errors must never take the positional-insertInto
        # fallback. A class-less exception qualifies only on the exact
        # v1-capability MESSAGE PREFIX, not a substring — an unrelated error
        # merely mentioning 'v1 table' (e.g. in a table name) must surface,
        # not silently double-write.
        get = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
        cls = get() if get else None
        if cls is not None:
            return cls == "_LEGACY_ERROR_TEMP_1012"
        msg = str(e)
        return msg.startswith("[_LEGACY_ERROR_TEMP_1012]") or msg.startswith(
            "Cannot write into v1 table"
        )

    def _aligned(self, df: DataFrame, tbl: str) -> DataFrame:
        return df.select(*self.spark.table(tbl).columns)

    def overwrite_partitioned(self, df: DataFrame, name: str) -> None:
        from pyspark.errors import AnalysisException

        tbl = self._tbl(name)
        if not self.spark.catalog.tableExists(tbl):
            (df.writeTo(tbl).using("parquet")
                .partitionedBy(F.col("part_bucket")).create())
            return
        try:
            df.writeTo(tbl).overwritePartitions()
        except AnalysisException as e:
            if not self._is_v1_capability_error(e):
                raise
            self._aligned(df, tbl).write.mode("overwrite").insertInto(tbl)

    def append(self, df: DataFrame, name: str) -> None:
        from pyspark.errors import AnalysisException

        tbl = self._tbl(name)
        if not self.spark.catalog.tableExists(tbl):
            df.writeTo(tbl).using("parquet").create()
            return
        try:
            df.writeTo(tbl).append()
        except AnalysisException as e:
            if not self._is_v1_capability_error(e):
                raise
            self._aligned(df, tbl).write.mode("append").insertInto(tbl)

    @staticmethod
    def _is_replace_capability_error(e) -> bool:
        # REPLACE TABLE AS SELECT on a non-atomic catalog raises
        # UNSUPPORTED_FEATURE.TABLE_OPERATION (verified on the session
        # catalog), not the v1 insert class — both mean "this catalog
        # can't do the v2 op", nothing else qualifies
        get = getattr(e, "getCondition", None) or getattr(e, "getErrorClass", None)
        cls = get() if get else None
        return cls in ("UNSUPPORTED_FEATURE.TABLE_OPERATION", "_LEGACY_ERROR_TEMP_1012")

    def overwrite_full(self, df: DataFrame, name: str) -> None:
        from pyspark.errors import AnalysisException

        tbl = self._tbl(name)
        try:
            df.writeTo(tbl).using("parquet").createOrReplace()
        except AnalysisException as e:
            if not (
                self._is_replace_capability_error(e) or self._is_v1_capability_error(e)
            ):
                raise
            df.write.mode("overwrite").saveAsTable(tbl)

    def exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    def read(self, name: str, read_schema=None) -> DataFrame:
        return self.spark.read.table(self._tbl(name))


def run_pipeline(
    spark: SparkSession,
    corpus_dir: str,
    out_dir: str,
    n_parts: int = 32,
    resume: bool = True,
    catalog: str | None = None,
) -> dict:
    """End-to-end run with checkpointed, idempotent resume.

    Outputs: extracted_spans, page_results, doc_structure (partitioned by
    part_bucket) + checkpoints (one row per bucket) — as parquet
    directories under ``out_dir``, or, when ``catalog`` names a catalog
    namespace (e.g. ``iceberg_cat.graft``), as catalog tables written via
    the v2 ``writeTo`` API (see _CatalogIO for the atomicity contract).
    Returns summary metrics. The bucket count is derive_buckets(corpus doc
    count) — deterministic for a given corpus, so resume runs recompute the
    same bucket ids. ``n_parts`` caps the image stage's task count (see
    build_page_results); the three bucketed writes run ``task_slots(spark,
    n_buckets)`` tasks.

    Commit path: each table is written by one job, and every count the
    driver needs rides a write as an Observation — page_results carries the
    row and quarantine counts, the checkpoint append carries the summary's
    docs/pages/kernel_ms, so those reconcile with the checkpoint table by
    construction. The checkpoint rows are aggregated from the committed
    page_results and appended LAST, so a bucket is only ever considered
    done after its data committed. The only driver collect is the resume
    probe; a checkpoint table that exists but cannot be read fails the run
    instead of silently re-running the corpus.
    """
    # per-phase wall breakdown (VERDICT r4 item 1): every driver-side action
    # gets a named timing so a probe regression is attributable to a job,
    # not a mystery. Returned as summary["timings"].
    timings: dict[str, float] = {}

    def _timed(name: str, fn, *args):
        t = time.monotonic()
        out = fn(*args)
        timings[name] = round(time.monotonic() - t, 3)
        return out

    io = _CatalogIO(spark, catalog) if catalog else _PathIO(spark, out_dir)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    documents, blobs = load_corpus(spark, corpus_dir)
    # one narrow-column count job; at scale this is footer metadata work,
    # negligible next to the image stage
    n_buckets = derive_buckets(_timed("count_docs", documents.count))
    bucket = F.pmod(F.hash("doc_id"), F.lit(n_buckets)).cast("int")
    documents = documents.withColumn("part_bucket", bucket)

    # probe through the IO layer, NOT os.path — out_dir may be HDFS/S3/a
    # catalog table (jobs/extract_job.py advertises cluster use). A table
    # that exists but cannot be read raises: treating it as "nothing done"
    # would re-run the corpus and append to the broken table on every run.
    done: set[int] = set()
    if resume and io.exists("checkpoints"):
        done = _timed("ckpt_probe", lambda: {
            r.partition_id for r in io.read("checkpoints", S.CHECKPOINT).collect()
        })
    if len(done) >= n_buckets:
        return {
            "docs": 0,
            "pages": 0,
            "quarantined_pages": 0,
            "resumed_buckets": sorted(done),
            "elapsed_s": 0.0,
            "kernel_ms": 0,
            "timings": timings,
        }
    if done:
        documents = documents.filter(~F.col("part_bucket").isin(*done))

    t0 = time.monotonic()

    extracted = extract_spans(documents.select("doc_id", "spans"))
    page_results = build_page_results(documents, blobs, n_parts)

    # repartition on the bucket before a partitionBy write: each task owns
    # whole buckets → one file per bucket instead of tasks×buckets small
    # files (and a cheap commit). n_buckets scales with corpus size
    # (derive_buckets above). The task count is capped at the slots: a
    # task's fixed cost (scheduling, a writer and its commit) dwarfs the
    # few KB a bucket holds, and hash placement keeps each bucket whole.
    n_write = task_slots(spark, n_buckets)

    def _bucketed(df: DataFrame) -> DataFrame:
        return df.withColumn("part_bucket", bucket).repartition(n_write, "part_bucket")

    pr_counts = (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.expr("int(error is not null)")).alias("bad"),
    )
    pr_obs = Observation("pr_rows")
    # the span write is independent of the image stage — submit it
    # concurrently so its scan/shuffle fills scheduler gaps (Spark's
    # scheduler interleaves jobs from separate threads); result() re-raises
    with ThreadPoolExecutor(max_workers=1) as pool:
        spans_job = pool.submit(
            _timed, "extracted_write", io.overwrite_partitioned,
            _bucketed(extracted), "extracted_spans",
        )
        _timed(
            "page_results_write", io.overwrite_partitioned,
            _bucketed(page_results.observe(pr_obs, *pr_counts)), "page_results",
        )
        spans_job.result()
    # fold from the COMMITTED page_results — the image stage runs exactly once
    # (recomputing the lineage through the mapInArrow stage would double decode work)
    written_pr = io.read("page_results", _COMMITTED_PR_SCHEMA)
    if done:
        written_pr = written_pr.filter(~F.col("part_bucket").isin(*done))
    try:
        pr = pr_obs.get
    except Py4JJavaError:
        # AQE collapses an all-remaining-buckets-empty resume plan to an
        # empty relation, so the observed row never materializes and get
        # fails; count the (near-empty) commit instead
        pr = written_pr.agg(*pr_counts).first().asDict()
    n_new_rows, n_bad = int(pr["rows"]), int(pr["bad"] or 0)
    if n_bad or io.exists("quarantine"):
        # auditable quarantine relation derived from the FULL committed
        # parquet (a scan of small rows, no re-decode) and rewritten as
        # a WHOLE table: dynamic partition overwrite cannot clear a
        # bucket whose re-run came back clean, so a stale row would
        # outlive the fixed blob (round-6 review — the index-manifest
        # staleness class). A run with no bad rows and no existing
        # table still pays zero extra jobs.
        io.overwrite_full(
            io.read("page_results", _COMMITTED_PR_SCHEMA)
            .filter(F.col("error").isNotNull())
            .select("doc_id", "media_ref", "page_no", "error", "part_bucket"),
            "quarantine",
        )
    # fold fan-out scales with data: the observed row count of the commit
    # bounds rows-per-group; fold_structure itself drops quarantined rows
    # (single definition of the boundary — the gated doc-structure query
    # shares it)
    n_fold = derive_fold_buckets(
        n_new_rows, int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    )
    structure = fold_structure(written_pr, n_fold_buckets=n_fold)
    _timed("fold_write", io.overwrite_partitioned, _bucketed(structure), "doc_structure")
    elapsed_ms = int((time.monotonic() - t0) * 1000)

    # checkpoint rows aggregated from the committed output of this run's
    # buckets and appended LAST; the summary's docs/pages/kernel_ms ride the
    # append, so they equal the checkpoint sums by construction
    lineage = json.dumps(
        {"input": corpus_dir, "engine": "ocrd_anybaseocr_spark-0.1.0", "n_parts": n_parts}
    )
    ck = {"docs": 0, "pages": 0, "kernel_ms": 0}
    if n_new_rows:
        ck_obs = Observation("ckpt_rows")
        checkpoints = (
            written_pr.groupBy("part_bucket")
            .agg(
                F.countDistinct("doc_id").alias("doc_count"),
                F.count(F.lit(1)).alias("row_count"),
                F.sum("proc_ms").alias("latency_ms"),
            )
            .select(
                F.col("part_bucket").cast("int").alias("partition_id"),
                "doc_count",
                "row_count",
                "latency_ms",
                F.lit(lineage).alias("lineage"),
            )
            .observe(
                ck_obs,
                F.sum("doc_count").alias("docs"),
                F.sum("row_count").alias("pages"),
                F.sum("latency_ms").alias("kernel_ms"),
            )
        )
        _timed("checkpoint_append", io.append, checkpoints, "checkpoints")
        ck = ck_obs.get
    return {
        "docs": int(ck["docs"]),
        # pages is GROSS of quarantine: every committed row, including the
        # error stubs (checkpoint row_counts reconcile against it); healthy
        # pages = pages - quarantined_pages
        "pages": int(ck["pages"]),
        "quarantined_pages": n_bad,
        "resumed_buckets": sorted(done),
        "elapsed_s": elapsed_ms / 1000.0,
        # pure in-UDF kernel CPU time (decode→classify), summed from the
        # checkpoint metrics — wall*cores minus this is the Spark-side
        # share (Arrow hop, scheduling, non-image jobs): the 8→32 scaling
        # attribution input (BENCH/BASELINE.md)
        "kernel_ms": int(ck["kernel_ms"]),
        "timings": timings,
    }
