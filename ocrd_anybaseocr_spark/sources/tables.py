"""Sources/sinks (SURVEY.md §2.1).

Parquet at sandbox scale with an Iceberg-compatible layout: explicit schemas,
partition-bucket columns, append-only outputs + a checkpoint table — the
table layout maps 1:1 onto `spark.read.format('iceberg')` on a real cluster
(S1). The reference's workspace resolve/download (reference:
tests/conftest.py:30-46) becomes a plain table scan; media blobs are a side
table joined by media_ref.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .. import schema as S


# SQL confs shared by every session this package builds: spark_session
# below and the spark-submit entry points in jobs/ (which leave master,
# memory and shuffle partitions to the cluster's submit conf).
#
# Arrow batch size trades Python/JVM round-trips against executor memory:
# a batch holds ENCODED page bytes (~35 KB each here → ~9 MB at 256) and
# pages decode one at a time inside the UDF, so the decoded footprint stays
# one page. Raising 32→256 measured +30-40% stage throughput at 32 cores.
# For corpora with much larger scans, size by byte budget (SURVEY.md §4.3),
# not row count. Parquet aggregate pushdown resolves count(*) from
# row-group metadata, so the pipeline's bucket-derivation count is a
# footer read.
SESSION_SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    "spark.sql.parquet.aggregatePushdown": "true",
}


def spark_session(cores: int | str = "*", app: str = "ocrd_anybaseocr_spark",
                  shuffle_partitions: int = 32) -> SparkSession:
    """Local session tuned for heavy image rows: AQE on (skew-join +
    coalesce) and the SESSION_SQL_CONF above.

    An integer ``cores`` also pins ``spark.default.parallelism`` to it —
    the value local mode uses implicitly, so no plan changes — making the
    task slots readable through ``task_slots``."""
    builder = SparkSession.builder
    if str(cores).isdigit():
        builder = builder.config("spark.default.parallelism", str(cores))
    return (
        builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=SESSION_SQL_CONF)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def task_slots(spark: SparkSession, cap: int) -> int:
    """Task count for a stage whose tasks each carry a fixed cost: ``cap``,
    lowered to the session's task slots (``spark.default.parallelism``)
    when the session declares them. A Python task pays a worker setup
    before its UDF runs (CLAUDE.md, host facts), so a stage sized to the
    slots pays it once per slot, not several times. A session without the
    conf (a cluster submit) keeps ``cap``."""
    slots = spark.conf.get("spark.default.parallelism", None)
    return min(cap, int(slots)) if slots else cap


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-provided testdata table (TESTDATA.md)."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def scan_fanout(
    df: DataFrame, spark: SparkSession, sf_dir: str, name: str
) -> DataFrame:
    """ADAPTIVE round-robin repartition of a freshly-scanned table for
    heavy downstream per-row work (explode chains, hash kernels): a
    parquet scan can never split below one ROW GROUP, and the driver's
    testdata writes each table as a single-row-group single file — so
    without this, every md5/shingle pass ran in ONE task regardless of
    cores (measured: the whole text-dedup family scan-stage-bound on one
    core at sf1.0).

    The fanout width is ``task_slots(spark, shuffle.partitions)``: one
    round-robin task per task slot, since every downstream task (a Python
    hash kernel above all) pays a fixed worker setup (see task_slots). A
    session that does not declare its slots (a cluster submit) keeps the
    shuffle-partition count. The repartition fires only when the scan's
    row groups are fewer than half that width; at production scale (many
    files / many row groups per file) — or when the layout cannot be
    probed (non-local paths, monkeypatched loaders in tests) — it is a
    no-op, so no corpus-sized shuffle is ever added (guide §2: derive
    partitioning from the input, don't hard-code either deployment)."""
    t = task_slots(spark, int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    try:
        import glob as _glob

        import pyarrow.parquet as _pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        files = _glob.glob(os.path.join(path, "*.parquet")) if os.path.isdir(path) else [path]
        row_groups = sum(_pq.ParquetFile(p).num_row_groups for p in files)
    except Exception:
        # non-local or unreadable layout: assume the scan splits fine
        return df
    if row_groups >= max(2, t // 2):
        return df
    return df.repartition(t)


def load_corpus(spark: SparkSession, corpus_dir: str) -> tuple[DataFrame, DataFrame]:
    """Load the interleaved corpus (documents, page_blobs) with explicit schemas."""
    docs = spark.read.schema(S.DOCUMENTS).parquet(os.path.join(corpus_dir, "documents.parquet"))
    blobs = spark.read.schema(S.PAGE_BLOBS).parquet(os.path.join(corpus_dir, "page_blobs.parquet"))
    return docs, blobs
