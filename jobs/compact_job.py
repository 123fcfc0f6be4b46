"""Cluster entry point: SMALL-FILES COMPACTION pass — rewrite a parquet
dataset directory into ~target-sized files and swap it into place.

    spark-submit --py-files engine.zip jobs/compact_job.py \
        --input <parquet dataset dir> [--target-mb 128] [--sort-by col]

Why it exists at 100 TB: per-bucket dynamic-partition overwrites and
incremental ingest appends accrete files far below the scan-efficient
size; every downstream job then pays file-open + footer + tiny-row-group
cost per fragment, and the namenode/listing cost grows unbounded.
Compaction is the amortizing counterpart of the bucketed write paths.

Shape: output file count = ceil(actual data bytes / target) measured
through the Hadoop FileSystem API (hdfs://s3a:// size correctly);
`--sort-by` uses repartitionByRange so compaction doubles as CLUSTERING
(range-partitioned files give min/max footer pruning on the sort
column); otherwise a plain repartition avoids any sort cost.

Swap protocol (crash-safe, rows first): write to `<dir>.compact_tmp`,
VERIFY tmp row count == source row count (refuse to swap otherwise),
rename source -> `<dir>.compact_old`, tmp -> source, delete old. A
crash between the renames leaves `<dir>.compact_old` intact on disk —
nothing is deleted before the new data is serving.
"""

from __future__ import annotations

import argparse


def _fs(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p, jvm


def dataset_stats(spark, path: str) -> tuple[int, int]:
    """(total data bytes, data file count) for a parquet dataset dir —
    recursive, skipping _metadata/_SUCCESS/hidden files, via the Hadoop
    FileSystem API so remote URIs size correctly."""
    fs, p, _ = _fs(spark, path)
    total, files = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            total += st.getLen()
            files += 1
    return total, files


def run(spark, input_dir: str, target_mb: int = 128, sort_by: str | None = None) -> dict:
    bytes_before, files_before = dataset_stats(spark, input_dir)
    src = spark.read.parquet(input_dir)
    n_rows = src.count()
    n_out = max(1, -(-bytes_before // (target_mb << 20)))

    if sort_by:
        compacted = src.repartitionByRange(n_out, sort_by)
    else:
        compacted = src.repartition(n_out)
    tmp = input_dir.rstrip("/") + ".compact_tmp"
    old = input_dir.rstrip("/") + ".compact_old"
    compacted.write.mode("overwrite").parquet(tmp)

    n_tmp = spark.read.parquet(tmp).count()
    if n_tmp != n_rows:
        raise RuntimeError(
            f"compaction refused: tmp has {n_tmp} rows, source has {n_rows}"
        )

    fs, src_p, jvm = _fs(spark, input_dir)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    old_p = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(old_p):  # leftover from an interrupted prior run
        fs.delete(old_p, True)
    if not fs.rename(src_p, old_p):
        raise RuntimeError(f"compaction swap failed renaming {input_dir} aside")
    if not fs.rename(tmp_p, src_p):
        # put the original back before failing — never leave the path empty
        fs.rename(old_p, src_p)
        raise RuntimeError(f"compaction swap failed installing {tmp}")
    fs.delete(old_p, True)

    bytes_after, files_after = dataset_stats(spark, input_dir)
    return {
        "rows": n_rows,
        "files_before": files_before,
        "files_after": files_after,
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "target_files": n_out,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--target-mb", type=int, default=128)
    ap.add_argument("--sort-by", default=None)
    args = ap.parse_args()

    # NEVER set .master() here: a spark-submit entry point must inherit
    # the cluster master (CLAUDE.md, jobs)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("compact_job").getOrCreate()
    print(run(spark, args.input, args.target_mb, args.sort_by))


if __name__ == "__main__":
    main()
