"""Cluster entry point: spark-submit job for the full extraction pipeline.

    spark-submit --py-files engine.zip jobs/extract_job.py \
        --input  <corpus dir / Iceberg table path> \
        --output <output root> \
        [--n-parts 4096] [--no-resume] [--catalog <catalog.namespace>]

Packaging (north_rule: "packaged for spark-submit --py-files"):

    python tools/package.py      # → dist/engine.zip

On a cluster the session comes from spark-submit's conf (executors,
memory, shuffle partitions); locally this falls back to local[*]. The job
is idempotent: rerunning after any failure resumes from the checkpoint
table (operators/pipeline.py).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--n-parts", type=int, default=256,
        help="upper bound on the image stage's task count; a session that "
             "sets spark.default.parallelism runs min(n-parts, that) tasks",
    )
    p.add_argument("--no-resume", action="store_true")
    p.add_argument(
        "--catalog", default=None,
        help="catalog namespace (e.g. iceberg_cat.graft) — outputs become "
             "catalog tables written via the v2 writeTo API (atomic "
             "snapshot commits on Iceberg) instead of parquet directories "
             "under --output",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from ocrd_anybaseocr_spark.sources.tables import SESSION_SQL_CONF

    spark = (
        SparkSession.builder.appName("ocrd_anybaseocr_spark.extract")
        .config(map=SESSION_SQL_CONF)
        .getOrCreate()
    )
    from ocrd_anybaseocr_spark.operators.pipeline import run_pipeline

    summary = run_pipeline(
        spark, args.input, args.output, n_parts=args.n_parts,
        resume=not args.no_resume, catalog=args.catalog,
    )
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
