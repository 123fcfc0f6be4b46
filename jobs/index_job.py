"""Cluster entry point: ANN INDEX BUILD pass — persist the three serving
indexes (hyperplane-LSH buckets, IVF-Flat cell assignments, PQ codes) as
parquet relations, making the build-once/serve-many split durable: the
session-shared entries (sources.session_cache) memoize these same
relations for one driver; this job is the production form where the index
is built once per corpus snapshot and every serving job reads the
committed relation instead of recomputing the assignment expressions.

    spark-submit --py-files engine.zip jobs/index_job.py \
        --input <dir containing embeddings.parquet> --output <output root>

Writes under --output:

- ``lsh_index``:  (vec_id, tbl, bucket)   — hyperplane-LSH assignments
- ``ivf_index``:  (vec_id, cell)          — IVF-Flat cell per vector
- ``pq_index``:   (vec_id, m, code)       — PQ code per (vector, subspace)
- ``manifest``:   one-row JSON dataset with the derived parameters
  (n_vectors, lsh_bits, lsh_tables, ivf_k, exact PQ codebooks) and a
  ``complete`` flag. The manifest is TWO-PHASE: it is overwritten with
  complete=false BEFORE the index relations are rebuilt and with the
  real payload only after all three commit, so a rebuild or a crash can
  never leave an old manifest describing new relations (round-6 review);
  and it is written through Spark like the relations, so hdfs://s3a://
  outputs work identically to local paths.

Serving equivalence is pinned in pytest: candidates generated from the
persisted LSH relation are row-identical to the session-cached path, and
the persisted IVF/PQ relations equal the in-session builds row-for-row.
"""

from __future__ import annotations

import argparse
import json


def run(spark, input_dir: str, out_dir: str) -> dict:
    import os

    from ocrd_anybaseocr_spark.operators.similarity import (
        LSH_TABLES,
        derive_bits,
        derive_ivf_k,
        ivf_assignments,
        lsh_assignments,
        pq_codebooks,
        pq_codes,
    )

    def write_manifest(payload: dict) -> None:
        spark.createDataFrame(
            [(json.dumps(payload),)], "manifest_json string"
        ).coalesce(1).write.mode("overwrite").json(os.path.join(out_dir, "manifest"))

    emb = spark.read.parquet(os.path.join(input_dir, "embeddings.parquet"))
    n = emb.count()
    bits = derive_bits(n)
    k = derive_ivf_k(n)

    # phase 1: invalidate any previous manifest before touching relations
    write_manifest({"complete": False})

    lsh_assignments(emb.select("vec_id", "embedding"), LSH_TABLES, bits).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "lsh_index"))
    ivf_assignments(emb, k).write.mode("overwrite").parquet(
        os.path.join(out_dir, "ivf_index")
    )
    books = pq_codebooks(emb)
    pq_codes(emb, books).write.mode("overwrite").parquet(
        os.path.join(out_dir, "pq_index")
    )

    # phase 2: publish the real manifest only after all three relations
    # committed — a reader finding complete=false (or a parse failure)
    # rejects the index set
    write_manifest(
        {
            "complete": True,
            "n_vectors": int(n),
            "lsh_tables": int(LSH_TABLES),
            "lsh_bits": int(bits),
            "ivf_k": int(k),
            "pq_codebooks": [
                [[cid, [int(v) for v in cent]] for cid, cent in book]
                for book in books
            ],
        }
    )
    return {
        "n_vectors": int(n),
        "lsh_bits": int(bits),
        "ivf_k": int(k),
        "pq_m": len(books),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ocrd_anybaseocr_spark.sources.tables import SESSION_SQL_CONF

    # no .master(): the submit command controls placement (job convention)
    spark = (
        SparkSession.builder.appName("ocrd_anybaseocr_spark.index")
        .config(map=SESSION_SQL_CONF)
        .getOrCreate()
    )
    print(json.dumps(run(spark, args.input, args.output)))
    spark.stop()


if __name__ == "__main__":
    main()
