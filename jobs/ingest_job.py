"""Cluster entry point: spark-submit job for the INCREMENTAL INGEST pass —
the production shape that keeps an already-deduped corpus deduped as new
batches land.

    spark-submit --py-files engine.zip jobs/ingest_job.py \
        --corpus <dir containing documents.parquet>  (the existing corpus) \
        --batch  <dir containing documents.parquet>  (the new batch) \
        --output <output root>

Stage order (each committed before the next consumes it — decide once).
Both the corpus AND the batch itself are dedup sides: a batch that
contains its own duplicates must not plant them in the corpus, because
later passes never generate corpus x corpus pairs (review round 6).

1. Within-batch exact: one canonical (min doc_id) per md5 text key.
2. Bloom pre-filter + exact verify vs the corpus
   (operators/dedup.dedup_bloom_ingest): one membership probe per batch
   doc, every probe exact-verified, so the audit carries the measured
   false-positive mass.
3. MinHash near-dup vs the corpus (operators/dedup.dedup_incremental):
   the exact-surviving docs' band keys join the CORPUS side's bands only
   — no corpus x corpus pairs; verified matches at >= VERIFY_JACCARD_MIN
   drop the batch doc (the corpus copy is canonical by arrival order).
4. Within-batch near-dup (operators/dedup.verified_pairs over the
   remaining survivors): of each verified pair the greater doc_id drops
   (min-canonical, consistent with stage 1).
5. The accepted remainder is written as ``documents_accepted`` — the
   rows an append-to-corpus commit would take.

Writes under --output (all three are COMMITTED stage outputs):

- ``exact_flags``: per batch doc — (doc_id, bloom_hit, exact_dup,
  exact_dup_in_batch); committed so the filter-build lineage (corpus agg
  + probe join) runs once for the survivor filter AND the audit.
- ``ingest_audit``: one row per batch doc — every stage verdict plus
  ``accepted``; dropped docs stay auditable and
  bloom_hit AND NOT exact_dup is the filter's live FP rate.
- ``documents_accepted``: the accepted subset of the batch table.

At scale the corpus-side artifacts (the Bloom word relation, the corpus
band index) are PERSISTED and appended per batch rather than recomputed —
operators/dedup.py documents both shapes; this job computes them from the
corpus frame, which is plan-identical either way.
"""

from __future__ import annotations

import argparse
import json


def run(spark, corpus_dir: str, batch_dir: str, out_dir: str) -> dict:
    """One ingest pass; returns summary counts. Separated from main() so
    tests drive it in-process (the clean_job convention)."""
    import os

    from pyspark.sql import functions as F

    from ocrd_anybaseocr_spark.operators.dedup import (
        dedup_bloom_ingest,
        dedup_incremental,
        keyed_docs,
        verified_pairs,
    )

    corpus = spark.read.parquet(os.path.join(corpus_dir, "documents.parquet"))
    batch = spark.read.parquet(os.path.join(batch_dir, "documents.parquet"))

    # md5 key relations computed ONCE per pass and checkpointed (ADVICE r6
    # item 4): the corpus keys feed BOTH the Bloom filter build and the
    # exact-verify side, the batch keys feed stage 1 AND the Bloom probe —
    # without the checkpoint each consumer re-runs the corpus-wide
    # md5+scan, the dominant cost of the stage at real corpus scale
    corpus_keyed = keyed_docs(corpus).localCheckpoint(eager=True)
    keyed = keyed_docs(batch).localCheckpoint(eager=True)

    # stage 1: within-batch exact — min doc_id per content key is canonical
    canon = keyed.groupBy("h").agg(F.min("doc_id").alias("_canon"))
    in_batch = keyed.join(canon, "h").select(
        "doc_id", (F.col("doc_id") != F.col("_canon")).alias("exact_dup_in_batch")
    )

    # stage 2: Bloom probe + exact verify vs the corpus (full batch — the
    # audit reports every doc's corpus verdict even if stage 1 drops it)
    flags = dedup_bloom_ingest(
        batch, corpus, new_keyed=keyed, corpus_keyed=corpus_keyed
    ).join(in_batch, "doc_id")
    flags.write.mode("overwrite").parquet(os.path.join(out_dir, "exact_flags"))
    flags = spark.read.parquet(os.path.join(out_dir, "exact_flags"))

    exact_survivor_ids = flags.filter(
        ~F.col("exact_dup") & ~F.col("exact_dup_in_batch")
    ).select("doc_id")
    survivors = batch.join(exact_survivor_ids, "doc_id", "leftsemi")

    # stage 3: near-dup vs the corpus (batch bands x corpus bands only)
    near = (
        dedup_incremental(survivors, corpus)
        .select(F.col("doc_new").alias("doc_id"))
        .distinct()
        .withColumn("near_dup", F.lit(True))
    )
    # stage 4: within-batch near-dup among the remaining survivors — the
    # greater doc_id of each verified pair drops (min-canonical)
    survivors2 = survivors.join(
        near.select("doc_id"), "doc_id", "left_anti"
    )
    near_in_batch = (
        verified_pairs(survivors2)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("near_dup_in_batch", F.lit(True))
    )

    audit = (
        flags.join(near, "doc_id", "left")
        .join(near_in_batch, "doc_id", "left")
        .select(
            "doc_id",
            "bloom_hit",
            "exact_dup",
            "exact_dup_in_batch",
            F.coalesce(F.col("near_dup"), F.lit(False)).alias("near_dup"),
            F.coalesce(F.col("near_dup_in_batch"), F.lit(False)).alias(
                "near_dup_in_batch"
            ),
        )
        .withColumn(
            "accepted",
            F.expr(
                "NOT exact_dup AND NOT exact_dup_in_batch"
                " AND NOT near_dup AND NOT near_dup_in_batch"
            ),
        )
    )
    audit.write.mode("overwrite").parquet(os.path.join(out_dir, "ingest_audit"))
    committed = spark.read.parquet(os.path.join(out_dir, "ingest_audit"))
    accepted_ids = committed.filter("accepted").select("doc_id")
    batch.join(accepted_ids, "doc_id", "leftsemi").write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents_accepted")
    )

    # coalesce: sums over an EMPTY batch are NULL, and an empty batch must
    # report all-zero counts, not crash after the outputs committed
    agg = committed.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.expr("int(exact_dup)")), F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum(F.expr("int(exact_dup_in_batch AND NOT exact_dup)")), F.lit(0)).alias(
            "n_exact_in_batch"
        ),
        F.coalesce(F.sum(F.expr("int(near_dup)")), F.lit(0)).alias("n_near"),
        F.coalesce(F.sum(F.expr("int(near_dup_in_batch)")), F.lit(0)).alias(
            "n_near_in_batch"
        ),
        F.coalesce(F.sum(F.expr("int(bloom_hit AND NOT exact_dup)")), F.lit(0)).alias(
            "n_bloom_fp"
        ),
        F.coalesce(F.sum(F.expr("int(accepted)")), F.lit(0)).alias("n_accepted"),
    ).collect()[0]
    return {
        "batch_in": int(agg.n),
        "dropped_exact": int(agg.n_exact),
        "dropped_exact_in_batch": int(agg.n_exact_in_batch),
        "dropped_near_dup": int(agg.n_near),
        "dropped_near_dup_in_batch": int(agg.n_near_in_batch),
        "bloom_false_positives": int(agg.n_bloom_fp),
        "accepted": int(agg.n_accepted),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--batch", required=True)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ocrd_anybaseocr_spark.sources.tables import SESSION_SQL_CONF

    # no .master() here — the submit command controls where this runs
    # (clean_job/curate_job convention; a builder-set master would pin a
    # cluster submission to local mode on the driver)
    spark = (
        SparkSession.builder.appName("ocrd_anybaseocr_spark.ingest")
        .config(map=SESSION_SQL_CONF)
        .getOrCreate()
    )
    print(json.dumps(run(spark, args.corpus, args.batch, args.output)))
    spark.stop()


if __name__ == "__main__":
    main()
