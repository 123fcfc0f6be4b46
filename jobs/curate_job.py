"""Cluster entry point: the END-TO-END training-data curation pass — the
composition a user runs to turn a raw interleaved-corpus documents table
into a training-ready epoch plan.

    spark-submit --py-files engine.zip jobs/curate_job.py \
        --input  <dir containing documents.parquet> \
        --output <output root> \
        [--eval <dir containing documents.parquet>]  held-out eval set \
        [--near-dedup] [--pii-scrub] [--lm-max-bits X] \
        [--mix uniform|temperature|none]

Stage order (each stage's verdicts are COMMITTED to parquet before the
next stage consumes them — decide once, the clean_job/ingest_job rule):

1. Clean (jobs/clean_job.run): C4/Gopher rule stack, optional LM tail
   cut, optional MinHash near-dedup, optional PII scrub →
   ``clean_decisions`` + ``documents_clean``.
2. Decontaminate (--eval): cleaned docs sharing >= DECON_MIN_SHARED
   distinct 3-grams with any eval doc are dropped
   (operators/dedup.decontamination_overlap — DF-capped corpus shingles,
   eval side broadcast) → ``decon_flags`` (full audit: every
   contaminated (doc, eval doc, shared count) pair).
3. Mixture: per-source sampling weights over the SURVIVING docs —
   uniform (source_mix_weights semantics) or temperature alpha=0.5
   (source_mix_temperature semantics) → ``mix_weights``; per-doc epoch
   counts via the salted-md5 Bernoulli on the fractional part
   (source_mix_sample recipe) → ``epoch_plan`` (doc_id, source,
   weight_ppm, n_copies — n_copies=0 rows stay auditable).
4. Pack: the epoch-EXPANDED stream (one row per (doc, copy)) through
   textstats.pack_plan — per-shard concatenate-and-split at PACK_BLOCK
   token boundaries, ONE shuffle on the shard key → ``packed_plan``
   (doc_id, copy, shard, pos, n_tokens, start_seq, start_off, end_seq).

Every stage reads the previous stage's committed parquet, so a re-run of
a later stage can never disagree with the audit trail of an earlier one,
and the whole pass is resumable at stage granularity by construction.
"""

from __future__ import annotations

import argparse
import json


def run(
    spark,
    input_dir: str,
    out_dir: str,
    eval_dir: str | None = None,
    near_dedup: bool = False,
    pii_scrub: bool = False,
    lm_max_bits: float | None = None,
    mix: str = "temperature",
) -> dict:
    """One curation pass; returns summary counts (tests drive this
    in-process — the clean_job convention)."""
    import os

    from pyspark.sql import functions as F

    import clean_job  # sibling module: script dir is on sys.path under spark-submit

    summary = clean_job.run(
        spark,
        input_dir,
        out_dir,
        near_dedup=near_dedup,
        pii_scrub=pii_scrub,
        lm_max_bits=lm_max_bits,
    )
    docs = spark.read.parquet(os.path.join(out_dir, "documents_clean"))

    if eval_dir is not None:
        from ocrd_anybaseocr_spark.operators.dedup import decontamination_overlap

        ev = spark.read.parquet(os.path.join(eval_dir, "documents.parquet")).select(
            "doc_id", "text"
        )
        flags = decontamination_overlap(docs.select("doc_id", "text"), ev)
        flags.write.mode("overwrite").parquet(os.path.join(out_dir, "decon_flags"))
        contaminated = (
            spark.read.parquet(os.path.join(out_dir, "decon_flags"))
            .select("doc_id")
            .distinct()
        )
        before = summary["docs_retained"]
        docs = docs.join(contaminated, "doc_id", "left_anti")
        # commit the decontaminated survivor set: the mixture agg, the
        # epoch join and the pack expansion below all consume it
        docs.write.mode("overwrite").parquet(
            os.path.join(out_dir, "documents_curated")
        )
        docs = spark.read.parquet(os.path.join(out_dir, "documents_curated"))
        summary["docs_dropped_contaminated"] = before - docs.count()

    # --- mixture weights + epoch counts over the SURVIVING corpus ------
    # the formulas are the SAME builders the oracled source_mix_* queries
    # splice (textstats.MIX_*_EXPR) — the job can never drift from the
    # driver-gated operators (review: the earlier inline copies could)
    from ocrd_anybaseocr_spark.operators.textstats import epoch_counts, mix_weights

    weights = mix_weights(docs, mode=mix)
    weights.write.mode("overwrite").parquet(os.path.join(out_dir, "mix_weights"))
    weights = spark.read.parquet(os.path.join(out_dir, "mix_weights"))

    epoch = epoch_counts(docs, weights)
    epoch.write.mode("overwrite").parquet(os.path.join(out_dir, "epoch_plan"))
    epoch = spark.read.parquet(os.path.join(out_dir, "epoch_plan"))

    # --- pack the epoch-expanded stream --------------------------------
    from ocrd_anybaseocr_spark.operators.textstats import (
        PACK_SHARDS,
        pack_plan,
    )

    # sequence(1, 0) is DESCENDING, not empty — filter zero-copy docs first
    expanded = (
        docs.select("doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"))
        .join(epoch.filter(F.col("n_copies") > 0).select("doc_id", "n_copies"), "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.explode(F.expr("sequence(1, n_copies)")).alias("copy"),
        )
    )
    base = expanded.select(
        "doc_id",
        "copy",
        F.expr("concat(cast(doc_id as string), '#', cast(copy as string))").alias("pkey"),
        # spread a doc's copies across shards so repeats of a hot doc
        # never pile into one writer
        F.expr(f"pmod(doc_id + 131 * copy, {PACK_SHARDS})").alias("shard"),
        "n_tokens",
    )
    packed = pack_plan(base, key_col="pkey").select(
        "doc_id", "copy", "shard", "pos", "n_tokens",
        "start_seq", "start_off", "end_seq",
    )
    packed.write.mode("overwrite").parquet(os.path.join(out_dir, "packed_plan"))
    packed = spark.read.parquet(os.path.join(out_dir, "packed_plan"))

    agg = packed.groupBy("shard").agg(
        F.sum("n_tokens").alias("tok"), F.max("end_seq").alias("last_seq")
    )
    # coalesce: sums over an empty packed set (everything cleaned/
    # decontaminated away) are NULL, and the summary must report zeros,
    # not crash after all outputs committed
    tot = agg.agg(
        F.coalesce(F.sum("tok"), F.lit(0)).alias("n_tokens"),
        F.coalesce(F.sum(F.expr("last_seq + 1")), F.lit(0)).alias("n_sequences"),
        F.count(F.lit(1)).alias("n_shards"),
    ).collect()[0]
    summary.update(
        {
            "epoch_rows": packed.count(),
            "epoch_tokens": int(tot.n_tokens),
            "packed_sequences": int(tot.n_sequences),
            "shards": int(tot.n_shards),
        }
    )
    return summary


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--eval", default=None, help="held-out eval-set dir for decontamination")
    p.add_argument("--near-dedup", action="store_true")
    p.add_argument("--pii-scrub", action="store_true")
    p.add_argument("--lm-max-bits", type=float, default=None)
    p.add_argument("--mix", choices=("uniform", "temperature", "none"), default="temperature")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from ocrd_anybaseocr_spark.sources.tables import SESSION_SQL_CONF

    spark = (
        SparkSession.builder.appName("ocrd_anybaseocr_spark.curate")
        .config(map=SESSION_SQL_CONF)
        .getOrCreate()
    )
    print(
        json.dumps(
            run(
                spark,
                args.input,
                args.output,
                eval_dir=args.eval,
                near_dedup=args.near_dedup,
                pii_scrub=args.pii_scrub,
                lm_max_bits=args.lm_max_bits,
                mix=args.mix,
            )
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
