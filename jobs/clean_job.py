"""Cluster entry point: spark-submit job for the corpus-cleaning pass.

    spark-submit --py-files engine.zip jobs/clean_job.py \
        --input  <dir containing documents.parquet> \
        --output <output root>

Writes two tables under --output:

- ``clean_decisions``: one row per document — (doc_id, reasons, retained),
  the full C4/Gopher rule-stack verdict (operators/textstats.py
  q_corpus_clean_filter), so dropped docs stay auditable;
- ``documents_clean``: the retained subset of the input table, the corpus
  a training pipeline feeds downstream (e.g. jobs/extract_job.py).

Optional stages (flags, applied in this order): ``--lm-max-bits`` drops
rule-retained docs above a unigram-LM bits/token ceiling; ``--near-dedup``
keeps one retained representative per MinHash-verified near-dup cluster;
``--pii-scrub`` redacts emails/IPv4/phones in the written text.

Composable ahead of extraction: clean first, extract from documents_clean.
The decision query's joins are partial-agg + hash-join shapes (plan-
asserted in tests); the retained join is a semi-join on doc_id.
"""

from __future__ import annotations

import argparse
import json


def run(
    spark, input_dir: str, out_dir: str, near_dedup: bool = False,
    pii_scrub: bool = False, lm_max_bits: float | None = None,
) -> dict:
    """One cleaning pass; returns summary counts. Separated from main()
    so tests drive it in-process.

    ``near_dedup`` adds the MinHash-LSH near-duplicate stage: of each
    verified near-dup cluster (operators/dedup.py q_dedup_clusters —
    LSH candidates → exact-Jaccard verify → connected components) only
    ONE RETAINED representative survives — the min doc_id among the
    cluster's rule-retained members, not the global cluster canonical: a
    cluster whose global canonical was rule-dropped must still keep one
    member, and content that failed the rules must not resurrect. Rule
    verdicts stay per-doc in clean_decisions; the near-dup drop is
    recorded as its own count since it is a cross-doc decision."""
    import os

    from pyspark.sql import functions as F

    from ocrd_anybaseocr_spark.operators.textstats import q_corpus_clean_filter

    decisions = q_corpus_clean_filter(spark, input_dir)
    decisions.write.mode("overwrite").parquet(os.path.join(out_dir, "clean_decisions"))
    # read the COMMITTED decisions (decide once — the decision lineage
    # includes two aggregates; recomputing it for the join would run the
    # 3-gram stats twice)
    committed = spark.read.parquet(os.path.join(out_dir, "clean_decisions"))
    docs = spark.read.parquet(os.path.join(input_dir, "documents.parquet"))
    # pin input immutability (VERDICT r4 item 5): retention and the
    # near-dedup clusters both re-read the INPUT dir; if the documents
    # table changed between the decisions commit and this point, they
    # would silently diverge from the committed verdicts. Fingerprint =
    # (row count, max doc_id) on both sides — cheap aggregates, and any
    # append/delete/rewrite that changes the doc set trips at least one.
    fp_docs, fp_dec = (
        df.agg(F.count(F.lit(1)).alias("n"), F.max("doc_id").alias("mx")).collect()[0]
        for df in (docs, committed)
    )
    if (fp_docs.n, fp_docs.mx) != (fp_dec.n, fp_dec.mx):
        raise RuntimeError(
            f"input documents changed under the cleaning pass: committed "
            f"decisions cover {fp_dec.n} docs (max id {fp_dec.mx}) but the "
            f"input table now has {fp_docs.n} (max id {fp_docs.mx}) — "
            "rerun the pass on the current input"
        )
    rule_kept_ids = committed.filter(F.col("retained")).select("doc_id")
    n_lm_dropped = None
    if lm_max_bits is not None:
        # unigram-LM tail cut (Gopher/CCNet shape): the model is estimated
        # on the FULL input corpus (rule-dropped docs still inform the
        # distribution — dropping them first would bias probabilities
        # toward the survivors), then rule-retained docs above the
        # bits/token ceiling drop. Runs BEFORE near-dedup so cluster
        # representatives are chosen among LM survivors.
        from ocrd_anybaseocr_spark.operators.textstats import q_lm_cross_entropy

        lm_ok = (
            q_lm_cross_entropy(spark, input_dir)
            .filter(F.col("ce_bits") <= lm_max_bits)
            .select("doc_id")
        )
        before = rule_kept_ids.count()
        # checkpoint the surviving-id relation (ids only — tiny): the LM
        # lineage holds two full-corpus aggregation shuffles, and WITHOUT
        # truncation it would re-run for the count below, the near-dedup
        # representative join AND the final write (review r5 — the same
        # decide-once rationale as the committed decisions parquet)
        rule_kept_ids = rule_kept_ids.join(lm_ok, "doc_id", "leftsemi").localCheckpoint(
            eager=True
        )
        n_after_lm = rule_kept_ids.count()
        n_lm_dropped = before - n_after_lm
    retained = docs.join(rule_kept_ids, "doc_id", "leftsemi")
    n_rule_kept = None
    if near_dedup:
        from ocrd_anybaseocr_spark.operators.dedup import q_dedup_clusters

        # counts and the representative choice come from the committed
        # decisions, NOT the retained join lineage — the docs⋈decisions
        # semi-join then runs exactly once, in the final write (ADVICE r4)
        n_rule_kept = n_after_lm if n_lm_dropped is not None else rule_kept_ids.count()
        clusters = q_dedup_clusters(spark, input_dir)
        representative = (
            clusters.join(rule_kept_ids, "doc_id", "leftsemi")
            .groupBy("cluster_id")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        retained = retained.join(representative, "doc_id", "leftsemi")
    if pii_scrub:
        # redact in the SAME pass as the final write (column expressions —
        # no extra job); counts stay auditable in the decisions-style
        # summary. Rule order is the PII_RULES order, identical to the
        # standalone pii_scrub query.
        from ocrd_anybaseocr_spark.operators.textstats import PII_RULES

        scrubbed = F.col("text")
        for _, pat, repl in PII_RULES:
            scrubbed = F.regexp_replace(scrubbed, pat, repl)
        retained = retained.withColumn("text", scrubbed)
    retained.write.mode("overwrite").parquet(os.path.join(out_dir, "documents_clean"))
    n_in = int(fp_docs.n)
    n_kept = spark.read.parquet(os.path.join(out_dir, "documents_clean")).count()
    out = {"docs_in": n_in, "docs_retained": n_kept, "docs_dropped": n_in - n_kept}
    if near_dedup:
        out["docs_dropped_near_dup"] = n_rule_kept - n_kept
    if n_lm_dropped is not None:
        out["docs_dropped_lm"] = n_lm_dropped
    return out


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument(
        "--near-dedup", action="store_true",
        help="also drop MinHash-verified near-duplicates (keep each "
             "cluster's min-doc_id canonical)",
    )
    p.add_argument(
        "--lm-max-bits", type=float, default=None,
        help="drop rule-retained docs whose unigram-LM cross-entropy "
             "exceeds this many bits/token (lm_cross_entropy operator)",
    )
    p.add_argument(
        "--pii-scrub", action="store_true",
        help="redact emails/IPv4/phone runs in documents_clean "
             "(operators/textstats.py PII_RULES order)",
    )
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from ocrd_anybaseocr_spark.sources.tables import SESSION_SQL_CONF

    spark = (
        SparkSession.builder.appName("ocrd_anybaseocr_spark.clean")
        .config(map=SESSION_SQL_CONF)
        .getOrCreate()
    )
    print(json.dumps(run(spark, args.input, args.output, near_dedup=args.near_dedup,
                     pii_scrub=args.pii_scrub, lm_max_bits=args.lm_max_bits)))
    spark.stop()


if __name__ == "__main__":
    main()
