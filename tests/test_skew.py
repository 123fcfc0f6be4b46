"""Skew handling (north_rule): the size-bucketed salted repartition must
spread decode cost evenly even when the scan is ordered by document and a
long-tail document contributes many oversized pages in a row."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocrd_anybaseocr_spark.operators.extract import page_index
from ocrd_anybaseocr_spark.operators.pipeline import salted_repartition
from ocrd_anybaseocr_spark.sources.tables import load_corpus


def test_salted_repartition_balances_cost(spark, corpus_dir):
    docs, blobs = load_corpus(spark, corpus_dir)
    joined = (
        page_index(docs)
        .join(blobs.select("media_ref", "width", "height"), "media_ref")
        .withColumn("_cost", F.col("width").cast("long") * F.col("height"))
    )
    n_parts = 8
    parts = (
        salted_repartition(joined, "_cost", n_parts)
        .withColumn("cost", F.col("width").cast("long") * F.col("height"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("cost").alias("cost"))
        .collect()
    )
    costs = [r.cost for r in parts]
    assert len(costs) == n_parts
    assert max(costs) / (sum(costs) / len(costs)) < 2.0, costs


def test_long_tail_generator_produces_oversized_docs():
    """The generator's long tail (FIXTURES.md §1: ~2% of docs get many
    pages and 2x-scale images) must actually exist — find the first
    oversized doc index under seed 42 and check its shape."""
    from ocrd_anybaseocr_spark.synth import _rng_for, generate_doc

    idx = next(i for i in range(500) if _rng_for(42, i).random() < 0.02)
    doc, blobs = generate_doc(42, idx)
    assert len(blobs) >= 20  # long-tail page count
    px = [b["width"] * b["height"] for b in blobs]
    # 2x-scale pages: at least 4x the minimum normal-page pixel count
    assert min(px) >= 4 * 560 * 760
