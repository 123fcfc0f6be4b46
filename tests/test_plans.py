"""Plan-shape regression tests: the properties that make the engine scale
must be visible in the physical plan (SURVEY.md §4)."""

from __future__ import annotations

import pytest

from ocrd_anybaseocr_spark.operators.extract import extract_spans
from ocrd_anybaseocr_spark.operators.interleave import interleaved_documents
from ocrd_anybaseocr_spark.plans import count_exchanges, explain_str
from ocrd_anybaseocr_spark.queries import QUERIES
from ocrd_anybaseocr_spark.sources import session_cache
from ocrd_anybaseocr_spark.sources.tables import load_corpus, load_table, scan_fanout


def pushed_filters(df) -> str:
    """The PushedFilters lines of the formatted plan (parquet scan pushdown)."""
    plan = explain_str(df)
    return "\n".join(l.strip() for l in plan.splitlines() if "PushedFilters" in l)


def test_extraction_is_narrow(spark, corpus_dir):
    """Flagship extraction: zero shuffles — per-row array_sort/transform only."""
    docs, _ = load_corpus(spark, corpus_dir)
    assert count_exchanges(extract_spans(docs)) == 0


def test_interleave_plus_extract_is_narrow(spark, sf_dir):
    """Scan → (adaptive fanout) → one MapInArrow span enumeration — no
    join, no window, no aggregation; the only exchange allowed is the
    scan-fanout round-robin for single-row-group testdata."""
    df = QUERIES["extract_reading_order"](spark, sf_dir)
    assert count_exchanges(df) <= 1, explain_str(df, "simple")
    plan = explain_str(df)
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "Window", "HashAggregate"):
        assert bad not in plan, plan


def test_gate_filters_pushed_to_scan(spark, sf_dir):
    df = QUERIES["gate_filters"](spark, sf_dir)
    pf = pushed_filters(df)
    assert "l_discount" in pf, f"discount gate not pushed into parquet scan: {pf}"


def test_scan_prunes_columns(spark, sf_dir):
    """A 2-column projection must not read all 11 lineitem columns."""
    df = QUERIES["top1_per_group"](spark, sf_dir)
    plan = explain_str(df)
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "l_shipdate" not in read_schema[0]
    assert "l_partkey" not in read_schema[0]


def test_star_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["star_join_revenue"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastHashJoin" in plan
    # the fact table must not shuffle for the dim joins: only the final
    # groupBy aggregation exchange + the orders join are allowed
    assert count_exchanges(df) <= 3, plan


def test_agg_has_partial_aggregate(spark, sf_dir):
    """Map-side combine before the shuffle (partial HashAggregate)."""
    df = QUERIES["agg_pricing_summary"](spark, sf_dir)
    plan = explain_str(df)
    assert "partial" in plan.lower(), plan


def test_session_window_single_shuffle(spark, sf_dir):
    """gaps-and-islands reuses one user_id partitioning for both windows and
    the groupBy — exactly one exchange."""
    df = QUERIES["gaps_islands_sessions"](spark, sf_dir)
    assert count_exchanges(df) == 1, explain_str(df, "simple")


def test_value_quantiles_single_shuffle_no_buffer_agg(spark, sf_dir):
    """Sort-based exact quantiles: ONE exchange on event_type (window sort
    + rank + final groupBy all reuse it), and no `percentile` aggregate —
    that one buffers whole groups in executor memory, an OOM with few huge
    groups at 100x scale (VERDICT round 2)."""
    df = QUERIES["value_quantiles"](spark, sf_dir)
    assert count_exchanges(df) == 1, explain_str(df, "simple")
    assert "percentile" not in explain_str(df).lower()


def test_boilerplate_partial_aggs_no_cartesian(spark, sf_dir):
    """Boilerplate: ONE explode pass (occurrence counts with map-side
    partials on high-entropy keys), the per-source df as a window on the
    same (source, shingle) key — never a cartesian or a nested-loop (a
    hot shingle would make that quadratic), never a second corpus-sized
    df join-back."""
    df = QUERIES["boilerplate_ratio"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in explain_str(df).lower()
    # <= 4 query exchanges + the adaptive scan-fanout round-robin (a
    # single-row-group testdata scan would otherwise run one task)
    assert count_exchanges(df) <= 5, plan
    # one Generate (explode) only — the old shape tokenized the corpus twice
    assert explain_str(df).count("Generate explode") <= 1, plan


def test_ann_brute_force_no_shuffle(spark, sf_dir):
    """Query side broadcast → corpus side streams; top-k window shuffles
    only the scored candidates (tiny)."""
    df = QUERIES["ann_brute_force"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_queries_are_equi_joins(spark, sf_dir):
    """The hyperplane-LSH family must candidate-join on (tbl, bucket) keys —
    hash/broadcast equi-joins only, never a cartesian/nested-loop product
    (the round-1 16-bucket scheme degenerated to one at scale)."""
    from ocrd_anybaseocr_spark.operators.similarity import cosine_verified_pairs
    from ocrd_anybaseocr_spark.sources.tables import load_table

    # dedup_embedding_cosine's query wrapper localCheckpoints (shared with
    # the clusters query), which truncates the visible plan — assert on
    # the raw builder, which IS the executed lineage
    emb = load_table(spark, sf_dir, "embeddings")
    plans = {
        "ann_lsh_bucketed": explain_str(QUERIES["ann_lsh_bucketed"](spark, sf_dir), "simple"),
        "dedup_embedding_cosine": explain_str(cosine_verified_pairs(emb), "simple"),
    }
    for q, plan in plans.items():
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q
        assert "HashJoin" in plan or "SortMergeJoin" in plan, q


def test_dedup_embedding_bucket_cap_is_broadcast(spark, sf_dir):
    """The over-cap bucket filter relation is bounded by tables * 2^bits
    rows → must broadcast, not shuffle the big side for it."""
    from ocrd_anybaseocr_spark.operators.similarity import cosine_verified_pairs
    from ocrd_anybaseocr_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = explain_str(cosine_verified_pairs(emb), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_ivf_assignment_is_narrow(spark, sf_dir):
    """VERDICT r3 item 2: cell assignment must be scan → project — the
    centroid matrix is a plan literal and the argmin a fold expression, so
    there is NO Exchange between the embeddings scan and the cell column
    (the old broadcast-join + row_number form shuffled N x k rows)."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        derive_ivf_k,
        ivf_assignments,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    df = ivf_assignments(emb, derive_ivf_k(500))
    assert count_exchanges(df) == 0, explain_str(df, "simple")


def test_decontaminate_eval_side_broadcast(spark, sf_dir):
    """Decontamination joins the corpus shingles against the (tiny) eval
    shingle set: eval side must broadcast; never a cartesian product."""
    df = QUERIES["decontaminate_overlap"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_exact_substring_equi_join_shape(spark, sf_dir):
    """The k-gram match join must be a hash/sort-merge equi-join on the
    hash key with the occurrence cap sharing that shuffle key — never a
    cartesian/nested-loop product."""
    df = QUERIES["dedup_exact_substring"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_clean_filter_and_repetition_partial_aggs(spark, sf_dir):
    """The cleaning filter must keep its aggregates partial (map-side
    combine before each exchange); repetition ratio is now fully NARROW
    (per-doc array sizes, no shuffle at all — asserted on the raw
    builder since the query rides a session checkpoint). Neither may
    degenerate to a cartesian/nested-loop product."""
    from ocrd_anybaseocr_spark.operators.dedup import repetition_stats
    from ocrd_anybaseocr_spark.operators.textstats import _clean_verdicts_build

    df = _clean_verdicts_build(spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in explain_str(df).lower()
    rep = repetition_stats(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    assert count_exchanges(rep) == 0, explain_str(rep, "simple")
    assert "CartesianProduct" not in explain_str(rep, "simple")


def test_pq_encode_is_narrow(spark, sf_dir):
    """PQ encoding must be scan → project like the IVF assignment: the
    PQ_M x PQ_K codebooks ship as plan literals, per-subspace argmins are
    fold expressions — NO Exchange between the embeddings scan and the
    code columns (the posexplode is also narrow)."""
    from ocrd_anybaseocr_spark.operators.similarity import pq_codes

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    df = pq_codes(emb)
    assert count_exchanges(df) == 0, explain_str(df, "simple")


def test_pq_adc_lut_broadcast_no_cartesian(spark, sf_dir):
    """The ADC scan joins the codes relation against the (queries x M x K)
    distance LUT — bounded, must broadcast; never a cartesian product."""
    session_cache.clear()
    df = QUERIES["ann_pq_adc"](spark, sf_dir)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    session_cache.clear()


def test_kmeans_assignment_is_narrow(spark, sf_dir):
    """The final k-means assignment must be scan → mapInArrow → project
    (same zero-exchange contract as IVF/PQ) — no Exchange, and never a
    row-at-a-time BatchEvalPython node."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        assignments_arrow,
        kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = kmeans_centroids(emb)
    df = assignments_arrow(emb, cents).withColumnRenamed("cell", "cluster")
    assert count_exchanges(df) == 0, explain_str(df, "simple")
    assert "BatchEvalPython" not in explain_str(df, "simple")


def test_caption_pairs_is_narrow(spark, sf_dir):
    """Caption mining: the neighbor search runs inside one projection
    over the already-sorted spans array — no window shuffle, no join.
    The only exchange allowed is the adaptive scan-fanout round-robin
    (single-row-group testdata would otherwise run one task)."""
    df = QUERIES["caption_pairs"](spark, sf_dir)
    assert count_exchanges(df) <= 1, explain_str(df, "simple")
    plan = explain_str(df)
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "Window"):
        assert bad not in plan, plan


def test_quantize_serving_projection_is_narrow(spark, sf_dir):
    """The int8 quantization SERVING projection (ranges as plan literals)
    must be scan -> project, zero exchanges — the IVF-assignment pattern."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        dim_ranges,
        quantize_int8,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    df = quantize_int8(emb, dim_ranges(emb))
    assert count_exchanges(df) == 0, explain_str(df, "simple")


def test_dsir_scoring_is_narrow_with_folded_literal(spark, sf_dir):
    """DSIR serving: the per-doc scoring over the 256 literal log-ratios
    must be scan -> project, zero exchanges (the quantize/IVF literal
    pattern), and the ratio table must appear as ONE folded array Literal
    ([..]), never a per-element CreateArray rebuilt inside the lambda."""
    from ocrd_anybaseocr_spark.operators.textstats import dsir_score

    docs = load_table(spark, sf_dir, "documents")
    df = dsir_score(docs, list(range(256)))
    assert count_exchanges(df) == 0, explain_str(df, "simple")
    optimized = explain_str(df, "extended").replace(" ", "")
    assert "element_at([0,1,2," in optimized, optimized[:2000]


def test_bm25_broadcasts_stats_and_prefilters_terms(spark, sf_dir):
    """BM25: the idf/corpus-stats sides ride broadcast joins (never a
    shuffled join against the token stream) and the probe-term filter runs
    BEFORE the explode (the explode emits ~matches rows, not ~tokens)."""
    df = QUERIES["bm25_topk"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "explode(filter(split(" in plan, plan


def test_semantic_assignment_is_narrow_decisions_one_exchange(spark, sf_dir):
    """SemDeDup: the assignment relation (vec_id, v_se, cluster, d2) must
    be scan -> mapInArrow -> project (zero exchanges — the kmeans/IVF
    contract; one vectorized argmin per batch, never a row-at-a-time
    BatchEvalPython). The full decisions pass is that pass + exactly ONE
    exchange (hash by cluster) + a grouped Arrow batch — never a
    pair-blow-up join."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        kmeans_centroids,
        semantic_assignments,
        semantic_dedup_decisions,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    asg = semantic_assignments(emb, kmeans_centroids(emb))
    assert count_exchanges(asg) == 0, explain_str(asg, "simple")
    assert "BatchEvalPython" not in explain_str(asg, "simple")
    df = semantic_dedup_decisions(asg)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    assert count_exchanges(df) == 1, plan


def test_bloom_ingest_no_cartesian_scalar_geometry_broadcast(spark, sf_dir):
    """Bloom ingest: the only nested-loop join allowed is the broadcast
    1-row filter-geometry attach (the scalar-attach convention); the
    word probe and the exact verify are equi-joins."""
    df = QUERIES["dedup_bloom_ingest"](spark, sf_dir)
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row words attach


def test_pack_sequences_single_shard_shuffle(spark, sf_dir):
    """Sequence packing must be ONE exchange on the shard key (row_number
    + running cumsum + final projection all reuse it) — never a global
    single-partition sort."""
    df = QUERIES["pack_sequences"](spark, sf_dir)
    assert count_exchanges(df) == 1, explain_str(df, "simple")
    assert "SinglePartition" not in explain_str(df), explain_str(df)


def test_cdc_chunking_narrow_until_key_agg(spark, sf_dir):
    """CDC chunking is a per-doc array expression: no cartesian, and the
    only exchanges are the chunk-key count, its join back, and the final
    per-doc agg. Asserts on the RAW builders (the registered queries ride
    the checkpointed _cdc_rows_cached relation, whose explain is a scan —
    the CLAUDE.md cached-lineage rule)."""
    from ocrd_anybaseocr_spark.operators.dedup import (
        cdc_chunk_rows,
        cdc_shared_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    ch = cdc_chunk_rows(docs)
    assert count_exchanges(ch) == 0, explain_str(ch, "simple")
    pairs = cdc_shared_pairs(docs)
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan, plan
    # regression ceiling: distinct + DF-cap agg + cap join + keyed
    # self-join sides + per-pair agg — a repartition/window sneaking in
    # pushes past this (review: the rewrite had dropped the bound)
    assert count_exchanges(pairs) <= 7, explain_str(pairs, "simple")


def test_bpe_tokenize_zero_exchanges(spark, sf_dir):
    """BPE encode is embarrassingly parallel: scan → narrow flat-text
    projection → Arrow-batched mapInPandas, no shuffle anywhere."""
    df = QUERIES["bpe_tokenize"](spark, sf_dir)
    assert count_exchanges(df) == 0, explain_str(df, "simple")


def test_hard_negatives_capped_broadcast_no_cartesian(spark, sf_dir):
    """Raw-lineage hard-negative mining: the over-cap bucket filter is a
    broadcast side of the candidate join, and nothing is cartesian."""
    from ocrd_anybaseocr_spark.operators.similarity import hard_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    plan = explain_str(hard_negatives(emb))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_embedding_outliers_broadcast_and_group_limit(spark, sf_dir):
    """Outlier ranking: centroids ride a broadcast join (labels x dim is
    tiny) and the rank<=N filter must rewrite to WindowGroupLimit so a
    hot label is pre-limited per partition BEFORE the exchange."""
    df = QUERIES["embedding_outliers"](spark, sf_dir)
    plan = explain_str(df)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan[:3000]
    assert "WindowGroupLimit" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_dedup_paragraph_partial_agg_no_window(spark, sf_dir):
    """Paragraph dedup's canonical-copy pass must be a partial-aggregable
    min (map-side combine absorbs a 10^8-copy boilerplate chunk), never a
    row_number window over the raw chunk stream, and never a cartesian."""
    df = QUERIES["dedup_paragraph"](spark, sf_dir)
    plan = explain_str(df)
    assert "partial_min" in plan or "partial min" in plan.lower(), plan[:3000]
    assert "Window" not in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_zipf_topk_window_group_limit(spark, sf_dir):
    """The global top-K must pre-limit per partition BEFORE the
    single-partition merge — Catalyst compiles the rank<=K filter to
    TakeOrderedAndProject (per-partition top-K heap + merge; on an empty
    window spec it beats even WindowGroupLimit) — so the merge sees
    n_parts*K rows, never the vocabulary."""
    df = QUERIES["zipf_topk"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_cms_heavy_hitters_plan(spark, sf_dir):
    """The sketch build must be a partial agg (map-side combine collapses
    each task's stream to <= D*W cells before the shuffle), the exact
    top-K must pre-limit per partition (TakeOrderedAndProject /
    WindowGroupLimit), and the K*D probe rows must broadcast against the
    sketch — never the reverse."""
    df = QUERIES["cms_heavy_hitters"](spark, sf_dir)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan, plan[:3000]
    assert "BroadcastHashJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan


def test_asof_join_events_plan(spark, sf_dir):
    """The as-of join must be the union-tag single-window plan: exactly
    ONE exchange (hashpartitioning on user_id for the window) — no join
    operator at all, no range/theta explosion."""
    df = QUERIES["asof_join_events"](spark, sf_dir)
    assert count_exchanges(df) == 1, explain_str(df, "simple")
    plan = explain_str(df)
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, plan[:3000]
    # the event-type gate reaches the parquet scan
    assert "In(event_type" in plan, plan[:3000]


def test_pagerank_iteration_shape(spark):
    """Each PR round must be an equi-join + partial agg — no cartesian or
    nested-loop anywhere in the unrolled 3-round lineage."""
    from ocrd_anybaseocr_spark.operators.dedup import pagerank_ranks

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    plan = explain_str(pagerank_ranks(edges))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial" in plan.lower()


def test_range_join_window_plan(spark, sf_dir):
    """Same union-tag contract as the as-of join: ONE exchange, no join
    operator, event-type gate pushed to the scan."""
    df = QUERIES["range_join_window"](spark, sf_dir)
    assert count_exchanges(df) == 1, explain_str(df, "simple")
    plan = explain_str(df)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "In(event_type" in plan, plan[:3000]


def test_pca_gram_and_containment_plan_shapes(spark, sf_dir):
    """PCA: the gram build must keep its aggregate partial (map-side
    collapse to <= dim^2 cells is the whole scale story) and the
    iteration must never degenerate to a cartesian. Containment: the
    fingerprint self-join must be a hash/sort-merge equi-join with
    partial aggs, like every other dedup candidate generator."""
    for name in ("embedding_pca_top1", "dedup_containment"):
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        assert "CartesianProduct" not in plan, name
        assert "partial" in plan.lower(), name
    plan = explain_str(QUERIES["dedup_containment"](spark, sf_dir), "simple")
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_funnel_single_user_shuffle(spark, sf_dir):
    """All three funnel stage windows + the per-user agg must ride ONE
    user_id exchange — no joins, no second event-stream scan."""
    df = QUERIES["funnel_conversion"](spark, sf_dir)
    assert count_exchanges(df) <= 2, explain_str(df, "simple")
    plan = explain_str(df)
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan


def _round_robin_sizes(df) -> list[int]:
    import re

    return [int(n) for n in re.findall(r"RoundRobinPartitioning\((\d+)\)", explain_str(df))]


def test_scan_fanout_one_task_per_slot(spark, sf_dir):
    """The documents scan (one row group) fans out to one round-robin
    partition per task slot — 4 on the fixture session, not its 8 shuffle
    partitions — in a consumer from each module that scans through
    scan_fanout: queries.py, operators/dedup.py, operators/textstats.py."""
    for name in ("extract_reading_order", "dedup_exact_substring", "boilerplate_ratio"):
        sizes = _round_robin_sizes(QUERIES[name](spark, sf_dir))
        assert sizes and set(sizes) == {4}, (name, sizes)


def _row_group_table(path, name: str, row_groups: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 4 * row_groups
    t = pa.table({"doc_id": [f"d{i}" for i in range(n)], "text": ["x"] * n})
    pq.write_table(t, str(path / f"{name}.parquet"), row_group_size=4)


def test_scan_fanout_width_without_declared_slots(tmp_path):
    """A session that declares no task slots (a cluster submit sets no
    spark.default.parallelism) fans out to the shuffle-partition count and
    passes through from half that many row groups."""
    from types import SimpleNamespace

    conf = {"spark.sql.shuffle.partitions": "8"}
    cluster = SimpleNamespace(conf=SimpleNamespace(get=lambda k, d=None: conf.get(k, d)))
    df = SimpleNamespace(repartition=lambda n: ("round-robin", n))
    for name, groups in (("one", 1), ("two", 2), ("four", 4)):
        _row_group_table(tmp_path, name, groups)
    assert scan_fanout(df, cluster, str(tmp_path), "one") == ("round-robin", 8)
    assert scan_fanout(df, cluster, str(tmp_path), "two") == ("round-robin", 8)
    assert scan_fanout(df, cluster, str(tmp_path), "four") is df


def test_scan_fanout_passes_through_split_tables(spark, tmp_path):
    """On the fixture session (4 slots) a table with 2 row groups already
    splits into enough scan tasks: no Exchange is added. One row group
    fans out to 4."""
    _row_group_table(tmp_path, "split", 2)
    _row_group_table(tmp_path, "whole", 1)
    for name, sizes in (("split", []), ("whole", [4])):
        df = scan_fanout(load_table(spark, str(tmp_path), name), spark, str(tmp_path), name)
        assert _round_robin_sizes(df) == sizes, name
        assert count_exchanges(df) == len(sizes), name
