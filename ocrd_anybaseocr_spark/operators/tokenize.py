"""BPE tokenizer over the interleaved corpus — the learned-subword sibling
of textstats' regex token counting, and the vocabulary a `pack_sequences`
run would tokenize with.

Scale shape (100 TB):
- FIT: one word-count shuffle (partial-agg groupBy on word) + a BOUNDED
  top-V driver fetch (V = BPE_TOP_WORDS, the k x dim convention shared
  with k-means/PQ/dsir) + a driver-side merge loop over that bounded
  vocabulary — the standard BPE formulation trains on the word-frequency
  dict, never the corpus itself, so corpus size only affects the one
  partial-agg pass.
- ENCODE: merges broadcast in the task closure (64 pairs), applied by a
  ``mapInArrow`` stage — ZERO exchanges (plan-asserted): at any
  scale tokenization runs scan-speed, embarrassingly parallel.

Algorithm lives in kernels/bpe.py, shared verbatim with the materialized
oracle (oracle.materialize_expected) — the driver gate therefore checks
the distributed plumbing (word-count shuffle, bounded fetch, Arrow
encode), not a reimplementation. Reference: no tokenizer exists there;
public algorithm per Sennrich et al. 2016 / GPT-2 encoder.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernels.bpe import BPE_MERGES, BPE_TOP_WORDS, bpe_encode_text, bpe_train
from ..sources.session_cache import shared
from ..sources.tables import load_corpus

# reading-order flat text of one interleaved document: every TEXT-BEARING
# span (text/heading/marginalia/table — anything with a text payload)
# sorted by offset, the same struct-sort order extract_spans uses
# (offsets are unique within a document by synth construction)
FLAT_TEXT_EXPR = (
    "concat_ws(' ', transform(filter(array_sort(transform(spans,"
    " s -> struct(s.offset as offset, s.kind as kind, s.text as text))),"
    " s -> s.text is not null), s -> s.text))"
)


def flat_text(docs: DataFrame) -> DataFrame:
    """(doc_id, text): reading-order concatenation of a document's text
    spans — narrow, one array expression per row."""
    return docs.select("doc_id", F.expr(FLAT_TEXT_EXPR).alias("text"))


def bpe_fit_stats(
    spark: SparkSession, corpus_dir: str
) -> tuple[list[tuple[str, str]], int]:
    """(merges, fit_coverage_ppm): learn the merge table from the corpus
    word frequencies — distributed word count -> deterministic top-V fetch
    (count desc, word asc — a TakeOrdered, not a global sort) ->
    kernels.bpe.bpe_train on the bounded vocabulary. Memoized per
    (session, corpus) like the other build-once/serve-many indexes.

    BPE_TOP_WORDS is a CAP, and the repo convention is no silent caps
    (VERDICT r6 item 5): fit_coverage_ppm = exact parts-per-million of
    corpus word OCCURRENCES whose word type made the fitted top-V —
    the fraction of the corpus the learned merges actually saw. The
    total-occurrence count is a narrow per-doc size() partial agg (no
    second word shuffle); covered mass is summed from the already-fetched
    top rows; the division is exact int (x * 1e6 div total), identical in
    the single-process oracle twin."""

    def build():
        docs, _ = load_corpus(spark, corpus_dir)
        ft = flat_text(docs)
        top = (
            ft.select(F.explode(F.split("text", " ")).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("word"))
            .limit(BPE_TOP_WORDS)
            .collect()
        )
        total = ft.agg(
            F.sum(F.size(F.split("text", " "))).alias("t")
        ).collect()[0]["t"]
        covered = sum(int(r.cnt) for r in top)
        cov_ppm = (covered * 1_000_000) // int(total) if total else 0
        return (
            bpe_train([(r.word, r.cnt) for r in top], n_merges=BPE_MERGES),
            cov_ppm,
        )

    return shared("bpe_merges", spark, (corpus_dir,), build)


def bpe_fit(spark: SparkSession, corpus_dir: str) -> list[tuple[str, str]]:
    """The merge table alone (bpe_fit_stats' first element)."""
    return bpe_fit_stats(spark, corpus_dir)[0]


def bpe_train_df(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The learned merge table as a relation: (merge_rank, pair_left,
    pair_right, merged, fit_coverage_ppm). The coverage stat rides every
    row (constant) so the top-V cap's observed corpus coverage is
    impossible to miss wherever the merge table goes."""
    merges, cov_ppm = bpe_fit_stats(spark, corpus_dir)
    return spark.createDataFrame(
        [(i, l, r, l + r, cov_ppm) for i, (l, r) in enumerate(merges)],
        "merge_rank bigint, pair_left string, pair_right string,"
        " merged string, fit_coverage_ppm bigint",
    )


def bpe_tokenize_df(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """(doc_id, n_words, n_tokens, tokens_md5) per document under the
    corpus-learned vocabulary. The token sequence itself is pinned by the
    md5 digest (exact bytes, not just counts); the encode is one
    mapInArrow pass over the narrow (doc_id, text) projection — zero
    exchanges."""
    merges = bpe_fit(spark, corpus_dir)

    def stage(batches):
        import pyarrow as pa

        for batch in batches:
            texts = batch.column("text").to_pylist()
            toks = [bpe_encode_text(t, merges) for t in texts]
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pa.array([len(t.split(" ")) for t in texts], type=pa.int64()),
                    pa.array([len(ts) for ts in toks], type=pa.int64()),
                    pa.array(
                        [hashlib.md5(" ".join(ts).encode()).hexdigest() for ts in toks],
                        type=pa.string(),
                    ),
                ],
                names=["doc_id", "n_words", "n_tokens", "tokens_md5"],
            )

    docs, _ = load_corpus(spark, corpus_dir)
    return flat_text(docs).mapInArrow(
        stage,
        "doc_id string not null, n_words bigint not null,"
        " n_tokens bigint not null, tokens_md5 string not null",
    )
