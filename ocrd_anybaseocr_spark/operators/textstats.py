"""Text analysis suite: language-ID heuristic, quality scoring, token
counting, document fingerprinting — all JVM-side column expressions
(regexp/split/md5), no UDFs, so they run at scan speed on 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..hexint import hex_int_duck, md5_int_spark
from ..sources.session_cache import shared
from ..sources.tables import load_table, scan_fanout

def _docs_fanout(spark: SparkSession, sf_dir: str):
    """The documents table with the adaptive scan fanout (see
    sources.tables.scan_fanout) — goes through this module's load_table
    so tests that monkeypatch it keep working."""
    return scan_fanout(load_table(spark, sf_dir, "documents"), spark, sf_dir, "documents")


# marker stopwords per language (whole-word regex, identical RE semantics in
# Java regex and RE2 for this simple alternation)
_MARKERS = {
    "en": ["the", "and", "of", "to"],
    "de": ["der", "die", "und", "das"],
    "fr": ["le", "la", "et", "les"],
    "es": ["el", "los", "las", "que"],
    "zh": ["de", "shi", "bu", "le"],
}
_LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # deterministic tie-break order


def _hits_expr(words: list[str]) -> str:
    pat = "|".join(words)
    return f"regexp_count(concat(' ', text, ' '), ' ({pat}) ')"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword heuristic language ID: marker-token hit counts per
    language, argmax with fixed tie order."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs
    for lang in _LANG_ORDER:
        d = d.withColumn(f"hits_{lang}", F.expr(_hits_expr(_MARKERS[lang])).cast("bigint"))
    # argmax via greatest + first-match case (deterministic tie order)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in _LANG_ORDER])
    pred = None
    for lang in _LANG_ORDER:
        cond = F.col(f"hits_{lang}") == best
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return d.select(
        "doc_id",
        pred.alias("pred_lang"),
        *[F.col(f"hits_{lang}") for lang in _LANG_ORDER],
    )


def _oracle_lang_id() -> str:
    hit_cols = ",\n             ".join(
        f"CAST(len(regexp_extract_all(' ' || text || ' ', ' ({'|'.join(_MARKERS[lang])}) '))"
        f" AS BIGINT) AS hits_{lang}"
        for lang in _LANG_ORDER
    )
    best = f"greatest({', '.join('hits_' + lang for lang in _LANG_ORDER)})"
    pred = "CASE " + " ".join(
        f"WHEN hits_{lang} = {best} THEN '{lang}'" for lang in _LANG_ORDER
    ) + " END"
    return f"""
    WITH h AS (
      SELECT doc_id,
             {hit_cols}
      FROM documents
    )
    SELECT doc_id, {pred} AS pred_lang,
           {', '.join('hits_' + lang for lang in _LANG_ORDER)}
    FROM h
    """


ORACLE_LANG_ID = _oracle_lang_id()


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: length, token count, mean token length, stopword
    ratio, non-alpha ratio; composite score rounded to 6 dp."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.expr("size(split(text, ' '))").cast("bigint")
    n_alpha = F.expr("length(regexp_replace(text, '[^a-z]', ''))").cast("bigint")
    n_len = F.length("text").cast("bigint")
    stop_hits = F.expr(_hits_expr(_MARKERS["en"])).cast("bigint")
    d = (
        docs.select("doc_id", n_len.alias("n_len"), n_tokens.alias("n_tokens"),
                    n_alpha.alias("n_alpha"), stop_hits.alias("stop_hits"))
        .withColumn("mean_tok_len", F.round(F.col("n_alpha") / F.col("n_tokens"), 6))
        .withColumn("stop_ratio", F.round(F.col("stop_hits") / F.col("n_tokens"), 6))
        .withColumn(
            "quality",
            F.round(
                F.least(F.col("n_tokens") / 100.0, F.lit(1.0)) * 0.5
                + F.col("stop_hits") / F.col("n_tokens") * 0.5,
                6,
            ),
        )
    )
    return d


ORACLE_QUALITY = f"""
    WITH b AS (
      SELECT doc_id,
             CAST(length(text) AS BIGINT) AS n_len,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST(len(regexp_extract_all(' ' || text || ' ',
                  ' ({'|'.join(_MARKERS['en'])}) ')) AS BIGINT) AS stop_hits
      FROM documents
    )
    SELECT doc_id, n_len, n_tokens, n_alpha, stop_hits,
           round(n_alpha / CAST(n_tokens AS DOUBLE), 6) AS mean_tok_len,
           round(stop_hits / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
           round(least(n_tokens / 100.0, 1.0) * 0.5
                 + stop_hits / CAST(n_tokens AS DOUBLE) * 0.5, 6) AS quality
    FROM b
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens
    ([a-z]+ runs and single non-space non-letter chars)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("bigint").alias("ws_tokens"),
        F.expr("regexp_count(text, '[a-z]+')").cast("bigint").alias("alpha_runs"),
        F.expr("regexp_count(text, '[a-z]+|[^a-z ]')").cast("bigint").alias("bpe_ish_tokens"),
    )


ORACLE_TOKEN_COUNT = """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS alpha_runs,
           CAST(len(regexp_extract_all(text, '[a-z]+|[^a-z ]')) AS BIGINT) AS bpe_ish_tokens
    FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of whitespace-normalized text + md5 of the
    sorted distinct word set (order-insensitive content fingerprint)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = "trim(regexp_replace(text, ' +', ' '))"
    wordset = "concat_ws(' ', array_sort(array_distinct(split(text, ' '))))"
    return docs.select(
        "doc_id",
        F.expr(f"md5(cast({norm} as binary))").alias("fp_norm"),
        F.expr(f"md5(cast({wordset} as binary))").alias("fp_wordset"),
    )


ORACLE_FINGERPRINT = """
    SELECT doc_id,
           md5(trim(regexp_replace(text, ' +', ' ', 'g'))) AS fp_norm,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fp_wordset
    FROM documents
"""

# winnowing parameters: k-gram size and window width (MOSS defaults scaled
# to word tokens) — every window of WINNOW_W consecutive k-gram hashes
# contributes its minimum, so any shared passage of >= k + WINNOW_W - 1
# words between two documents shares at least one fingerprint.
WINNOW_K = 4
WINNOW_W = 5

def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Rolling-hash document fingerprinting by WINNOWING (the MOSS
    algorithm): hash every WINNOW_K-word k-gram (md5 prefix → int), take
    the minimum of each sliding window of WINNOW_W hashes, keep the
    distinct minima sorted. One narrow mapInArrow pass — no explode, no
    shuffle; the per-k-gram md5/slice-min chain runs as hashlib + numpy
    sliding-window mins per document instead of interpreted HOF lambdas
    per element (~3x at sf1.0; identical integers: the first 8 md5 hex
    chars ARE the first 4 digest bytes big-endian, ' '.join == concat_ws,
    str.split(' ') == split(text, ' ') including empty tokens, and
    np.unique == array_sort∘array_distinct on ints). Guarantee: two
    documents sharing ANY passage of at least WINNOW_K + WINNOW_W - 1
    words share at least one fingerprint (both contain the identical
    window of k-gram hashes, so both select its minimum)."""
    K, W = WINNOW_K, WINNOW_W
    id_type = dict(docs.dtypes)["doc_id"]

    def _fps(batches):
        import pyarrow as pa
        import hashlib

        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        md5 = hashlib.md5
        empty = np.empty(0, dtype=np.int64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            per_doc = []
            for t in batch.column("text").to_pylist():
                ws = t.split(" ")
                n = len(ws)
                if n < K:
                    per_doc.append(empty)
                    continue
                kg = np.fromiter(
                    (
                        int.from_bytes(
                            md5(" ".join(ws[i : i + K]).encode()).digest()[:4], "big"
                        )
                        for i in range(n - K + 1)
                    ),
                    dtype=np.int64,
                    count=n - K + 1,
                )
                if len(kg) >= W:
                    wins = sliding_window_view(kg, W).min(axis=1)
                else:
                    wins = kg.min(keepdims=True)
                per_doc.append(np.unique(wins))
            offs = np.zeros(len(per_doc) + 1, dtype=np.int32)
            np.cumsum([len(u) for u in per_doc], out=offs[1:])
            values = np.concatenate(per_doc) if per_doc else empty
            fps = pa.ListArray.from_arrays(pa.array(offs), pa.array(values))
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), fps], names=["doc_id", "fps"]
            )

    return docs.select("doc_id", "text").mapInArrow(
        _fps, f"doc_id {id_type}, fps array<bigint>"
    )


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints as a driver query: fingerprint count + a
    canonical digest of the set (the set itself is checked in pytest).
    Rides the session-checkpointed winnow relation shared with
    dedup_containment — the O(words) md5/slice-min chain runs once per
    driver pass, not once per consumer."""
    return _winnow_fp_cached(spark, sf_dir).select(
        "doc_id",
        F.expr("size(fps)").cast("bigint").alias("n_fp"),
        F.expr(
            "md5(cast(concat_ws(',', transform(fps, x -> cast(x as string))) as binary))"
        ).alias("fp_digest"),
    )


# corpus-level boilerplate criterion (the C4 "line repeated across
# documents" rule re-expressed over word 3-grams, since this corpus has no
# line structure): a shingle occurring in >= BOILER_DF documents of the
# SAME source is boilerplate. north_rule names "HTML boilerplate strip" as
# the extraction shape — this is its text-table analog: per-document
# boilerplate mass a cleaning pass would strip.
BOILER_DF = 2


def q_boilerplate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate mass: shingle occurrences whose per-source
    document frequency >= BOILER_DF, as count + ratio.

    Plan shape (asserted in test_plans): ONE explode pass collapses to
    per-(source, shingle, doc_id) occurrence counts (map-side partial),
    the per-source document frequency is a window over the SAME
    (source, shingle) key — no second explode of the corpus and no
    corpus-sized df join-back (the former shape tokenized every document
    twice and re-shuffled the full shingle stream through the df join) —
    and the final per-doc agg is a bounded partial. No step is quadratic
    in documents and no corpus-sized relation is broadcast."""
    from .dedup import shingle_explode

    docs = _docs_fanout(spark, sf_dir)
    sh = shingle_explode(docs, "source")
    occ = sh.groupBy("source", "shingle", "doc_id").agg(
        F.count(F.lit(1)).alias("occ")
    )
    wdf = occ.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("source", "shingle"))
    )
    per = (
        wdf.groupBy("doc_id")
        .agg(
            F.sum("occ").alias("n_shingles"),
            F.sum(F.when(F.col("df") >= BOILER_DF, F.col("occ")).otherwise(0))
            .cast("bigint")
            .alias("n_boiler"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_boiler", F.lit(0)).cast("bigint").alias("n_boiler"),
            F.round(
                F.coalesce("n_boiler", F.lit(0))
                / F.greatest(F.coalesce("n_shingles", F.lit(0)), F.lit(1)),
                6,
            ).alias("boiler_ratio"),
        )
    )


from .dedup import shingles_cte_duck as _shingles_cte_duck  # noqa: E402

ORACLE_BOILERPLATE = f"""
    WITH sh AS ({_shingles_cte_duck("source")}
    ), dfq AS (
      SELECT source, shingle, COUNT(DISTINCT doc_id) AS df
      FROM sh GROUP BY source, shingle
    ), per AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             SUM(CASE WHEN dfq.df >= {BOILER_DF} THEN 1 ELSE 0 END) AS n_boiler
      FROM sh s JOIN dfq USING (source, shingle)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(per.n_boiler, 0) AS BIGINT) AS n_boiler,
           round(coalesce(per.n_boiler, 0)
                 / CAST(greatest(coalesce(per.n_shingles, 0), 1) AS DOUBLE), 6)
             AS boiler_ratio
    FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
"""


# DuckDB CTE chain ending in wn(doc_id, wins): the per-window minimum
# k-gram hashes, shared by the fingerprint and containment oracles
_WINNOW_WINS_CTE = f"""w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), kgs AS (
      SELECT doc_id,
             CASE WHEN len(words) >= {WINNOW_K} THEN
               list_transform(generate_series(0, len(words) - {WINNOW_K}),
                 i -> {hex_int_duck(f"md5(array_to_string(words[i + 1:i + {WINNOW_K}], ' '))", 8)})
             ELSE [] END AS kg
      FROM w
    ), wn AS (
      SELECT doc_id,
             CASE WHEN len(kg) >= {WINNOW_W} THEN
               list_transform(generate_series(0, len(kg) - {WINNOW_W}),
                 j -> list_min(kg[j + 1:j + {WINNOW_W}]))
             ELSE (CASE WHEN len(kg) > 0 THEN [list_min(kg)] ELSE [] END) END AS wins
      FROM kgs
    )"""

ORACLE_FINGERPRINT_WINNOW = f"""
    WITH {_WINNOW_WINS_CTE}
    SELECT doc_id,
           CAST(len(list_distinct(wins)) AS BIGINT) AS n_fp,
           md5(array_to_string(list_sort(list_distinct(wins)), ',')) AS fp_digest
    FROM wn
"""


# ---------------------------------------------------------------------------
# Composite corpus cleaning filter (C4/Gopher rule stack)
# ---------------------------------------------------------------------------

# union of every language's marker words — the filter's stopword rule is
# language-agnostic ("contains function words of ANY supported language"),
# single source for both engines
_ALL_MARKERS = list(dict.fromkeys(w for lang in _LANG_ORDER for w in _MARKERS[lang]))
CLEAN_MIN_TOKENS = 20  # Gopher word-count floor (scaled to this corpus)
CLEAN_STOP_RATIO_PCT = 5  # >= 5% marker-word mass (C4 'contains stopwords')
CLEAN_TOK_LEN_LO = 2  # Gopher mean-word-length band
CLEAN_TOK_LEN_HI = 10
CLEAN_MAX_DUP_PPM = 100_000  # Gopher duplicate-3-gram mass cap (10%)

# marker-word COUNT by filtering the token list — NOT the ' (pat) '
# regex convention _hits_expr uses: that regex consumes the trailing
# space, so adjacent markers ("of the") count once — harmless for
# lang-ID *ranking*, but this count is load-bearing for per-doc
# retention (round-4 review). RE2 (DuckDB) has no lookahead, so the
# cross-engine fix is token-list filtering, exact in both engines.
_MARKER_LIST_SQL = ", ".join(f"'{w}'" for w in _ALL_MARKERS)
_STOP_HITS_SPARK = (
    f"size(filter(split(text, ' '), w -> w IN ({_MARKER_LIST_SQL})))"
)
_STOP_HITS_DUCK = (
    f"len(list_filter(string_split(text, ' '), w -> w IN ({_MARKER_LIST_SQL})))"
)


def q_corpus_clean_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, retained, reasons): the canonical training-data cleaning
    decision per document — the C4/Gopher rule stack composed from this
    suite's signals, every comparison in EXACT integer arithmetic (ratio
    thresholds cross-multiplied) so both engines agree bit-wise:

    - too_short: < CLEAN_MIN_TOKENS whitespace tokens (Gopher floor);
    - low_stop: marker-word mass < 5% of tokens (C4 stopword rule,
      language-agnostic union of all marker lists, counted by token-list
      filtering so adjacent markers each count);
    - bad_tok_len: mean alpha-chars per token outside [2, 10] (Gopher);
    - repetitive: intra-doc duplicate-3-gram mass > 10% (Gopher — the
      SAME dedup.repetition_stats builder the repetition_ratio query
      runs; docs with < 3 words have no 3-grams and count as 0);
    - duplicate: not the min-doc_id canonical of its exact content hash
      (the dedup_exact rule as a filter).

    ``reasons`` lists the failed rules comma-joined in fixed order (empty
    string when retained). Scale shape: narrow per-doc exprs + one
    partial-agg shuffle for the 3-gram stats + one hash-groupBy for the
    canonical id — the same shapes as the underlying operators. The
    3-gram stats ride the session-checkpointed relation shared with
    repetition_ratio, and the verdict relation itself is checkpointed for
    clean_filter_report (one rule-stack pass per driver session)."""
    return _clean_verdicts_cached(spark, sf_dir)


def _clean_verdicts_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import _rep_stats_cached

    docs = _docs_fanout(spark, sf_dir).select("doc_id", "text")
    base = docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("bigint").alias("n_tokens"),
        F.expr("length(regexp_replace(text, '[^a-z]', ''))").cast("bigint").alias("n_alpha"),
        F.expr(_STOP_HITS_SPARK).cast("bigint").alias("stop_hits"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    rep = _rep_stats_cached(spark, sf_dir).select(
        "doc_id", F.col("dup_per_million").alias("dpm")
    )
    canon = base.groupBy("h").agg(F.min("doc_id").alias("canon_id"))
    j = (
        base.join(canon, "h")
        .join(rep, "doc_id", "left")
        .withColumn("dpm", F.coalesce("dpm", F.lit(0)))
    )
    reasons = F.concat_ws(
        ",",
        F.when(F.col("n_tokens") < CLEAN_MIN_TOKENS, F.lit("too_short")),
        F.when(
            F.col("stop_hits") * (100 // CLEAN_STOP_RATIO_PCT) < F.col("n_tokens"),
            F.lit("low_stop"),
        ),
        F.when(
            (F.col("n_alpha") < CLEAN_TOK_LEN_LO * F.col("n_tokens"))
            | (F.col("n_alpha") > CLEAN_TOK_LEN_HI * F.col("n_tokens")),
            F.lit("bad_tok_len"),
        ),
        F.when(F.col("dpm") > CLEAN_MAX_DUP_PPM, F.lit("repetitive")),
        F.when(F.col("doc_id") != F.col("canon_id"), F.lit("duplicate")),
    )
    return j.select(
        "doc_id",
        reasons.alias("reasons"),
    ).withColumn("retained", F.col("reasons") == "")


# the per-doc verdict relation, shared per (session, sf_dir): the filter
# query and the per-source report both consume it
def _clean_verdicts_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "clean_verdicts", spark, (sf_dir,),
        lambda: _clean_verdicts_build(spark, sf_dir),
    )


def _oracle_clean_filter() -> str:
    """The reasons expression appears ONCE (in the verdict CTE); retained
    derives from it exactly as the Spark side does — no second copy of
    the rule block to drift (round-4 review)."""
    from .dedup import repetition_cte_duck

    reasons = f"""concat_ws(',',
             CASE WHEN n_tokens < {CLEAN_MIN_TOKENS} THEN 'too_short' END,
             CASE WHEN stop_hits * {100 // CLEAN_STOP_RATIO_PCT} < n_tokens
                  THEN 'low_stop' END,
             CASE WHEN n_alpha < {CLEAN_TOK_LEN_LO} * n_tokens
                    OR n_alpha > {CLEAN_TOK_LEN_HI} * n_tokens
                  THEN 'bad_tok_len' END,
             CASE WHEN dpm > {CLEAN_MAX_DUP_PPM} THEN 'repetitive' END,
             CASE WHEN doc_id <> canon_id THEN 'duplicate' END)"""
    return f"""
    WITH b AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
             CAST({_STOP_HITS_DUCK} AS BIGINT) AS stop_hits,
             md5(text) AS h
      FROM documents
    ), {repetition_cte_duck()}, canon AS (
      SELECT h, min(doc_id) AS canon_id FROM b GROUP BY h
    ), j AS (
      SELECT b.*, canon.canon_id, coalesce(rep.dup_per_million, 0) AS dpm
      FROM b JOIN canon USING (h) LEFT JOIN rep ON rep.doc_id = b.doc_id
    ), verdict AS (
      SELECT doc_id, {reasons} AS reasons FROM j
    )
    SELECT doc_id, reasons, reasons = '' AS retained FROM verdict
"""


ORACLE_CLEAN_FILTER = _oracle_clean_filter()


# ---------------------------------------------------------------------------
# Unigram-LM cross-entropy (Gopher-style LM quality proxy)
# ---------------------------------------------------------------------------

LM_SUP_SCALE = 1_000_000  # per-token surprisal in micro-bits (exact int)


def q_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own unigram model —
    the cheap in-engine proxy for the LM perplexity filters of
    Gopher/CCNet (a doc whose tokens are improbable under the corpus
    distribution reads as noise; one whose tokens are too probable reads
    as boilerplate; filters cut both tails).

    Two-pass shape: (1) vocab = one partial-agg shuffle on word (the model
    — at web scale this is the classic count-based LM estimation job);
    (2) token stream equi-joins the vocab (AQE broadcasts it while it
    fits) and partial-aggs per doc_id. No UDF, no driver-side loop.

    Cross-engine determinism: per-token surprisal -log2(c/total) is
    rounded HALF-UP to exact MICRO-bit integers before summing —
    measured Spark-vs-DuckDB log2 disagreement is ~1 ulp (1e-16
    relative), while a 1e6-scale rounding boundary is ~1e-9 wide at
    these magnitudes, so the scaled ints are identical and their sums
    order-independent. The final bits-per-token is ONE exact-int IEEE
    division chain, rounded to 6 dp identically in both engines."""
    docs = _docs_fanout(spark, sf_dir)
    w = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = w.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("tot"))
    sup = vocab.crossJoin(F.broadcast(total)).select(
        "word",
        F.expr(
            f"cast(floor(-log2(cast(c as double) / cast(tot as double))"
            f" * {LM_SUP_SCALE} + 0.5) as bigint)"
        ).alias("sup_e6"),
    )
    return (
        w.join(sup, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("sup_e6").alias("h_sum_e6"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "h_sum_e6",
            F.round(
                F.col("h_sum_e6").cast("double")
                / F.col("n_tokens")
                / float(LM_SUP_SCALE),
                6,
            ).alias("ce_bits"),
        )
    )


ORACLE_LM_CE = f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), v AS (
      SELECT word, COUNT(*) AS c FROM w GROUP BY word
    ), t AS (
      SELECT SUM(c) AS tot FROM v
    ), s AS (
      SELECT word,
             CAST(floor(-log2(CAST(c AS DOUBLE) / CAST(tot AS DOUBLE))
                  * {LM_SUP_SCALE} + 0.5) AS BIGINT) AS sup_e6
      FROM v, t
    )
    SELECT w.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(s.sup_e6) AS BIGINT) AS h_sum_e6,
           round(CAST(SUM(s.sup_e6) AS DOUBLE) / COUNT(*) / {float(LM_SUP_SCALE)}, 6)
             AS ce_bits
    FROM w JOIN s USING (word)
    GROUP BY w.doc_id
"""


def q_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram (word) entropy — the diversity complement of
    lm_cross_entropy's corpus-model surprisal: a doc whose own word
    distribution has near-zero entropy is degenerate repetition (spam /
    keyword stuffing), one near log2(n_tokens) is maximally diverse.
    Quality filters cut the low tail alongside repetition_ratio.

    Shape: explode -> one doc_id repartition -> (doc, word) count and
    per-doc totals as windows over the SAME partitioning (one corpus
    exchange total; a partition holds whole documents, bounded by doc
    length). No UDF.

    Cross-engine determinism: per-word surprisal log2(n/c) is rounded
    HALF-UP to MICRO-bit ints before the c-weighted sum — the same
    boundary argument as lm_cross_entropy (log2 disagrees ~1 ulp across
    engines, a 1e6-scale rounding boundary is ~1e-9 wide), so
    entropy_sum_e6 is an exact order-independent int64."""
    docs = _docs_fanout(spark, sf_dir)
    # ONE doc_id exchange serves everything: hash partitioning on doc_id
    # satisfies the (doc_id, word) agg's clustering AND the per-doc
    # totals windows, so the former totals-join re-shuffle of the whole
    # dwc relation disappears (window sums == the join'd agg, same ints)
    dwc = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .repartition("doc_id")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wd = Window.partitionBy("doc_id")
    return (
        dwc.withColumn("n_tokens", F.sum("c").over(wd))
        .withColumn("distinct_words", F.count(F.lit(1)).over(wd))
        .select(
            "doc_id",
            "n_tokens",
            "distinct_words",
            F.expr(
                f"c * cast(floor(log2(cast(n_tokens as double) / cast(c as double))"
                f" * {LM_SUP_SCALE} + 0.5) as bigint)"
            ).alias("term_e6"),
        )
        .groupBy("doc_id", "n_tokens", "distinct_words")
        .agg(F.sum("term_e6").alias("entropy_sum_e6"))
        .select(
            "doc_id",
            "n_tokens",
            "distinct_words",
            "entropy_sum_e6",
            # per-token mean in exact micro-bits: a rounded double here hit
            # a REAL half-tie (141199297/34 = 4152920.5 -> Spark HALF_UP,
            # DuckDB HALF_EVEN); integer floor-div is identical everywhere
            F.expr("entropy_sum_e6 div n_tokens").alias("entropy_e6_per_token"),
        )
    )


ORACLE_UNIGRAM_ENTROPY = f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), d AS (
      SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
    ), t AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS distinct_words
      FROM d GROUP BY doc_id
    ), s AS (
      SELECT d.doc_id, t.n_tokens, t.distinct_words,
             d.c * CAST(floor(log2(CAST(t.n_tokens AS DOUBLE) / CAST(d.c AS DOUBLE))
                  * {LM_SUP_SCALE} + 0.5) AS BIGINT) AS term_e6
      FROM d JOIN t USING (doc_id)
    )
    SELECT doc_id, n_tokens, distinct_words,
           CAST(SUM(term_e6) AS BIGINT) AS entropy_sum_e6,
           CAST(SUM(term_e6) // n_tokens AS BIGINT) AS entropy_e6_per_token
    FROM s GROUP BY doc_id, n_tokens, distinct_words
"""


# ---------------------------------------------------------------------------
# PII detection / redaction (training-data scrubbing pass)
# ---------------------------------------------------------------------------

# Patterns restricted to the subset where Java regex (Spark) and RE2
# (DuckDB) agree exactly: explicit character classes, greedy quantifiers,
# no lookaround/backrefs. Order matters and is identical in both engines:
# emails first (an address contains dot-runs a later rule could chew),
# then IPv4, then phone-like runs.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+", "<EMAIL>"),
    ("ipv4", "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}", "<IP>"),
    ("phone", "[+][0-9][0-9 ()-]{6,}[0-9]", "<PHONE>"),
)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII pass: count each category on the ORIGINAL text
    (counts are independent of rule order), then redact sequentially with
    typed placeholders; emits the counts and an md5 of the scrubbed text
    (byte-identical scrubbing is the contract — the hash keeps the compare
    light while pinning every byte). Pure column expressions: regexes run
    JVM-side at scan speed, no UDF, no shuffle — embarrassingly parallel
    at any corpus size. On the pristine synthetic corpus all counts are 0
    and scrubbing is the identity; the planted-PII cross-engine parity
    lives in tests/test_lsh.py::test_pii_scrub_planted_parity."""
    docs = _docs_fanout(spark, sf_dir)
    out = docs.select(
        "doc_id",
        "text",
        *[
            F.expr(f"regexp_count(text, '{pat}')").cast("bigint").alias(f"n_{name}")
            for name, pat, _ in PII_RULES
        ],
    )
    scrubbed = F.col("text")
    for _, pat, repl in PII_RULES:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return out.select(
        "doc_id",
        *[f"n_{name}" for name, _, _ in PII_RULES],
        F.md5(scrubbed.cast("binary")).alias("scrub_md5"),
    )


def _oracle_pii() -> str:
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in PII_RULES
    )
    scrub = "text"
    for _, pat, repl in PII_RULES:
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
    SELECT doc_id,
           {counts},
           md5({scrub}) AS scrub_md5
    FROM documents
"""


ORACLE_PII = _oracle_pii()


# ---------------------------------------------------------------------------
# Stratified sampling + normalized-key exact dedup (curation passes)
# ---------------------------------------------------------------------------

SAMPLE_PER_STRATUM = 5


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum quota sample (corpus REBALANCING — the
    counterpart of the global deterministic_sample): within each language
    stratum keep the SAMPLE_PER_STRATUM docs ranked by md5(doc_id) — a
    seeded-uniform, engine-portable order (hash, tie to doc_id), so the
    same sample comes back on any cluster, any partitioning, any engine.
    One window over the stratum key = one shuffle; at scale the quota can
    instead ride a per-stratum rank filter pushed into the shuffle
    (row_number short-circuits after the quota under WholeStageCodegen)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string").cast("binary")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= SAMPLE_PER_STRATUM)
        .select("lang", "doc_id", "rk")
    )


ORACLE_STRATIFIED = f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             CAST(row_number() OVER (PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
      FROM documents
    ) WHERE rk <= {SAMPLE_PER_STRATUM}
"""


def q_dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after TEXT NORMALIZATION (lowercase, strip everything
    outside [a-z0-9 ], collapse space runs, trim): catches the
    case/punctuation/whitespace variants plain exact dedup misses while
    staying a pure hash-groupBy — the cheap tier between exact and
    MinHash dedup in a cleaning stack. One partial-agg shuffle on the
    md5 of the normalized text; canonical = min doc_id (the convention of
    the whole dedup family). Regexes live in the Java∩RE2 subset.

    The normalize+md5 runs as one mapInArrow pass. After the
    [^a-z0-9 ] strip, str.lower() gives what the oracle's DuckDB lower()
    gives on every non-surrogate code point U+0080-U+2FFFF: only U+0130
    and U+212A lowercase into [a-z0-9], to i and k in both engines
    (test_dedup_exact_normalized_non_ascii_parity plants them, sharp s,
    final sigma, an astral emoji and non-ASCII spaces); strip(' ') ==
    trim() on the post-strip alphabet, and .encode() == the binary cast.
    Measured ~4x over the JVM charclass regexp_replace, which alone cost
    2.7 s of the 4.0 s query at the 10x scale (0.2 MB/s/core) vs
    34 MB/s/core here."""
    docs = _docs_fanout(spark, sf_dir)
    id_type = dict(docs.dtypes)["doc_id"]

    def _norm(batches):
        import hashlib
        import re

        import pyarrow as pa

        strip = re.compile(r"[^a-z0-9 ]")
        squeeze = re.compile(r"  *")
        for batch in batches:
            if batch.num_rows == 0:
                continue
            hs = [
                hashlib.md5(
                    squeeze.sub(" ", strip.sub("", t.lower())).strip(" ").encode()
                ).hexdigest()
                for t in batch.column("text").to_pylist()
            ]
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), pa.array(hs, type=pa.string())],
                names=["doc_id", "norm_md5"],
            )

    return (
        docs.select("doc_id", "text")
        .mapInArrow(_norm, f"doc_id {id_type}, norm_md5 string")
        .groupBy("norm_md5")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


ORACLE_DEDUP_NORM = """
    WITH k AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(lower(text),
                  '[^a-z0-9 ]', '', 'g'), '  *', ' ', 'g'))) AS norm_md5
      FROM documents
    )
    SELECT norm_md5, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
    FROM k GROUP BY norm_md5
"""


# ---------------------------------------------------------------------------
# Token windowing (sequence-packing preparation)
# ---------------------------------------------------------------------------

WINDOW_TOKENS = 64
WINDOW_STRIDE = 48  # 16-token overlap between consecutive windows


def q_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token windows per document — the chunking
    pass a training pipeline runs before sequence packing/tokenization
    (WINDOW_TOKENS window, WINDOW_STRIDE stride; the final window clamps
    to the document tail). Pure narrow column expressions: one split, one
    per-doc window-count formula, one explode — no shuffle at any scale.

    Window count uses INTEGER arithmetic only: Spark's float→int cast
    truncates while DuckDB's rounds half-even, so a shared ceil-via-
    division formula  max(0, (n - overlap - 1) div stride) + 1  keeps the
    engines identical (negative operands differ between trunc-div and
    floor-div, but the greatest(0, ·) clamp covers exactly that range).
    Emits md5 of each window (pins bytes, keeps the relation narrow) plus
    its token count.

    Scans with load_table, not _docs_fanout: the chain is narrow JVM work
    with no Python stage, and the round-robin Exchange costs more than the
    split saves (4-slot host, warm, noop sink, median of 5: 0.13 s direct
    vs 0.17 s fanned at sf0.01, 0.20 s vs 0.23 s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    k = f"greatest(0, (size(_w) - {WINDOW_TOKENS - WINDOW_STRIDE} - 1) div {WINDOW_STRIDE})"
    win = (
        f"transform(sequence(0, {k}),"
        f" i -> slice(_w, i * {WINDOW_STRIDE} + 1, {WINDOW_TOKENS}))"
    )
    return (
        docs.withColumn("_w", F.split("text", " "))
        .select("doc_id", F.posexplode(F.expr(win)).alias("win_no", "_win"))
        .select(
            "doc_id",
            F.col("win_no").cast("bigint").alias("win_no"),
            F.size("_win").cast("bigint").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "_win").cast("binary")).alias("window_md5"),
        )
    )


ORACLE_TOKEN_WINDOWS = f"""
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), k AS (
      SELECT doc_id, ws,
             greatest(0, (len(ws) - {WINDOW_TOKENS - WINDOW_STRIDE} - 1) // {WINDOW_STRIDE}) AS kmax
      FROM w
    ), e AS (
      SELECT doc_id, unnest(generate_series(0, kmax)) AS win_no, ws FROM k
    )
    SELECT doc_id, CAST(win_no AS BIGINT) AS win_no,
           CAST(len(ws[win_no * {WINDOW_STRIDE} + 1 : win_no * {WINDOW_STRIDE} + {WINDOW_TOKENS}]) AS BIGINT) AS n_tokens,
           md5(array_to_string(ws[win_no * {WINDOW_STRIDE} + 1 : win_no * {WINDOW_STRIDE} + {WINDOW_TOKENS}], ' ')) AS window_md5
    FROM e
"""


# ---------------------------------------------------------------------------
# BM25 keyword retrieval (corpus curation / quality-probe search surface)
# ---------------------------------------------------------------------------

# fixed probe terms: three present in the synthetic vocabulary plus one
# absent ("shuffle") to exercise the zero-df path end-to-end
BM25_TERMS: tuple[str, ...] = ("spark", "merge", "window", "shuffle")
BM25_TOPK = 20
# k1=1.2, b=0.75 (the standard Okapi operating point), folded into exact
# integer rationals below: multiply numerator and denominator by 10*S so
# tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) with avgdl = S/N becomes
# 22*tf*S / (10*tf*S + 3*S + 9*dl*N) — every term an int64.


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by BM25 for a fixed term set — the retrieval probe a
    curation pipeline runs to audit what a corpus contains (and the shape
    of any keyword-driven subset selection job).

    Scale shape: the per-doc term filter runs INSIDE the scan projection
    (the split array is filtered to the 4 probe terms BEFORE exploding, so
    the explode emits ~matches rows, not ~tokens rows); one partial-agg
    shuffle builds tf; df and the corpus (N, S) stats are tiny relations
    joined by broadcast; the final ranking is one narrow projection +
    top-k. No window functions, no second pass over text.

    Cross-engine determinism: tf-component = floor(22*tf*S*1e6 /
    (10*tf*S + 3*S + 9*dl*N)) is EXACT integer arithmetic (int64-safe up
    to ~4e11 corpus words; beyond that rescale or accept the double
    path); idf is micro-rounded HALF-UP like lm_cross_entropy's
    surprisal (ln disagreement ~1 ulp vs a ~1e-9-wide rounding
    boundary); the score is a sum of int64 products, order-independent.
    Ties broken by doc_id before LIMIT in both engines."""
    docs = _docs_fanout(spark, sf_dir)
    terms_sql = ", ".join(f"'{t}'" for t in BM25_TERMS)
    base = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("dl"),
        F.explode(
            F.expr(f"filter(split(text, ' '), w -> w IN ({terms_sql}))")
        ).alias("term"),
    )
    tf = base.groupBy("doc_id", "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    stats = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("s_words"),
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = df.crossJoin(F.broadcast(stats)).select(
        "term",
        F.expr(
            "cast(floor(ln((cast(n_docs as double) - df + 0.5) / (df + 0.5) + 1.0)"
            " * 1000000 + 0.5) as bigint)"
        ).alias("idf_e6"),
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("idf_e6")
                * F.expr(
                    "cast(22 * tf * s_words * 1000000 div"
                    " (10 * tf * s_words + 3 * s_words + 9 * dl * n_docs) as bigint)"
                )
            ).alias("part_e12"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("part_e12").alias("score_e12"),
        )
    )
    return scored.orderBy(F.desc("score_e12"), F.asc("doc_id")).limit(BM25_TOPK)


ORACLE_BM25 = f"""
    WITH base AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl, t.term
      FROM documents,
           LATERAL (SELECT unnest(list_filter(string_split(text, ' '),
             w -> w IN ({", ".join(f"'{t}'" for t in BM25_TERMS)}))) AS term) t
    ), tf AS (
      SELECT doc_id, dl, term, COUNT(*) AS tf FROM base GROUP BY 1, 2, 3
    ), stats AS (
      SELECT COUNT(*) AS n_docs, SUM(len(string_split(text, ' '))) AS s_words
      FROM documents
    ), idf AS (
      SELECT term,
             CAST(floor(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
                  * 1000000 + 0.5) AS BIGINT) AS idf_e6
      FROM (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), stats
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(idf_e6 * (22 * tf * s_words * 1000000 //
             (10 * tf * s_words + 3 * s_words + 9 * dl * n_docs))) AS BIGINT)
             AS score_e12
    FROM tf JOIN idf USING (term), stats
    GROUP BY doc_id
    ORDER BY score_e12 DESC, doc_id
    LIMIT {BM25_TOPK}
"""


TFIDF_TOPK = 5  # terms reported per source


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, term, tf, df, score_e12, rk): the TFIDF_TOPK most
    characteristic terms per source — the corpus-card keyword probe a
    curation pipeline runs per slice (what IS src3?). tf counts term
    occurrences within the source; idf = ln(N/df) over document frequency
    corpus-wide, micro-rounded HALF-UP to exact idf_e6 (the bm25/lm
    convention: ln disagrees ~1 ulp cross-engine, the 1e6 scale makes
    rounding boundaries ~1e-9 wide); score_e12 = tf * idf_e6 is exact
    int64. Ties break (score DESC, term ASC) in both engines.

    Scale shape: the token stream partial-aggs on (source, term) for tf
    and on term (after a (doc_id, term) distinct) for df — wordcount
    shuffles, the canonical map-side-combine shape; the idf relation is
    vocabulary-sized and broadcast; the final top-k window partitions by
    source (bounded groups)."""
    docs = _docs_fanout(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term")
    )
    tf = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df counts DOCS per term: the (doc_id, term) DISTINCT it needs is
    # per-document-local (doc_id is in the key), so a row-local
    # array_distinct over the token array replaces the corpus-wide
    # distinct exchange — one shuffle (on term) instead of two
    df = (
        docs.select(
            F.explode(F.expr("array_distinct(split(text, ' '))")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    stats = docs.select(F.count(F.lit(1)).alias("n_docs"))
    idf = df.crossJoin(F.broadcast(stats)).select(
        "term",
        "df",
        F.expr(
            "cast(floor(ln(cast(n_docs as double) / df) * 1000000 + 0.5) as bigint)"
        ).alias("idf_e6"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        "source", "term", "tf", "df", (F.col("tf") * F.col("idf_e6")).alias("score_e12")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("score_e12"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= TFIDF_TOPK)
        .select("source", "term", "tf", "df", "score_e12", "rk")
    )


ORACLE_TFIDF_TOPK = f"""
    WITH toks AS (
      SELECT doc_id, source, t.term
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS term) t
    ), tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY source, term
    ), df AS (
      SELECT term, COUNT(*) AS df
      FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term
    ), stats AS (SELECT COUNT(*) AS n_docs FROM documents),
    idf AS (
      SELECT term, CAST(df AS BIGINT) AS df,
             CAST(floor(ln(CAST(n_docs AS DOUBLE) / df) * 1000000 + 0.5)
                  AS BIGINT) AS idf_e6
      FROM df, stats
    ), scored AS (
      SELECT source, tf.term, tf, df, tf * idf_e6 AS score_e12
      FROM tf JOIN idf ON tf.term = idf.term
    )
    SELECT source, term, tf, df, CAST(score_e12 AS BIGINT) AS score_e12,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY score_e12 DESC, term) AS rk
      FROM scored
    ) WHERE rk <= {TFIDF_TOPK}
"""


# ---------------------------------------------------------------------------
# Data-mixture reweighting: per-source sampling weights toward a target mix
# ---------------------------------------------------------------------------


# single-definition mixture formulas — spliced into the oracled queries
# below AND consumed by jobs/curate_job.py via mix_weights()/epoch_counts(),
# so a scale or salt change can never diverge between the gated operators
# and the job composition (the _SHINGLES_FROM_WORDS convention)
MIX_WEIGHT_UNIFORM_EXPR = "cast(n_total * 1000000 div (n_sources * n_docs) as bigint)"
MIX_SQRT_EXPR = "cast(floor(sqrt(cast(n_docs as double))) as bigint)"
MIX_WEIGHT_TEMPERATURE_EXPR = (
    "cast((1000000 * s * n_total) div (s_total * n_docs) as bigint)"
)
MIX_DRAW_EXPR = (
    md5_int_spark("cast(concat('mix:', cast(doc_id as string)) as binary)", 8)
    + " % 1000000"
)
MIX_COPIES_EXPR = (
    f"cast(weight_ppm div 1000000"
    f" + if({MIX_DRAW_EXPR} < weight_ppm % 1000000, 1, 0) as bigint)"
)


def mix_weights(docs: DataFrame, mode: str = "uniform") -> DataFrame:
    """(source, n_docs, weight_ppm) over any documents-shaped frame —
    ``uniform`` (source_mix_weights semantics), ``temperature`` (alpha=0.5,
    source_mix_temperature semantics) or ``none`` (weight 1e6). One
    partial-agg shuffle + a broadcast 1-row totals attach in every mode."""
    per_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    if mode == "uniform":
        totals = per_src.select(
            F.sum("n_docs").alias("n_total"), F.count(F.lit(1)).alias("n_sources")
        )
        return per_src.crossJoin(F.broadcast(totals)).select(
            "source", "n_docs", F.expr(MIX_WEIGHT_UNIFORM_EXPR).alias("weight_ppm")
        )
    if mode == "temperature":
        scaled = per_src.select("source", "n_docs", F.expr(MIX_SQRT_EXPR).alias("s"))
        totals = scaled.select(
            F.sum("n_docs").alias("n_total"), F.sum("s").alias("s_total")
        )
        return scaled.crossJoin(F.broadcast(totals)).select(
            "source", "n_docs", F.expr(MIX_WEIGHT_TEMPERATURE_EXPR).alias("weight_ppm")
        )
    if mode == "none":
        return per_src.select(
            "source", "n_docs", F.lit(1000000).cast("bigint").alias("weight_ppm")
        )
    raise ValueError(f"unknown mix mode {mode!r}")


def epoch_counts(docs: DataFrame, weights: DataFrame) -> DataFrame:
    """(doc_id, source, weight_ppm, n_copies): apply per-source weights as
    per-doc epoch counts — floor epochs plus one more iff the salted-md5
    Bernoulli draw lands under the fractional part (source_mix_sample
    recipe; deterministic on any engine/partitioning)."""
    return docs.select("doc_id", "source").join(
        F.broadcast(weights.select("source", "weight_ppm")), "source"
    ).select(
        "doc_id", "source", "weight_ppm", F.expr(MIX_COPIES_EXPR).alias("n_copies")
    )


def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, n_tokens, weight_ppm): the per-source sampling
    weight that reweights the corpus to a UNIFORM source mix — the
    data-mixing step every multi-source training pipeline runs (upsample
    rare sources, downsample dominant ones). weight_ppm =
    floor(1e6 * N_total / (n_sources * n_docs_src)): >1e6 means repeat
    the source, <1e6 means sample it down; the expected doc count per
    source under the weights is N_total / n_sources by construction.

    One partial-agg shuffle on source plus a broadcast 1-row totals join;
    exact integer arithmetic end-to-end. At a real 10^12-doc scale the
    same plan holds — the source relation stays tiny."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    totals = per_src.select(
        F.sum("n_docs").alias("n_total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr(MIX_WEIGHT_UNIFORM_EXPR).alias("weight_ppm"),
    )


ORACLE_SOURCE_MIX = """
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs,
             SUM(len(string_split(text, ' '))) AS n_tokens
      FROM documents GROUP BY source
    ), totals AS (
      SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_sources FROM per_src
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_total * 1000000 // (n_sources * n_docs) AS BIGINT) AS weight_ppm
    FROM per_src, totals
"""


def q_source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, weight_ppm, n_copies): APPLY the uniform-mix
    weights — the resampling step that turns source_mix_weights into an
    actual epoch plan per document. n_copies = weight_ppm div 1e6 full
    epochs plus one more iff a seeded per-doc draw lands under the
    fractional part: draw_ppm = (first 8 md5 hex chars of 'mix:'||doc_id)
    mod 1e6 — salted so the draw stream is independent of every other
    md5-seeded sampler in the repo, uniform to 0.02% (2^32 mod 1e6 wrap).
    Deterministic on any engine/partitioning; expected copies per source
    = n_total/n_sources by construction (pinned in pytest).

    Scale shape: the weights side is a tiny per-source agg broadcast into
    a narrow per-doc projection — the doc stream is touched once for the
    agg and once for the scoring pass, and in a real pipeline the weights
    relation is precomputed so serving is pure scan -> project."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_counts(docs, mix_weights(docs, "uniform"))


ORACLE_SOURCE_MIX_SAMPLE = f"""
    WITH per_src AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), totals AS (
      SELECT SUM(n_docs) AS n_total, COUNT(*) AS n_sources FROM per_src
    ), w AS (
      SELECT source,
             CAST(n_total * 1000000 // (n_sources * n_docs) AS BIGINT) AS weight_ppm
      FROM per_src, totals
    )
    SELECT d.doc_id, d.source, w.weight_ppm,
           CAST(weight_ppm // 1000000 + CASE WHEN
               {hex_int_duck("md5('mix:' || CAST(d.doc_id AS VARCHAR))", 8)}
               % 1000000 < weight_ppm % 1000000 THEN 1 ELSE 0 END
             AS BIGINT) AS n_copies
    FROM documents d JOIN w USING (source)
"""


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): per-document log importance ratio of a
# hashed-ngram bag-of-features model fit on a target distribution vs the raw
# corpus — the weights a curation pipeline resamples by to skew a web crawl
# toward a target domain. Target distribution here: the corpus's own
# DSIR_TARGET_LANG slice (the in-corpus stand-in for "looks like the
# high-quality target domain").
# ---------------------------------------------------------------------------

# bucket = FIRST md5 BYTE of the feature (2 hex chars), so B is pinned to 256
# and no modulo is needed — the 24-bit-prefix % 2^k recipe degenerates to a
# plain prefix read when k <= 24.
DSIR_BUCKETS = 256
DSIR_SCALE = 1_000_000  # log-ratios in micro-bits (exact int, like LM_SUP_SCALE)
DSIR_TARGET_LANG = "en"

_DSIR_WS = "split(text, ' ')"
# DSIR features: hashed unigrams + bigrams (the paper's feature set). The
# bigram list is built with zip_with over two slices — NOT sequence() (which
# is DESCENDING for (1, 0), the short-array trap) — so a 1-word doc yields
# exactly its unigram. n_feats is always 2*size(ws) - 1.
_DSIR_FEATS = (
    f"concat({_DSIR_WS}, zip_with(slice({_DSIR_WS}, 1, size({_DSIR_WS}) - 1),"
    f" slice({_DSIR_WS}, 2, size({_DSIR_WS}) - 1), (a, b) -> concat(a, ' ', b)))"
)


def dsir_log_ratios(docs: DataFrame) -> list[int]:
    """Fit both hashed-ngram unigram LMs in ONE pass: explode features,
    bucket by first md5 byte, and conditional-count target vs raw per
    bucket — 256 groups, so map-side combine collapses every task to at
    most 256 rows and the driver fetch is a bounded 256x2-int transfer
    (the dim_ranges/IVF-centroid build pattern). Laplace-smoothed
    log2 ratio per bucket, rounded HALF-UP to exact micro-bits with the
    lm_cross_entropy boundary argument (log2 disagreement across
    Python/DuckDB ~1 ulp vs a ~1e-9-wide rounding boundary); the term
    order in the float expression mirrors ORACLE_DSIR exactly."""
    import math

    rows = (
        docs.select("lang", F.explode(F.expr(_DSIR_FEATS)).alias("feat"))
        .select(
            F.expr(md5_int_spark("feat", 2)).alias("b"),
            F.expr(
                f"CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END"
            ).alias("is_t"),
        )
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("cr"), F.sum("is_t").alias("ct"))
        .collect()
    )
    B = DSIR_BUCKETS
    cr = [0] * B
    ct = [0] * B
    for r in rows:
        cr[int(r["b"])] = int(r["cr"])
        ct[int(r["b"])] = int(r["ct"])
    R, T = sum(cr), sum(ct)
    return [
        int(
            math.floor(
                (
                    math.log2(ct[b] + 1)
                    - math.log2(cr[b] + 1)
                    + math.log2(R + B)
                    - math.log2(T + B)
                )
                * DSIR_SCALE
                + 0.5
            )
        )
        for b in range(B)
    ]


def dsir_score(docs: DataFrame, lr: list[int]) -> DataFrame:
    """(doc_id, n_feats, lw_e6): per-document log importance weight =
    sum over hashed features of the bucket log-ratio. The 256 log-ratios
    ride in as ONE folded array Literal (F.lit(list) — verified to fold
    to a single Literal in the optimized plan, unlike array(...) built
    inside a lambda), so the whole scoring pass is a NARROW
    scan -> project with zero exchanges at any corpus size
    (plan-asserted); the per-feature work is one md5 + one element_at.
    Exact int64 sums are partition-order-independent."""
    lr_col = F.lit([int(v) for v in lr])

    def step(acc, f):
        idx = (
            F.conv(F.substring(F.md5(f), 1, 2), 16, 10).cast("long") + 1
        ).cast("int")
        return acc + F.element_at(lr_col, idx)

    return docs.select(
        "doc_id",
        F.expr(f"cast(2 * size({_DSIR_WS}) - 1 as bigint)").alias("n_feats"),
        F.aggregate(F.expr(_DSIR_FEATS), F.lit(0).cast("long"), step).alias(
            "lw_e6"
        ),
    )


# the scored DSIR relation (doc_id, n_feats, lw_e6), shared per (session,
# sf_dir) through sources.session_cache: the weights query and the
# resample query both consume the same fit + scoring pass — one driver
# pass runs the per-ngram md5 scoring once
def _dsir_scores_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        docs = _docs_fanout(spark, sf_dir)
        return dsir_score(docs, dsir_log_ratios(docs))

    return shared("dsir_scores", spark, (sf_dir,), build)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR: one bounded model-fit job (256-group partial agg + 256x2-int
    driver fetch), then a zero-shuffle scoring projection over literal
    log-ratios — build-once/serve-many, like the IVF/PQ/quantize family.
    The scored relation is session-checkpointed and shared with
    q_dsir_resample."""
    return _dsir_scores_cached(spark, sf_dir).select("doc_id", "n_feats", "lw_e6")


def _oracle_dsir() -> str:
    buk = hex_int_duck("md5(feat)", 2)
    return f"""
    WITH w AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ), f AS (
      SELECT doc_id, lang,
             list_concat(ws, list_transform(generate_series(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1])) AS feats
      FROM w
    ), x AS (
      SELECT doc_id, lang, unnest(feats) AS feat FROM f
    ), cnt AS (
      SELECT {buk} AS b, COUNT(*) AS cr,
             SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS ct
      FROM x GROUP BY 1
    ), tot AS (
      SELECT SUM(cr) AS r, SUM(ct) AS t FROM cnt
    ), lr AS (
      SELECT s.b,
             CAST(floor((log2(COALESCE(cnt.ct, 0) + 1)
                  - log2(COALESCE(cnt.cr, 0) + 1)
                  + log2(tot.r + {DSIR_BUCKETS})
                  - log2(tot.t + {DSIR_BUCKETS}))
                  * {DSIR_SCALE} + 0.5) AS BIGINT) AS lr_e6
      FROM generate_series(0, {DSIR_BUCKETS - 1}) AS s(b)
      LEFT JOIN cnt ON cnt.b = s.b CROSS JOIN tot
    )
    SELECT x.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(lr.lr_e6) AS BIGINT) AS lw_e6
    FROM x JOIN lr ON lr.b = {buk}
    GROUP BY x.doc_id
"""


ORACLE_DSIR = _oracle_dsir()


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lw_e6, g_e6, selected): APPLY the DSIR importance weights
    as an actual selection — Poisson (Bernoulli-per-doc) importance
    resampling anchored at the corpus mean: a doc survives with
    probability min(1, 2^(lw - tau)) where tau is the mean log-weight,
    realized deterministically as g_e6 < lw_e6 - tau_e6 with
    g_e6 = micro-rounded log2(u) of a salted md5 draw ('dsir:'||doc_id —
    its own stream, independent of the 'mix:' sampler). Docs at or above
    the mean always survive; below-mean docs thin out exponentially —
    the with-replacement-free sibling of the paper's Gumbel top-k that
    needs NO global ranking (a global top-K is a driver-side collect or a
    single-partition window at 10^12 docs; this is scan-speed narrow
    after one mean agg).

    Exactness: u = (2*draw + 1) / 2^33 is an exact double strictly inside
    (0,1); log2 differs ~1ulp cross-engine and the 1e6 micro-rounding
    boundary argument (lm_cross_entropy) absorbs it; tau uses explicit
    FLOOR division (Spark's div truncates toward zero, DuckDB's //
    floors — they disagree exactly when the mean is negative, which a
    mostly-raw corpus makes the common case)."""
    # the scored relation is session-checkpointed (shared with
    # q_dsir_weights): tau and the final projection both consume it, and
    # without truncation the per-ngram md5 scoring pass would run once
    # per consumer (the _cdc_rows_cached rationale); tau itself is a
    # bounded 2-int driver fetch, floored in Python (// is true floor,
    # matching DuckDB's // — Spark's div truncates toward zero and
    # disagrees exactly when the mean is negative, the common case on a
    # mostly-raw corpus)
    sc = _dsir_scores_cached(spark, sf_dir).select("doc_id", "lw_e6")
    row = sc.agg(
        F.sum("lw_e6").alias("s"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    tau = (int(row.s) // int(row.n)) if row.n else 0
    draw = md5_int_spark("cast(concat('dsir:', cast(doc_id as string)) as binary)", 8)
    g = f"cast(floor(log2((2 * {draw} + 1) / 8589934592.0) * 1000000 + 0.5) as bigint)"
    # the explicit lw_e6 >= tau disjunct makes the p = 1 branch EXACT:
    # ~1489 of the 2^32 draws have u so close to 1 that g_e6 rounds to 0,
    # and (0 < 0) would wrongly drop a doc sitting exactly at the mean
    # (round-6 review)
    return sc.select(
        "doc_id",
        "lw_e6",
        F.expr(g).alias("g_e6"),
        F.expr(f"lw_e6 >= {tau} OR {g} < lw_e6 - {tau}").alias("selected"),
    )


def _oracle_dsir_resample() -> str:
    draw = hex_int_duck("md5('dsir:' || CAST(doc_id AS VARCHAR))", 8)
    g = (
        f"CAST(floor(log2((2 * {draw} + 1)"
        f" / 8589934592.0) * 1000000 + 0.5) AS BIGINT)"
    )
    return f"""
    WITH dsir AS ({ORACLE_DSIR}
    ), tau AS (
      SELECT SUM(lw_e6) // COUNT(*) AS tau_e6 FROM dsir
    )
    SELECT doc_id, lw_e6, {g} AS g_e6,
           (lw_e6 >= tau_e6 OR {g} < lw_e6 - tau_e6) AS selected
    FROM dsir, tau
"""


ORACLE_DSIR_RESAMPLE = _oracle_dsir_resample()


# ---------------------------------------------------------------------------
# Sequence packing: GPT-style concatenate-and-split — the step between
# token counting (token_windows) and the training data loader
# ---------------------------------------------------------------------------

PACK_BLOCK = 1024  # tokens per training sequence
PACK_SHARDS = 8  # deterministic shard key: packing is per-shard at any scale


def pack_plan(base: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Concatenate-and-split packing over any (``key_col``, shard,
    n_tokens) stream: rows are laid end-to-end within each shard in a
    seeded deterministic order (md5 of 'pack:'||key, tie key — the
    stratified_sample idiom) and the token stream splits at fixed
    PACK_BLOCK boundaries, documents straddling freely (the GPT-style
    loader contract). Adds (pos, start_seq, start_off, end_seq) and
    preserves every other input column (jobs/curate_job.py packs an
    epoch-expanded (doc_id, copy) stream through the same plan).

    Scale shape: ONE shuffle on the shard key; the running offset is a
    window cumsum inside each shard — never a global single-partition
    sort (the shard key IS how production packs: one writer per shard)."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(
            F.md5(F.concat(F.lit("pack:"), F.col(key_col).cast("string")).cast("binary")),
            F.col(key_col),
        )
    )
    laid = base.select(
        "*",
        F.row_number().over(w).cast("bigint").alias("pos"),
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("_off"),
    )
    return laid.select(
        *[c for c in base.columns],
        "pos",
        F.expr(f"_off div {PACK_BLOCK}").alias("start_seq"),
        F.expr(f"_off % {PACK_BLOCK}").alias("start_off"),
        F.expr(f"(_off + n_tokens - 1) div {PACK_BLOCK}").alias("end_seq"),
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shard, pos, n_tokens, start_seq, start_off, end_seq): the
    packing plan over the documents table — docs sharded by doc_id %
    PACK_SHARDS, then pack_plan's per-shard concatenate-and-split.
    start_seq/start_off locate the doc's first token in the shard's
    sequence space; end_seq is the sequence holding its last token
    (single-token algebra: offset + n - 1). Empty docs (0 tokens after
    split of '' -> ['']) cannot occur here — split always yields >= 1
    token on this corpus; the end_seq algebra would still hold at n=1."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.expr(f"doc_id % {PACK_SHARDS}").alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    return pack_plan(base).select(
        "doc_id", "shard", "pos", "n_tokens", "start_seq", "start_off", "end_seq"
    )


ORACLE_PACK_SEQUENCES = f"""
    WITH base AS (
      SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             md5('pack:' || CAST(doc_id AS VARCHAR)) AS ok
      FROM documents
    ), laid AS (
      SELECT doc_id, shard, n_tokens,
             CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id)
                  AS BIGINT) AS pos,
             CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY ok, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS off
      FROM base
    )
    SELECT doc_id, shard, pos, n_tokens,
           off // {PACK_BLOCK} AS start_seq,
           off % {PACK_BLOCK} AS start_off,
           (off + n_tokens - 1) // {PACK_BLOCK} AS end_seq
    FROM laid
"""


def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, n_docs, n_seqs, used_tokens, waste_ppm): per-shard packing
    audit over the pack_sequences plan — the no-silent-caps companion of
    the packing operator. Concatenate-and-split wastes ONLY the tail of
    each shard's last sequence (docs straddle boundaries), so
    n_seqs = max(end_seq)+1, capacity = n_seqs*PACK_BLOCK and
    waste_ppm = (capacity - used)*1e6 div capacity — exact ints both
    engines. A skewed shard key shows up here as one shard's n_seqs
    outrunning the others; the agg is PACK_SHARDS groups on top of the
    plan's one shuffle."""
    p = q_pack_sequences(spark, sf_dir)
    return (
        p.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.max("end_seq") + 1).alias("n_seqs"),
            F.sum("n_tokens").alias("used_tokens"),
        )
        .select(
            "shard",
            "n_docs",
            "n_seqs",
            "used_tokens",
            F.expr(
                f"(n_seqs * {PACK_BLOCK} - used_tokens) * 1000000"
                f" div (n_seqs * {PACK_BLOCK})"
            ).alias("waste_ppm"),
        )
    )


ORACLE_PACK_EFFICIENCY = f"""
    WITH p AS ({ORACLE_PACK_SEQUENCES}),
    agg AS (
      SELECT shard, COUNT(*) AS n_docs, MAX(end_seq) + 1 AS n_seqs,
             SUM(n_tokens) AS used_tokens
      FROM p GROUP BY shard
    )
    SELECT shard, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_seqs AS BIGINT) AS n_seqs,
           CAST(used_tokens AS BIGINT) AS used_tokens,
           CAST((n_seqs * {PACK_BLOCK} - used_tokens) * 1000000
                // (n_seqs * {PACK_BLOCK}) AS BIGINT) AS waste_ppm
    FROM agg
"""


def q_source_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, n_docs, target_share_ppm, weight_ppm): temperature-scaled
    source mixture at alpha = 0.5 — the multilingual-sampling standard
    (Conneau & Lample 2019: p'_s ∝ p_s^alpha flattens the source
    distribution without going all the way to uniform; rare sources are
    upsampled, dominant ones downsampled, each less aggressively than
    source_mix_weights' uniform target).

    alpha is FIXED at 0.5 by a determinism argument: x^0.5 is the single
    correctly-rounded IEEE sqrt, so floor(sqrt(n)) over an exact count is
    bit-identical in every engine, while pow(x, alpha) for general alpha
    is NOT correctly rounded and may differ in the last ulp between
    engines — exactly the class of silent cross-engine drift this repo
    bans. The scaled mass s = floor(sqrt(n_docs)) re-enters INTEGER
    arithmetic immediately; shares and per-doc weights are exact int64
    rationals (safe to ~4e7 docs per mixture group at 1e6 ppm scale —
    past that, lift the two products to decimal128; the plan is
    unchanged). Same scale shape as source_mix_weights: one partial-agg
    shuffle + a broadcast 1-row totals attach. Granularity caveat: at
    single-digit source counts floor(sqrt(n)) steps can invert neighbors
    (n=3 -> s=1 vs n=4 -> s=2); real mixture groups are orders of
    magnitude larger, where s/n is effectively monotone."""
    docs = load_table(spark, sf_dir, "documents")
    scaled = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "source",
            "n_docs",
            F.expr(MIX_SQRT_EXPR).alias("s"),
        )
    )
    totals = scaled.select(
        F.sum("n_docs").alias("n_total"), F.sum("s").alias("s_total")
    )
    return scaled.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        F.expr("cast(1000000 * s div s_total as bigint)").alias("target_share_ppm"),
        F.expr(MIX_WEIGHT_TEMPERATURE_EXPR).alias("weight_ppm"),
    )


ORACLE_SOURCE_MIX_TEMPERATURE = """
    WITH scaled AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s
      FROM documents GROUP BY source
    ), totals AS (
      SELECT SUM(n_docs) AS n_total, SUM(s) AS s_total FROM scaled
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(1000000 * s // s_total AS BIGINT) AS target_share_ppm,
           CAST((1000000 * s * n_total) // (s_total * n_docs) AS BIGINT) AS weight_ppm
    FROM scaled, totals
"""


def q_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus card — the release-notes health report every dataset
    ships (docs, token mass, source/language breadth, exact-dup mass,
    mean length): all exact integers (mean in centitokens) so the row is
    bit-identical cross-engine. One pass, partial aggs; the distinct
    counts expand to the standard count-distinct shuffle shapes."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "source",
        "lang",
        F.expr("size(split(text, ' '))").cast("bigint").alias("nt"),
        F.expr("md5(cast(text as binary))").alias("h"),
    )
    return base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nt").alias("n_tokens"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        (F.count(F.lit(1)) - F.countDistinct("h")).cast("bigint").alias("n_exact_dup_docs"),
        F.expr("CAST(100 * sum(nt) DIV count(*) AS BIGINT)").alias("mean_tokens_e2"),
    )


ORACLE_CORPUS_SUMMARY = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dup_docs,
           CAST(100 * SUM(len(string_split(text, ' '))) // COUNT(*) AS BIGINT) AS mean_tokens_e2
    FROM documents
"""


EVAL_SPLIT_BP = 200  # eval fraction in basis points (2%)


def q_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, content_h, split): leakage-safe held-out split assignment.
    The split draw keys on the CONTENT hash, not the doc id — two
    byte-identical documents land on the same side by construction, so an
    exact duplicate can never leak eval content into train (the classic
    id-keyed-split bug that decontaminate_overlap then has to mop up).
    Salted draw ('split:'||content_h — its own md5 stream, like 'mix:'
    and 'dsir:'): eval iff draw mod 10000 < EVAL_SPLIT_BP, uniform to
    0.005% (2^32 mod 10^4 wrap). Narrow scan-speed projection; the
    fraction is exact in expectation per CONTENT, and near-dup leakage
    remains decontaminate_overlap's job."""
    docs = load_table(spark, sf_dir, "documents")
    draw = md5_int_spark("cast(concat('split:', content_h) as binary)", 8) + " % 10000"
    return docs.select(
        "doc_id", F.expr("md5(cast(text as binary))").alias("content_h")
    ).select(
        "doc_id",
        "content_h",
        F.expr(
            f"CASE WHEN {draw} < {EVAL_SPLIT_BP} THEN 'eval' ELSE 'train' END"
        ).alias("split"),
    )


def _oracle_train_eval_split() -> str:
    draw = hex_int_duck("md5('split:' || content_h)", 8)
    return f"""
    WITH h AS (
      SELECT doc_id, md5(text) AS content_h FROM documents
    )
    SELECT doc_id, content_h,
           CASE WHEN ({draw}) % 10000 < {EVAL_SPLIT_BP}
                THEN 'eval' ELSE 'train' END AS split
    FROM h
"""


ORACLE_TRAIN_EVAL_SPLIT = _oracle_train_eval_split()


# split draw over raw text (content_h inlined) — the SINGLE definition
# consumed by q_train_eval_split's sibling below and the leakage audit;
# identical value to the content_h-column form in q_train_eval_split
SPLIT_DRAW_TEXT_EXPR = (
    md5_int_spark("cast(concat('split:', md5(cast(text as binary))) as binary)", 8)
    + " % 10000"
)


def q_decontaminate_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, eval_id, shared): the SELF-CONTAINED leakage audit —
    derive the content-keyed train/eval split (train_eval_split rule),
    then flag train docs sharing >= DECON_MIN_SHARED distinct 3-grams
    with any derived-eval doc (decontamination_overlap machinery: train
    shingles DF-capped, eval side broadcast). Because the split keys on
    the content hash, a byte-identical duplicate can NEVER appear here —
    every flagged row is genuinely a near-dup leak, which is exactly the
    class an id-keyed split would silently bury under exact-dup noise
    (pinned in pytest: planted exact-dup pairs produce zero rows, a
    planted straddling near-dup pair is flagged)."""
    from .dedup import decontamination_overlap

    docs = _docs_fanout(spark, sf_dir)
    d = docs.select(
        "doc_id",
        "text",
        F.expr(
            f"CASE WHEN {SPLIT_DRAW_TEXT_EXPR} < {EVAL_SPLIT_BP}"
            " THEN 'eval' ELSE 'train' END"
        ).alias("split"),
    )
    ev = d.filter(F.col("split") == "eval").select("doc_id", "text")
    tr = d.filter(F.col("split") == "train").select("doc_id", "text")
    return decontamination_overlap(tr, ev).select(
        "doc_id", "eval_id", F.col("shared").cast("bigint").alias("shared")
    )


def _oracle_decontaminate_splits() -> str:
    from .dedup import (
        DECON_MIN_SHARED,
        MAX_SHINGLE_DF,
        shingles_cte_duck,
    )

    draw = hex_int_duck("md5('split:' || md5(text))", 8)
    ev_w = f"({draw}) % 10000 < {EVAL_SPLIT_BP}"
    tr_w = f"({draw}) % 10000 >= {EVAL_SPLIT_BP}"
    return f"""
    WITH shc0 AS ({shingles_cte_duck(where=tr_w)}
    ), shc AS (
      SELECT doc_id, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM (SELECT DISTINCT doc_id, shingle FROM shc0)
      ) WHERE df <= {MAX_SHINGLE_DF}
    ), she0 AS ({shingles_cte_duck(where=ev_w)}
    ), she AS (
      SELECT DISTINCT doc_id AS eval_id, shingle FROM she0
    )
    SELECT c.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS shared
    FROM shc c JOIN she e USING (shingle)
    GROUP BY c.doc_id, e.eval_id
    HAVING COUNT(*) >= {DECON_MIN_SHARED}
"""


ORACLE_DECONTAMINATE_SPLITS = _oracle_decontaminate_splits()


# ---------------------------------------------------------------------------
# cleaning-pass observability: per-source retention report
# ---------------------------------------------------------------------------

_CLEAN_REASONS = ("too_short", "low_stop", "bad_tok_len", "repetitive", "duplicate")


def q_clean_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of the corpus_clean_filter verdicts — the report a
    curation run reads before committing a cleaning pass (which source is
    being gutted, and by WHICH rule). Rides the one oracled rule stack
    (q_corpus_clean_filter) verbatim — never a second copy of the rules —
    plus one broadcast-friendly join back to (doc_id, source) and a
    per-source partial agg. Counts are exact ints; retained share in ppm
    (exact integer division)."""
    verdicts = q_corpus_clean_filter(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per_reason = [
        F.sum(
            F.when(
                F.array_contains(F.split("reasons", ","), r), F.lit(1)
            ).otherwise(0)
        ).alias(f"n_{r}")
        for r in _CLEAN_REASONS
    ]
    return (
        verdicts.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("retained"), 1).otherwise(0)).alias("n_retained"),
            *per_reason,
        )
        .withColumn("retained_ppm", F.expr("n_retained * 1000000 div n_docs"))
    )


def _oracle_clean_report() -> str:
    reason_cols = ",\n           ".join(
        f"CAST(SUM(CASE WHEN list_contains(string_split(reasons, ','), '{r}')"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS n_{r}"
        for r in _CLEAN_REASONS
    )
    return f"""
    WITH cf AS ({ORACLE_CLEAN_FILTER}
    )
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN retained THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           {reason_cols},
           CAST(SUM(CASE WHEN retained THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS retained_ppm
    FROM cf JOIN documents d USING (doc_id)
    GROUP BY d.source
"""


ORACLE_CLEAN_REPORT = _oracle_clean_report()


# ---------------------------------------------------------------------------
# vocabulary head: global top-k words with cumulative corpus coverage
# ---------------------------------------------------------------------------

ZIPF_TOPK = 50


def q_zipf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K vocabulary head with cumulative corpus coverage — the
    Zipf-curve health check (tokenizer/vocab planning reads this: how much
    of the corpus do the K most frequent words cover?).

    Shape: one word-count partial agg; the global rank<=K filter sits
    directly over row_number so Spark rewrites it to WindowGroupLimit
    (each partition pre-emits its own top-K before the single-partition
    merge — the merge sees n_partitions*K rows, never the vocabulary).
    The cumulative sum runs AFTER the filter, over K rows. Totals ride a
    broadcast 1-row crossJoin (the scalar-attach pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = wc.agg(F.sum("c").alias("tot"))
    w_rank = Window.orderBy(F.desc("c"), F.asc("word"))
    top = (
        wc.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= ZIPF_TOPK)
    )
    w_cum = (
        Window.orderBy(F.desc("c"), F.asc("word"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        top.withColumn("cum_c", F.sum("c").over(w_cum))
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "word",
            "c",
            F.expr("c * 1000000 div tot").alias("freq_ppm"),
            F.expr("cum_c * 1000000 div tot").alias("cum_ppm"),
        )
    )


ORACLE_ZIPF_TOPK = f"""
    WITH wc AS (
      SELECT word, COUNT(*) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word
    ), t AS (
      SELECT SUM(c) AS tot FROM wc
    ), r AS (
      SELECT word, c,
             row_number() OVER (ORDER BY c DESC, word) AS rank
      FROM wc
    ), topk AS (
      SELECT rank, word, c,
             SUM(c) OVER (ORDER BY c DESC, word
                          ROWS UNBOUNDED PRECEDING) AS cum_c
      FROM r WHERE rank <= {ZIPF_TOPK}
    )
    SELECT CAST(rank AS INTEGER) AS rank, word, c,
           CAST(c * 1000000 // tot AS BIGINT) AS freq_ppm,
           CAST(cum_c * 1000000 // tot AS BIGINT) AS cum_ppm
    FROM topk, t
"""


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters: bounded-memory frequency estimation
# ---------------------------------------------------------------------------

# depth x width of the sketch — 4 x 1024 = at most 4096 counter cells no
# matter the corpus size. Estimates are audited against the exact top-K.
CMS_D = 4
CMS_W = 1024
CMS_TOPK = 20


def _cms_cell_spark(j: int) -> "F.Column":
    """Row-j CMS cell for ``word``: md5 of the row-salted word, 8-hex
    prefix -> bigint, mod CMS_W. One md5 per (row, word) — the conv()
    form (never strpos splicing; Catalyst does not CSE the md5 repeats,
    CLAUDE.md)."""
    return F.expr(
        md5_int_spark(f"cast(concat('cms{j}:', word) as binary)", 8) + f" % {CMS_W}"
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency audit:
    build a CMS_D x CMS_W sketch over the corpus word stream, then report
    the exact top-CMS_TOPK words with their exact counts, the sketch's
    estimate (min over the D salted-hash cells), and the relative
    overestimate in ppm. CMS guarantees est >= exact always; heavy
    hitters sit near 0 over_ppm, and the column IS the measured collision
    noise floor — the audit that sizes D x W for a corpus.

    Scale shape: the sketch build is ONE partial agg over (j, cell) —
    map-side combine collapses every executor's stream into <= D*W cells
    before the shuffle, so sketch memory is CONSTANT in corpus size (the
    whole point of a sketch at 100 TB). The exact top-K rides the same
    WindowGroupLimit rewrite as zipf_topk (per-partition top-K heaps;
    the single-partition merge sees n_parts*K rows, never the
    vocabulary). The probe join broadcasts K*D = 80 rows against the
    <= 4096-cell sketch."""
    docs = _docs_fanout(spark, sf_dir)
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    cells = F.array(
        *[
            F.struct(F.lit(j).alias("j"), _cms_cell_spark(j).alias("cell"))
            for j in range(CMS_D)
        ]
    )
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    # the sketch is ADDITIVE over word counts (cell cnt = Σ c over the
    # words hashing there), so build it from the aggregated wc relation,
    # not the raw stream: the D salted md5s run once per DISTINCT word
    # instead of once per word instance (stream/vocab ≈ 100-1000x fewer
    # hashes), and the wc exchange is shared with the exact top-K branch
    sketch = (
        wc.select("c", F.explode(cells).alias("jc"))
        .select("jc.j", "jc.cell", "c")
        .groupBy("j", "cell")
        .agg(F.sum("c").alias("cnt"))
    )
    w_rank = Window.orderBy(F.desc("c"), F.asc("word"))
    top = wc.withColumn("rank", F.row_number().over(w_rank)).where(
        F.col("rank") <= CMS_TOPK
    )
    probes = top.select(
        "rank", "word", "c", F.explode(cells).alias("jc")
    ).select("rank", "word", "c", "jc.j", "jc.cell")
    return (
        sketch.join(F.broadcast(probes), ["j", "cell"])
        .groupBy("rank", "word", "c")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            "rank",
            "word",
            "c",
            "cms_est",
            F.expr("(cms_est - c) * 1000000 div c").alias("over_ppm"),
        )
    )


def _cms_cell_duck() -> str:
    """DuckDB twin of _cms_cell_spark with the row salt as a column ``j``
    (strpos arithmetic — DuckDB has no conv; values identical)."""
    h = hex_int_duck("md5('cms' || CAST(j AS VARCHAR) || ':' || word)", 8)
    return f"({h} % {CMS_W})"


ORACLE_CMS_HEAVY_HITTERS = f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), sk AS (
      SELECT j, {_cms_cell_duck()} AS cell, COUNT(*) AS cnt
      FROM words, range({CMS_D}) t(j)
      GROUP BY 1, 2
    ), wc AS (
      SELECT word, COUNT(*) AS c FROM words GROUP BY word
    ), r AS (
      SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rank
      FROM wc
    ), probes AS (
      SELECT rank, word, c, j, {_cms_cell_duck()} AS cell
      FROM (SELECT * FROM r WHERE rank <= {CMS_TOPK}), range({CMS_D}) t(j)
    )
    SELECT CAST(p.rank AS INTEGER) AS rank, p.word, p.c,
           MIN(s.cnt) AS cms_est,
           CAST((MIN(s.cnt) - p.c) * 1000000 // p.c AS BIGINT) AS over_ppm
    FROM probes p JOIN sk s ON s.j = p.j AND s.cell = p.cell
    GROUP BY p.rank, p.word, p.c
"""


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch: bounded-memory cardinality
# ---------------------------------------------------------------------------

KMV_K = 256
_KMV_SPACE = 1 << 32  # 8-hex md5 prefix hash space


def q_distinct_kmv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV cardinality sketch (Bar-Yossef et al. 2002) audit: estimate
    the corpus's distinct-word count from only the KMV_K smallest 32-bit
    word-hash values — est = (k-1) * 2^32 div h_k, EXACT integer
    arithmetic end to end (no HLL float harmonics), so the DuckDB twin is
    bit-identical. One audit row: word occurrences, exact distinct count,
    the sketch's k and k-th hash, the estimate, and signed err_ppm
    (est*1e6 div exact - 1e6 — positive-operand division only; a direct
    signed div would split on Spark-truncate vs DuckDB-floor). Fewer than
    k distinct values -> the sketch IS exact (est = count).

    Scale shape: the k smallest hashes ride orderBy().limit(k) —
    TakeOrderedAndProject, a per-partition k-heap whose merge sees
    n_parts*k rows, never the vocabulary; the distinct relation is one
    hash partial agg. Sketch memory is CONSTANT in corpus size, and KMV
    sketches of corpus shards merge by union+re-limit — the property
    that makes the estimator composable across 100 TB partitions."""
    docs = _docs_fanout(spark, sf_dir)
    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    h = F.expr(md5_int_spark("cast(concat('kmv:', word) as binary)", 8))
    dh = words.select(h.alias("h")).distinct()
    km = (
        dh.orderBy("h")
        .limit(KMV_K)
        .agg(F.max("h").alias("kth_hash"), F.count(F.lit(1)).alias("kn"))
    )
    ex = dh.agg(F.count(F.lit(1)).alias("n_distinct"))
    nw = words.agg(F.count(F.lit(1)).alias("n_words"))
    return (
        nw.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(km))
        .withColumn(
            "kmv_est",
            F.expr(
                f"CASE WHEN n_distinct < {KMV_K} THEN n_distinct"
                f" ELSE (kn - 1) * {_KMV_SPACE} div kth_hash END"
            ),
        )
        .select(
            "n_words",
            "n_distinct",
            F.col("kn").cast("int").alias("kmv_k"),
            "kth_hash",
            "kmv_est",
            F.expr("kmv_est * 1000000 div n_distinct - 1000000").alias("err_ppm"),
        )
    )


ORACLE_DISTINCT_KMV = f"""
    WITH words AS (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), dh AS (
      SELECT DISTINCT {hex_int_duck("md5('kmv:' || word)", 8)} AS h
      FROM words
    ), km AS (
      SELECT MAX(h) AS kth_hash, COUNT(*) AS kn
      FROM (SELECT h FROM dh ORDER BY h LIMIT {KMV_K})
    ), ex AS (SELECT COUNT(*) AS n_distinct FROM dh),
    nw AS (SELECT COUNT(*) AS n_words FROM words),
    est AS (
      SELECT n_words, n_distinct, CAST(kn AS INTEGER) AS kmv_k, kth_hash,
             CASE WHEN n_distinct < {KMV_K} THEN n_distinct
                  ELSE (kn - 1) * {_KMV_SPACE} // kth_hash END AS kmv_est
      FROM nw, ex, km
    )
    SELECT n_words, n_distinct, kmv_k, kth_hash,
           CAST(kmv_est AS BIGINT) AS kmv_est,
           CAST(kmv_est * 1000000 // n_distinct - 1000000 AS BIGINT) AS err_ppm
    FROM est
"""


# ---------------------------------------------------------------------------
# Mergeable-histogram quantile sketch audit (the quantile leg of the
# bounded-memory trio: CMS=frequency, KMV=cardinality, histogram=quantiles)
# ---------------------------------------------------------------------------

HIST_BINS = 256
HIST_PCTS = (25, 50, 75, 90, 99)


def q_histogram_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a fixed 256-bin equi-width histogram of
    doc lengths, audited against the EXACT order statistics. Estimate =
    linear interpolation inside the target bin (exact integer floor
    arithmetic). Exact side = two-phase distributed selection: the
    histogram locates the bin holding rank t, a window partitioned BY
    BIN ranks only within bins (~N/256 rows per partition — never the
    single-partition global sort that kills a 100 TB rank query), and
    the global rank is cum_before(bin) + rank_in_bin. Emits per
    percentile: (pct, hist_est, exact, err_ppm).

    Scale shape: the histogram is ONE partial agg into <= 256 cells
    (constant memory, and shard histograms MERGE by cell-wise add);
    every join against the <=256-row cum relation or the 5-row target
    relation is broadcast; the only data-wide shuffle is the per-bin
    ranking exchange. The bin-probe join carries a range condition over
    5 x 256 BOUNDED rows — a broadcast nested-loop there is free by
    construction, not a scale hazard."""
    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(F.col("n_chars").alias("v"), "doc_id")
    stats = v.agg(
        F.min("v").alias("mn"), F.max("v").alias("mx"), F.count(F.lit(1)).alias("n")
    )
    binned = (
        v.crossJoin(F.broadcast(stats))
        .withColumn("w", F.expr(f"(mx - mn) div {HIST_BINS} + 1"))
        .select("v", "doc_id", F.expr("(v - mn) div w").alias("bin"), "w", "mn", "n")
    )
    hist = binned.groupBy("bin", "w", "mn", "n").agg(F.count(F.lit(1)).alias("cnt"))
    cumw = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("cum", F.sum("cnt").over(cumw))
        .withColumn("cum0", F.col("cum") - F.col("cnt"))
    )
    pcts = F.array(*[F.lit(p) for p in HIST_PCTS])
    qt = stats.select(
        F.explode(pcts).alias("pct"), F.expr("n").alias("n")
    ).select("pct", F.expr("(pct * n + 99) div 100").alias("t"))
    est = (
        cum.join(
            F.broadcast(qt),
            (F.col("cum") >= F.col("t")) & (F.col("cum0") < F.col("t")),
        )
        .select(
            "pct",
            "t",
            F.expr("mn + bin * w + ((t - cum0 - 1) * w) div cnt").alias("hist_est"),
        )
    )
    ranked = binned.withColumn(
        "rnk",
        F.row_number().over(Window.partitionBy("bin").orderBy("v", "doc_id")),
    ).join(
        F.broadcast(cum.select("bin", "cum0")), "bin"
    ).select("v", F.expr("cum0 + rnk").alias("grank"))
    exact = ranked.join(F.broadcast(qt), F.col("grank") == F.col("t")).select(
        "pct", F.col("v").alias("exact")
    )
    return est.join(exact, "pct").select(
        "pct",
        "hist_est",
        "exact",
        F.expr("hist_est * 1000000 div greatest(exact, 1) - 1000000").alias(
            "err_ppm"
        ),
    )


ORACLE_HIST_QUANTILES = f"""
    WITH v AS (SELECT n_chars AS v, doc_id FROM documents),
    stats AS (SELECT MIN(v) AS mn, MAX(v) AS mx, COUNT(*) AS n FROM v),
    binned AS (
      SELECT v, doc_id, (v - mn) // w AS bin, w, mn, n
      FROM (SELECT v.*, mn, mx, n, (mx - mn) // {HIST_BINS} + 1 AS w
            FROM v, stats)
    ),
    hist AS (
      SELECT bin, w, mn, n, COUNT(*) AS cnt
      FROM binned GROUP BY bin, w, mn, n
    ),
    cum AS (
      SELECT *, SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) - cnt AS cum0
      FROM hist
    ),
    qt AS (
      SELECT pct, (pct * n + 99) // 100 AS t
      FROM (SELECT unnest({list(HIST_PCTS)}) AS pct), stats
    ),
    est AS (
      SELECT pct, t, mn + bin * w + ((t - cum0 - 1) * w) // cnt AS hist_est
      FROM cum JOIN qt ON cum >= t AND cum0 < t
    ),
    ranked AS (
      SELECT b.v, c.cum0
             + row_number() OVER (PARTITION BY b.bin ORDER BY b.v, b.doc_id)
             AS grank
      FROM binned b JOIN cum c ON c.bin = b.bin
    ),
    ex AS (SELECT pct, v AS exact FROM ranked JOIN qt ON grank = t)
    SELECT e.pct, CAST(e.hist_est AS BIGINT) AS hist_est, x.exact,
           CAST(e.hist_est * 1000000 // GREATEST(x.exact, 1) - 1000000 AS BIGINT)
             AS err_ppm
    FROM est e JOIN ex x ON x.pct = e.pct
"""


# ---------------------------------------------------------------------------
# Bigram-LM cross-entropy (order-2 upgrade of the Gopher-style LM proxy)
# ---------------------------------------------------------------------------


def _bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, cur): every adjacent word pair of the docs with >= 2
    tokens — the size guard doubles as the CLAUDE.md sequence(1, n-1)
    descending guard."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .where(F.expr("size(ws) >= 2"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1), i ->"
                    " named_struct('prev', element_at(ws, i),"
                    " 'cur', element_at(ws, i + 1)))"
                )
            ).alias("b"),
        )
        .select("doc_id", "b.prev", "b.cur")
    )


def _bigram_counts_cached(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> DataFrame:
    """(prev, cur, c): the corpus bigram counts, shared per (session,
    sf_dir) by the bigram LM and the PMI collocations. Each query feeds
    it to several consumers (context counts, the scored join, the
    vocabulary; both marginals and N), so the corpus-wide explode+agg
    runs once per driver pass."""
    return shared(
        "bigram_counts", spark, (sf_dir,),
        lambda: _bigrams(docs).groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c")),
    )


def q_lm_bigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under the corpus's own BIGRAM model
    with add-one smoothing: p(w_t | w_{t-1}) = (c(prev,cur) + 1) /
    (c(prev) + V). Where the unigram proxy scores token CHOICE, this
    scores token ORDER — shuffled or templated text separates from
    natural text here while looking identical to the unigram model.
    Context counts c(prev) derive from the bigram relation itself
    (sum over cur), so numerator and denominator can never disagree
    about tokenization; V = corpus vocabulary size (1-row broadcast).
    Docs need >= 2 tokens (transitions are what's scored).

    Scale: bigram model = one partial-agg shuffle on (prev, cur) — the
    classic count-based LM estimation job at order 2; scoring joins the
    doc bigram stream to the model on the same key (AQE broadcasts while
    it fits). Same micro-bit HALF-UP rounding as the unigram query (log2
    cross-engine drift ~1 ulp vs a 1e-9-wide rounding boundary)."""
    docs = _docs_fanout(spark, sf_dir)
    bg = _bigrams(docs)
    model = _bigram_counts_cached(spark, sf_dir, docs)
    ctx = model.groupBy("prev").agg(F.sum("c").alias("cp"))
    # v = COUNT(DISTINCT word) over the whole corpus, derived WITHOUT a
    # third corpus tokenize: every word of a >=2-token doc appears as a
    # prev (positions 1..n-1) or as the last bigram's cur (position n),
    # and a 1-token doc's only word IS its text (split(text,' ') has one
    # element iff text contains no space) — so distinct(prev ∪ cur ∪
    # spaceless texts) is exactly the corpus vocabulary
    ones = docs.filter(~F.col("text").contains(" ")).select(
        F.col("text").alias("word")
    )
    vocab = (
        model.select(F.col("prev").alias("word"))
        .union(model.select(F.col("cur").alias("word")))
        .union(ones)
        .agg(F.countDistinct("word").alias("v"))
    )
    sup = (
        model.join(ctx, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "prev",
            "cur",
            F.expr(
                "cast(floor(-log2(cast(c + 1 as double)"
                f" / cast(cp + v as double)) * {LM_SUP_SCALE} + 0.5) as bigint)"
            ).alias("sup_e6"),
        )
    )
    return (
        bg.join(sup, ["prev", "cur"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("sup_e6").alias("h_sum_e6"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "h_sum_e6",
            F.round(
                F.col("h_sum_e6").cast("double")
                / F.col("n_bigrams")
                / float(LM_SUP_SCALE),
                6,
            ).alias("ce_bits"),
        )
    )


ORACLE_LM_BIGRAM_CE = f"""
    WITH ws AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT doc_id, unnest(ws[1:len(ws) - 1]) AS prev,
             unnest(ws[2:len(ws)]) AS cur
      FROM ws
    ), model AS (
      SELECT prev, cur, COUNT(*) AS c FROM bg GROUP BY prev, cur
    ), ctx AS (
      SELECT prev, SUM(c) AS cp FROM model GROUP BY prev
    ), vocab AS (
      SELECT COUNT(DISTINCT word) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    ), sup AS (
      SELECT m.prev, m.cur,
             CAST(floor(-log2(CAST(m.c + 1 AS DOUBLE)
                  / CAST(x.cp + vocab.v AS DOUBLE)) * {LM_SUP_SCALE} + 0.5)
               AS BIGINT) AS sup_e6
      FROM model m JOIN ctx x ON x.prev = m.prev, vocab
    )
    SELECT bg.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(s.sup_e6) AS BIGINT) AS h_sum_e6,
           round(CAST(SUM(s.sup_e6) AS DOUBLE) / COUNT(*)
                 / {LM_SUP_SCALE}, 6) AS ce_bits
    FROM bg JOIN sup s ON s.prev = bg.prev AND s.cur = bg.cur
    GROUP BY bg.doc_id
"""


# ---------------------------------------------------------------------------
# Containment dedup (MOSS): subset/quote-expansion pairs Jaccard misses
# ---------------------------------------------------------------------------

FP_MAX_DF = 16  # fingerprints shared by more docs are boilerplate, skipped
CONTAIN_MIN_PPM = 600_000  # >= 60% of the smaller doc's fingerprints shared

# the (doc_id, fps) winnow relation, shared per (session, sf_dir) through
# sources.session_cache
def _winnow_fp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "winnow_fp", spark, (sf_dir,),
        lambda: winnow_fingerprints(_docs_fanout(spark, sf_dir)).select("doc_id", "fps"),
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup pairs via winnowing fingerprints: the measure
    is |FP(A) n FP(B)| / |FP(smaller)| — a short doc quoted wholesale
    inside a long one scores ~1 here while its symmetric Jaccard is tiny
    (the subset blind spot of the MinHash family; Broder's containment
    vs resemblance distinction). Emits (inner_doc, outer_doc, n_shared,
    containment_ppm) for pairs over CONTAIN_MIN_PPM; inner = the smaller
    fingerprint set (tie: smaller doc_id).

    Scale shape: the SAME banded-candidate discipline as every dedup
    family member — fingerprints with document frequency > FP_MAX_DF are
    dropped before the equi-self-join (a boilerplate fingerprint would
    otherwise fan quadratically), sizes are one partial agg, and the
    ratio filter runs before any wide emission. Winnowing's guarantee
    makes the recall floor explicit: any shared passage of >=
    WINNOW_K + WINNOW_W - 1 words shares a fingerprint.

    Explode discipline: the winnow array relation is localCheckpointed
    (one row per doc, bounded) BEFORE the explode — Generate re-evaluates
    an inlined generator expression per OUTPUT element, and the winnow
    chain is ~16 elements x O(words) md5/slice-min work per doc
    (measured 115 s -> 7 s at sf0.1; a repartition barrier does NOT fix
    it — the optimizer moves the projection past the exchange)."""
    fp = _winnow_fp_cached(spark, sf_dir).select(
        "doc_id", F.explode("fps").alias("fp")
    )
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    fpf = (
        fp.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
        .where(F.col("df") <= FP_MAX_DF)
        .drop("df")
    )
    a = fpf.select(F.col("doc_id").alias("doc_a"), "fp")
    b = fpf.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    lab = (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "a_inner", F.expr("na < nb OR (na = nb AND doc_a < doc_b)")
        )
        .select(
            F.expr("CASE WHEN a_inner THEN doc_a ELSE doc_b END").alias(
                "inner_doc"
            ),
            F.expr("CASE WHEN a_inner THEN doc_b ELSE doc_a END").alias(
                "outer_doc"
            ),
            "n_shared",
            F.expr("n_shared * 1000000 div least(na, nb)").alias(
                "containment_ppm"
            ),
        )
    )
    return lab.where(F.col("containment_ppm") >= CONTAIN_MIN_PPM)


ORACLE_DEDUP_CONTAINMENT = f"""
    WITH {_WINNOW_WINS_CTE}, fp AS (
      SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM wn
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM fp GROUP BY doc_id),
    fpf AS (
      SELECT doc_id, fp FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY fp) AS df FROM fp
      ) WHERE df <= {FP_MAX_DF}
    ),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
      FROM fpf a JOIN fpf b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    lab AS (
      SELECT CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)
                  THEN doc_a ELSE doc_b END AS inner_doc,
             CASE WHEN sa.n < sb.n OR (sa.n = sb.n AND doc_a < doc_b)
                  THEN doc_b ELSE doc_a END AS outer_doc,
             n_shared,
             CAST(n_shared * 1000000 // LEAST(sa.n, sb.n) AS BIGINT)
               AS containment_ppm
      FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    )
    SELECT inner_doc, outer_doc, n_shared, containment_ppm
    FROM lab WHERE containment_ppm >= {CONTAIN_MIN_PPM}
"""


# ---------------------------------------------------------------------------
# Token-budget selection: best docs first until the budget fills
# ---------------------------------------------------------------------------

TOKEN_BUDGET = 20_000


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy quality-first corpus selection under a TOKEN BUDGET — the
    "give me the best B tokens" curation pass. Ordering key is an
    exact-int quality score, score_e6 = min(n_tokens,100)*5000 +
    (stop_hits*500000) div n_tokens (the quality_score composite in
    micro units — BOUNDED in [0, 1e6] by construction, which is what
    makes the selection two-phase at scale). A doc is selected iff its
    inclusive running token total, in (score desc, doc_id asc) order,
    is <= TOKEN_BUDGET.

    Scale shape: phase 1 aggregates per SCORE BUCKET (<= 1e6+1 cells no
    matter the corpus — the same bounded-relation trick as the histogram
    quantile's bins) and finds each bucket's token mass and desc-
    cumulative start; phase 2 ranks docs only WITHIN their bucket
    (window partitioned by score_e6) and adds the bucket's start offset
    — no global single-partition sort of the corpus ever happens. The
    bucket relation broadcasts back."""
    docs = _docs_fanout(spark, sf_dir)
    n_tokens = "size(split(text, ' '))"
    stop_hits = _hits_expr(_MARKERS["en"])
    s = docs.select(
        "doc_id",
        F.expr(n_tokens).cast("bigint").alias("n_tokens"),
        F.expr(
            f"least(cast({n_tokens} as bigint), 100) * 5000"
            f" + (cast({stop_hits} as bigint) * 500000)"
            f" div cast({n_tokens} as bigint)"
        ).alias("score_e6"),
    )
    buckets = s.groupBy("score_e6").agg(F.sum("n_tokens").alias("btok"))
    wdesc = Window.orderBy(F.desc("score_e6")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    boff = buckets.withColumn(
        "before", F.sum("btok").over(wdesc) - F.col("btok")
    ).select("score_e6", "before")
    intra = Window.partitionBy("score_e6").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = (
        s.join(F.broadcast(boff), "score_e6")
        .withColumn("cum_tokens", F.col("before") + F.sum("n_tokens").over(intra))
    )
    return (
        ranked.where(F.col("cum_tokens") <= TOKEN_BUDGET)
        .select("doc_id", "score_e6", "n_tokens", "cum_tokens")
    )


ORACLE_TOKEN_BUDGET = f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 100) * 5000
               + (CAST(len(regexp_extract_all(' ' || text || ' ',
                    ' ({'|'.join(_MARKERS['en'])}) ')) AS BIGINT) * 500000)
                 // CAST(len(string_split(text, ' ')) AS BIGINT) AS score_e6
      FROM documents
    ), buckets AS (
      SELECT score_e6, SUM(n_tokens) AS btok FROM s GROUP BY score_e6
    ), boff AS (
      SELECT score_e6,
             SUM(btok) OVER (ORDER BY score_e6 DESC ROWS UNBOUNDED PRECEDING)
               - btok AS before
      FROM buckets
    ), ranked AS (
      SELECT s.doc_id, s.score_e6, s.n_tokens,
             b.before + SUM(s.n_tokens) OVER (
               PARTITION BY s.score_e6 ORDER BY s.doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM s JOIN boff b ON b.score_e6 = s.score_e6
    )
    SELECT doc_id, score_e6, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM ranked WHERE cum_tokens <= {TOKEN_BUDGET}
"""


# ---------------------------------------------------------------------------
# PMI collocations (top adjacent-pair associations)
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 5  # pairs rarer than this are PMI noise (classic floor)
PMI_TOPK = 50


def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K adjacent-word collocations by pointwise mutual information:
    pmi = log2(c_xy * N / (c_x * c_y)) over the corpus bigram stream,
    with the classic min-count floor (rare pairs score arbitrarily high
    PMI — the estimator's known failure mode). Marginals count CONTEXT
    and SUCCESSOR occurrences from the bigram relation itself (left
    marginal = bigram starts with x, right marginal = ends with y), so
    all three counts share one tokenization. Micro-bit half-up ints like
    the LM queries; ties broken (prev, cur) for a total order.

    Scale shape: one (prev,cur) partial agg builds the pair relation;
    marginals are two partial re-aggs OF that relation (never a second
    corpus pass); the rank<=K filter compiles to the per-partition top-K
    merge (TakeOrderedAndProject / WindowGroupLimit)."""
    docs = _docs_fanout(spark, sf_dir)
    pairs = _bigram_counts_cached(spark, sf_dir, docs).withColumnRenamed("c", "c_xy")
    left = pairs.groupBy("prev").agg(F.sum("c_xy").alias("c_x"))
    right = pairs.groupBy("cur").agg(F.sum("c_xy").alias("c_y"))
    n = pairs.agg(F.sum("c_xy").alias("n"))
    scored = (
        pairs.where(F.col("c_xy") >= PMI_MIN_COUNT)
        .join(left, "prev")
        .join(right, "cur")
        .crossJoin(F.broadcast(n))
        .select(
            "prev",
            "cur",
            "c_xy",
            F.expr(
                "cast(floor(log2(cast(c_xy as double) * cast(n as double)"
                f" / (cast(c_x as double) * cast(c_y as double)))"
                f" * {LM_SUP_SCALE} + 0.5) as bigint)"
            ).alias("pmi_e6"),
        )
    )
    w = Window.orderBy(F.desc("pmi_e6"), F.asc("prev"), F.asc("cur"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= PMI_TOPK)
        .select("rank", "prev", "cur", "c_xy", "pmi_e6")
    )


ORACLE_COLLOCATIONS = f"""
    WITH ws AS (
      SELECT string_split(text, ' ') AS ws FROM documents
    ), bg AS (
      SELECT unnest(ws[1:len(ws) - 1]) AS prev, unnest(ws[2:len(ws)]) AS cur
      FROM ws
    ), pairs AS (
      SELECT prev, cur, COUNT(*) AS c_xy FROM bg GROUP BY prev, cur
    ), lft AS (SELECT prev, SUM(c_xy) AS c_x FROM pairs GROUP BY prev),
    rgt AS (SELECT cur, SUM(c_xy) AS c_y FROM pairs GROUP BY cur),
    n AS (SELECT SUM(c_xy) AS n FROM pairs),
    scored AS (
      SELECT p.prev, p.cur, p.c_xy,
             CAST(floor(log2(CAST(p.c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                  / (CAST(l.c_x AS DOUBLE) * CAST(r.c_y AS DOUBLE)))
                  * {LM_SUP_SCALE} + 0.5) AS BIGINT) AS pmi_e6
      FROM pairs p
      JOIN lft l ON l.prev = p.prev
      JOIN rgt r ON r.cur = p.cur, n
      WHERE p.c_xy >= {PMI_MIN_COUNT}
    ), ranked AS (
      SELECT *, row_number() OVER (ORDER BY pmi_e6 DESC, prev, cur) AS rank
      FROM scored
    )
    SELECT CAST(rank AS INTEGER) AS rank, prev, cur, c_xy, pmi_e6
    FROM ranked WHERE rank <= {PMI_TOPK}
"""
