"""Deduplication suite over the documents table — the training-data-pipeline
operators a 100 TB corpus engine needs (exact, MinHash+LSH, SimHash,
n-gram Jaccard). All computations are engine-portable by construction:
hashes are md5 hex strings (identical in Spark and DuckDB), integers exact.

Scale notes (100 TB):
- exact dedup: one shuffle on content hash with map-side partial agg;
- MinHash: narrow shingle explode → partial min-agg per (doc, seed) →
  band self-join on band key (shuffle joins on high-entropy hashes, no
  skew from the hash itself); 16 hashes banded 4x4 puts the LSH
  similarity threshold at ~(1/4)^(1/4) ≈ 0.71 — the near-dup operating
  point. Band groups larger than BAND_CAP (mass-duplication clusters,
  which exact dedup already catches) are dropped before the pair join so
  no band key ever goes quadratic;
- SimHash: narrow explode → 32 conditional sums per doc (single agg);
- Jaccard verification: the pair join is on shingle equality within a
  source, with shingles whose per-source document frequency exceeds
  MAX_SHINGLE_DF removed first — a stop-shingle shared by 1% of docs
  would otherwise yield ~10^16 join rows at 10^9 docs. Sizes are computed
  over the same filtered shingle universe, so the reported Jaccard is the
  similarity of the docs' *distinctive* shingle sets.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..hexint import hex_int_duck, hex_int_spark, md5_int_spark
from ..sources.session_cache import shared
from ..sources.tables import load_table, scan_fanout

def _docs_fanout(spark: SparkSession, sf_dir: str):
    """The documents table with the adaptive scan fanout (see
    sources.tables.scan_fanout) — goes through this module's load_table
    so tests that monkeypatch it keep working."""
    return scan_fanout(load_table(spark, sf_dir, "documents"), spark, sf_dir, "documents")


N_MINHASH = 16
N_BANDS = 4
ROWS_PER_BAND = 4  # N_BANDS * ROWS_PER_BAND == N_MINHASH
BAND_CAP = 100  # band groups above this are degenerate mass-dup clusters
MAX_SHINGLE_DF = 32  # per-source document-frequency cap for the Jaccard join

# ---------------------------------------------------------------------------
# shared shingle/word fragments
# ---------------------------------------------------------------------------

# NB: Spark's sequence(0, -1) yields a DESCENDING sequence, not empty —
# short texts must be guarded explicitly. The expression references a
# pre-materialized `_words` column: putting split(text) inside the
# per-element lambda re-splits the whole document for EVERY shingle
# (Catalyst does not hoist subexpressions out of HOF lambdas — the same
# non-CSE behavior as the md5 finding), O(words^2) per row.
_SHINGLES_FROM_WORDS = (
    "CASE WHEN size(_words) >= 3 THEN"
    " transform(sequence(0, size(_words) - 3),"
    "   i -> concat_ws(' ', slice(_words, i + 1, 3)))"
    " ELSE array() END"
)


def shingle_explode(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """(doc_id, *extra_cols, shingle) — word 3-grams, narrow explode.
    Single definition shared by minhash/jaccard/boilerplate so the notion
    of 'shingle' cannot drift between operators."""
    return (
        docs.withColumn("_words", F.split("text", " "))
        .select(
            "doc_id", *extra_cols, F.explode(F.expr(_SHINGLES_FROM_WORDS)).alias("shingle")
        )
    )

def shingles_cte_duck(extra_cols: str = "", where: str = "") -> str:
    """DuckDB twin of shingle_explode — the single SQL definition of a
    word 3-gram, optionally carrying extra columns (e.g. source) and a
    row filter (e.g. the decontamination eval/corpus split)."""
    cols = "doc_id" + (f", {extra_cols}" if extra_cols else "")
    return f"""
      SELECT {cols},
             unnest(list_transform(
               generate_series(1, greatest(len(string_split(text, ' ')) - 2, 0)),
               i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS shingle
      FROM documents{f" WHERE {where}" if where else ""}
"""


_SHINGLES_DUCK = shingles_cte_duck()


def shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — word 3-grams, narrow explode."""
    return shingle_explode(docs)


def shingle_explode_distinct(docs: DataFrame, *extra_cols: str) -> DataFrame:
    """shingle_explode(...).distinct() with ZERO exchanges: doc_id is part
    of the distinct key, so global DISTINCT over (doc_id[, per-doc cols],
    shingle) is per-document-local — a row-local array_distinct before
    the explode produces the identical row set without shuffling the
    corpus-sized shingle stream. ``extra_cols`` must be functionally
    dependent on doc_id (e.g. source), which every caller's are."""
    return (
        docs.withColumn("_words", F.split("text", " "))
        .select(
            "doc_id",
            *extra_cols,
            F.explode(
                F.expr(f"array_distinct({_SHINGLES_FROM_WORDS})")
            ).alias("shingle"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# affine hash family over one 24-bit md5 prefix: h_j = (A_j*h + B_j) mod P.
# P is a prime just ABOVE the hash range and A_j ranges over [1, P), so
# A_j*h routinely exceeds P and the modulus actually WRAPS — each h_j is an
# independent-ish permutation of the shingle order, which is what makes 16
# minima carry 16 bits of evidence. (The round-2 family had A*h+B far below
# P = 2^61-1: never wrapped, every h_j monotone in h, all 16 minima landed
# on the same min-md5 shingle — signature degenerated to ONE hash and the
# 4x4 banding threshold was not implemented. See ADVICE round 2, item 1.)
# Bounds: h < 2^24, A < P ~ 2^32 → A*h + B < 2^56 + 2^32 — exact in int64
# on both engines (BIGINT modulo is exact; no float path anywhere).
_MH_P = 4_294_967_311  # smallest prime > 2^32
_MH_HEX = 6  # md5 prefix width in hex chars → h < 2^24
_H24_DUCK = hex_int_duck("md5(shingle)", _MH_HEX)
_rs = __import__("numpy").random.RandomState(2718)
_MH_A = [int(a) for a in _rs.randint(1, _MH_P, size=N_MINHASH, dtype="int64")]
_MH_B = [int(b) for b in _rs.randint(0, _MH_P, size=N_MINHASH, dtype="int64")]
del _rs


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h15): per-seed min over an affine integer hash family
    applied to ONE 24-bit md5 prefix per shingle — 1 md5 + 16 integer ops
    per shingle (the estimator quality is the standard (aX+B) mod P
    MinHash family with a genuinely wrapping modulus; exact integers,
    identical across engines). One narrow mapInArrow pass: the per-shingle
    md5 + 16 affine minima run as hashlib + one numpy (n_shingles x 16)
    modular matrix per document instead of a corpus-wide shingle explode
    + 16 min-agg shuffle — identical integers (the first 6 md5 hex chars
    ARE the first 3 digest bytes big-endian; A*h + B <= 2^56 stays exact
    int64), and docs with < 3 words are absent exactly as the explode
    left them."""
    import pyarrow as pa

    id_type = dict(docs.dtypes)["doc_id"]
    A = np.asarray(_MH_A, dtype=np.int64)[None, :]
    B = np.asarray(_MH_B, dtype=np.int64)[None, :]
    names = ["doc_id"] + [f"h{j}" for j in range(N_MINHASH)]

    def _sig(batches):
        import hashlib

        md5 = hashlib.md5
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids_out, sigs = [], []
            for d, t in zip(
                batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
            ):
                ws = t.split(" ")
                n = len(ws) - 2
                if n <= 0:
                    continue
                h = np.fromiter(
                    (
                        int.from_bytes(
                            md5(" ".join(ws[i : i + 3]).encode()).digest()[:3], "big"
                        )
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                sigs.append(((h[:, None] * A + B) % _MH_P).min(axis=0))
                ids_out.append(d)
            if not ids_out:
                continue
            S = np.stack(sigs)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids_out)] + [pa.array(S[:, j]) for j in range(N_MINHASH)],
                names=names,
            )

    return docs.select("doc_id", "text").mapInArrow(
        _sig,
        f"doc_id {id_type}, " + ", ".join(f"h{j} bigint" for j in range(N_MINHASH)),
    )


def lsh_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature (ROWS_PER_BAND rows/band), drop band groups over
    BAND_CAP, bucket-join on band key, emit candidate pairs
    (doc_a < doc_b) with the number of colliding bands.

    The cap is a windowed count over the SAME key the join shuffles on (no
    extra shuffle under AQE); band keys are high-entropy md5 so the count
    relation is corpus-sized and must NOT be broadcast. Banding/cap come
    from the SHARED minhash_bands/_capped_bands helpers (also the
    incremental pass's input — one Spark-side band-key definition, so a
    persisted corpus band index stays joinable across both passes)."""
    banded = _capped_bands(minhash_bands(sig))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lsh_pairs_cached(spark, sf_dir)


def _band_key_duck(b: int) -> str:
    return "md5(" + " || '#' || ".join(
        f"CAST(h{ROWS_PER_BAND * b + k} AS VARCHAR)" for k in range(ROWS_PER_BAND)
    ) + ")"


def _minhash_sig_banded0_cte() -> str:
    """Shared DuckDB prefix sh/hh/sig/banded0 — ONE SQL definition of the
    MinHash signature and band keys, spliced into the self-join pair
    oracles AND the incremental oracle (review r5: a second verbatim copy
    of this chain is a drift hazard — the dhash oracles learned the same
    lesson)."""
    return f"""sh AS ({_SHINGLES_DUCK}),
    hh AS (
      SELECT doc_id, {_H24_DUCK} AS h FROM sh
    ),
    sig AS (
      SELECT doc_id,
             {', '.join(
               f"MIN(({_MH_A[j]} * h + {_MH_B[j]}) % {_MH_P}) AS h{j}"
               for j in range(N_MINHASH)
             )}
      FROM hh GROUP BY doc_id
    ),
    banded0 AS (
      {' UNION ALL '.join(
        f"SELECT doc_id, {b} AS band_no, {_band_key_duck(b)} AS band_key FROM sig"
        for b in range(N_BANDS)
      )}
    )"""


def _minhash_pairs_cte() -> str:
    """Shared DuckDB CTE chain ending in cands(doc_a, doc_b, n_bands) —
    used by both the raw-pairs oracle and the verified-dedup oracle."""
    return f"""{_minhash_sig_banded0_cte()},
    banded AS (
      SELECT doc_id, band_no, band_key FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_no, band_key) AS n FROM banded0
      ) WHERE n <= {BAND_CAP}
    ),
    cands AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
      FROM banded a JOIN banded b
        ON a.band_key = b.band_key AND a.band_no = b.band_no AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


ORACLE_MINHASH = f"""
    WITH {_minhash_pairs_cte()}
    SELECT doc_a, doc_b, n_bands FROM cands
"""

VERIFY_JACCARD_MIN = 0.5


def _verified_cte() -> str:
    """Extends _minhash_pairs_cte with ve(doc_a, doc_b, inter, jaccard) —
    the exact-Jaccard-verified near-dup pairs."""
    return f"""{_minhash_pairs_cte()},
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
      FROM cands c
      JOIN dsh sa ON sa.doc_id = c.doc_a
      JOIN dsh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    ve AS (
      SELECT i.doc_a, i.doc_b, i.inter,
             round(i.inter / CAST(na.n + nb.n - i.inter AS DOUBLE), 6) AS jaccard
      FROM inter i
      JOIN sizes na ON na.doc_id = i.doc_a
      JOIN sizes nb ON nb.doc_id = i.doc_b
      WHERE round(i.inter / CAST(na.n + nb.n - i.inter AS DOUBLE), 6)
            >= {VERIFY_JACCARD_MIN}
    )"""


ORACLE_MINHASH_VERIFIED = f"""
    WITH {_verified_cte()}
    SELECT doc_a, doc_b, inter, jaccard FROM ve
"""

# connected components over the verified near-dup graph: every document
# gets the MIN doc_id of its component as cluster_id (isolated docs are
# their own cluster). DuckDB side: recursive label reachability — a label
# propagates along an edge only while smaller (prunes + terminates under
# UNION set semantics).
ORACLE_DEDUP_CLUSTERS = f"""
    WITH RECURSIVE {_verified_cte()},
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM ve
      UNION ALL
      SELECT doc_b AS a, doc_a AS b FROM ve
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
      WHERE r.lbl < e.a
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node
"""

# ---------------------------------------------------------------------------
# SimHash (64-bit, md5-derived word hashes — portable hex-nibble arithmetic;
# widened from 32 bits in round 5 (VERDICT r4 item 4): at 10^9+ docs the
# former 8-bit band value space saturated — 64-bit signatures with 16-bit
# bands give 65536 values per band and a far lower random-collision floor)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def _simhash_bit_weight(j: int) -> int:
    """Signed-int64 weight of signature bit ``j``: 2^j for j<63; bit 63 is
    the SIGN bit, so its weight is int64-min (two's complement — the bit
    pattern is identical in Spark and DuckDB, and partial sums of distinct
    bit weights never overflow: positives total at most 2^63-1)."""
    return -(2**63) if j == 63 else 2**j


def _jaccard_verify(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, a_col: str, b_col: str
) -> DataFrame:
    """Exact-Jaccard verification of a bounded candidate pair set — ONE
    definition shared by the self-join pass (verified_pairs) and the
    incremental pass (dedup_incremental): intersection via the candidate-
    driven shingle join, sizes over each side's distinct shingles, 6-dp
    rounding, VERIFY_JACCARD_MIN filter. Emits (a_col, b_col, inter,
    jaccard).

    ``sh_a``/``sh_b`` are the RAW (doc_id, shingle) streams (NOT yet
    deduplicated): each side is first SEMI-JOIN pruned to its own
    candidate doc ids (guide §3.2 — reduce the big side before it is
    shuffled; the id set is bounded by the banding caps, so the planner
    broadcasts it while it fits and falls back to a shuffled semi join
    beyond that — exact either way), and only the pruned stream is
    deduplicated — the distinct's exchange moves candidate docs'
    shingles, never the corpus's. NOTE: ``cand`` is consumed three times
    (two id projections + the intersection join); pass a checkpointed or
    cheap-lineage relation when the candidate generation is expensive."""
    ids_a = cand.select(F.col(a_col).alias("doc_id")).distinct()
    ids_b = cand.select(F.col(b_col).alias("doc_id")).distinct()
    dsh_a = sh_a.join(ids_a, "doc_id", "left_semi").distinct()
    dsh_b = sh_b.join(ids_b, "doc_id", "left_semi").distinct()
    sz_a = dsh_a.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_na"))
    sz_b = dsh_b.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_nb"))
    a = dsh_a.select(F.col("doc_id").alias(a_col), "shingle")
    b = dsh_b.select(F.col("doc_id").alias(b_col), "shingle")
    inter = (
        cand.join(a, a_col)
        .join(b, [b_col, "shingle"])
        .groupBy(a_col, b_col)
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sz_a.withColumnRenamed("doc_id", a_col), a_col)
        .join(sz_b.withColumnRenamed("doc_id", b_col), b_col)
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("_na") + F.col("_nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= VERIFY_JACCARD_MIN)
        .select(a_col, b_col, "inter", "jaccard")
    )


def verified_pairs(docs: DataFrame) -> DataFrame:
    """The production near-dup flow END TO END: MinHash-LSH candidate pairs
    (banded, band-capped) verified with the EXACT 3-gram Jaccard computed
    ONLY for those pairs — the verification join fans in from the bounded
    candidate set, never from raw shingle co-occurrence, so its cost is
    O(candidates x shingles-per-doc) at any corpus size. Survivors:
    jaccard >= VERIFY_JACCARD_MIN (matching the 4x4 banding's ~0.71
    similarity operating point with recall margin)."""
    cands = lsh_pairs(minhash_signatures(docs)).select("doc_a", "doc_b")
    sh = shingles(docs)
    return _jaccard_verify(cands, sh, sh, "doc_a", "doc_b")


# The dedup family's shared relations (sources.session_cache): each is
# consumed by several queries of one driver pass, so its lineage runs once.
# - minhash_sig: 16 int64s per doc, the smallest relation in the family; the
#   banded LSH build and the incremental query's two parity sides derive
#   from it by row-local filters.
# - lsh_pairs: the banded candidates, shared by the raw-pairs query, the
#   verified pass and the recall-curve audit.
# - jaccard_pairs: the exact within-source Jaccard truth, shared by the
#   ngram-Jaccard query and the recall-curve audit.
# - verified: the priciest lineage (shingle -> minhash -> band join ->
#   exact-Jaccard verify), shared by the verified-pairs and clusters
#   queries; pairs are a vanishing fraction of the corpus, so pinning them
#   is cheap. VERDICT round 2, 'What's wrong' #3.


def _minhash_sig_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "minhash_sig", spark, (sf_dir,),
        lambda: minhash_signatures(_docs_fanout(spark, sf_dir)),
    )


def _lsh_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "lsh_pairs", spark, (sf_dir,),
        lambda: lsh_pairs(_minhash_sig_cached(spark, sf_dir)),
    )


def _jaccard_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "jaccard_pairs", spark, (sf_dir,),
        lambda: jaccard_pairs(_docs_fanout(spark, sf_dir)),
    )


def _verified_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        docs = _docs_fanout(spark, sf_dir)
        # same lineage as verified_pairs (the raw builder plan tests
        # assert on), but the candidate side rides the shared band
        # relation so one driver pass computes signatures+banding once
        # across the raw-pairs, verified and recall-curve queries
        cands = _lsh_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
        sh = shingles(docs)
        return _jaccard_verify(cands, sh, sh, "doc_a", "doc_b")

    return shared("verified", spark, (sf_dir,), build)


def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _verified_cached(spark, sf_dir).select("doc_a", "doc_b", "inter", "jaccard")


q_dedup_minhash_verified.__doc__ = verified_pairs.__doc__


def q_dedup_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_pairs, j_min, j_max): similarity distribution of the
    verified near-dup pairs in tenth-wide buckets — the observability
    surface for the VERIFY_JACCARD_MIN threshold (is the mass hugging the
    cutoff, i.e. the banding operating point is tight, or bimodal near
    1.0, i.e. mostly true dups?). bucket = floor(jaccard*10) over the
    SAME 6dp-rounded double both engines already hash-match in
    dedup_minhash_verified, so the boundary decision is bit-identical by
    construction. Rides the per-session checkpointed verify lineage —
    another consumer of the one LSH+verify pass, zero extra corpus work;
    the agg is 6 groups."""
    ve = _verified_cached(spark, sf_dir)
    return (
        ve.select(F.expr("cast(floor(jaccard * 10) as int)").alias("bucket"), "jaccard")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("j_min"),
            F.max("jaccard").alias("j_max"),
        )
    )


ORACLE_JACCARD_HISTOGRAM = f"""
    WITH {_verified_cte()}
    SELECT CAST(floor(jaccard * 10) AS INTEGER) AS bucket,
           COUNT(*) AS n_pairs, MIN(jaccard) AS j_min, MAX(jaccard) AS j_max
    FROM ve GROUP BY bucket
"""


def simhash_signatures_df(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash — per-bit majority vote over word
    hashes, assembled into one signed bigint (bit 63 = sign bit, see
    _simhash_bit_weight). One narrow mapInArrow pass (no explode, no
    shuffle); see the kernel comment for the exactness argument.

    The 64 hash bits come from TWO exact 32-bit md5-prefix halves (hex
    chars 1-8 → bits 0-31, hex chars 9-16 → bits 32-63): a single 16-hex
    prefix would exceed int64 (and conv()'s bigint cast nulled out in the
    former expression form). Shared by the signature query and the
    hamming-pair generator."""
    import pyarrow as pa

    id_type = dict(docs.dtypes)["doc_id"]

    # one narrow mapInArrow pass: per-word hashlib md5 (the first 8 hex
    # chars are digest bytes 0-3 big-endian, chars 9-16 bytes 4-7), per-bit
    # ones counts as one numpy (n_words x 64) bit matrix per document, and
    # the majority/assembly in int64 with bit 63 = the two's-complement
    # sign weight — identical integers to the former explode + 64-sum agg
    # (including md5 of EMPTY tokens from consecutive spaces, which the
    # explode kept too).
    def _sig(batches):
        import hashlib

        md5 = hashlib.md5
        shifts1 = np.arange(32, dtype=np.int64)
        weights = np.asarray(
            [_simhash_bit_weight(j) for j in range(SIMHASH_BITS)], dtype=np.int64
        )
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids, sigs = [], []
            for d, t in zip(
                batch.column("doc_id").to_pylist(), batch.column("text").to_pylist()
            ):
                ws = t.split(" ")
                n = len(ws)
                hs = np.empty((n, 2), dtype=np.int64)
                for i, w in enumerate(ws):
                    dig = md5(w.encode()).digest()
                    hs[i, 0] = int.from_bytes(dig[:4], "big")
                    hs[i, 1] = int.from_bytes(dig[4:8], "big")
                ones1 = ((hs[:, 0:1] >> shifts1) & 1).sum(axis=0)
                ones2 = ((hs[:, 1:2] >> shifts1) & 1).sum(axis=0)
                ones = np.concatenate([ones1, ones2])
                sigs.append(int(weights[2 * ones > n].sum()))
                ids.append(d)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(np.asarray(sigs, dtype=np.int64))],
                names=["doc_id", "simhash"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        _sig, f"doc_id {id_type}, simhash bigint"
    )


# the 64-bit signature relation, shared per (session, sf_dir): the
# signature query, the pair generator and the dropped-bands audit all
# consume it — one driver pass runs the explode + 64-sum agg once
def _simhash_sig_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "simhash_sig", spark, (sf_dir,),
        lambda: simhash_signatures_df(_docs_fanout(spark, sf_dir)),
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_sig_cached(spark, sf_dir)


q_dedup_simhash.__doc__ = simhash_signatures_df.__doc__


def _duck_weight(j: int) -> str:
    # int64-min can't be written as a single literal (the positive half
    # overflows before negation in SQL parsing) — spell it arithmetically
    return "(-9223372036854775807 - 1)" if j == 63 else str(2**j)


_SIMHASH_SIG_CTE = f"""w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), hm AS (
      SELECT doc_id, md5(word) AS m FROM w
    ), h AS (
      SELECT doc_id,
             {hex_int_duck("m", 8, start=1)} AS h1,
             {hex_int_duck("m", 8, start=9)} AS h2
      FROM hm
    ), s AS (
      SELECT doc_id, COUNT(*) AS n,
             {', '.join(
               (f"SUM((h1 >> {j}) & 1) AS o{j}" if j < 32 else
                f"SUM((h2 >> {j - 32}) & 1) AS o{j}")
               for j in range(SIMHASH_BITS)
             )}
      FROM h GROUP BY doc_id
    ), sig AS (
      SELECT doc_id,
             CAST({' + '.join(
               f"CASE WHEN 2 * o{j} > n THEN {_duck_weight(j)} ELSE 0 END"
               for j in range(SIMHASH_BITS)
             )}
               AS BIGINT) AS simhash
      FROM s
    )"""

ORACLE_SIMHASH = f"""
    WITH {_SIMHASH_SIG_CTE}
    SELECT doc_id, simhash FROM sig
"""

# ---------------------------------------------------------------------------
# n-gram Jaccard verification (document-frequency-capped pair join)
# ---------------------------------------------------------------------------

def _drop_hot_keys(df: DataFrame, keys: tuple[str, ...], cap: int) -> DataFrame:
    """``df`` without the rows of any key group larger than ``cap`` — the
    one hot-key cap in front of every self-join: the windowed count shares
    the join's shuffle key, so capping adds no shuffle, and a hot key
    (boilerplate shingle, crowded band) carries no pair evidence but would
    fan the join out quadratically."""
    return (
        df.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col("_n") <= cap)
        .drop("_n")
    )


def jaccard_pairs(docs: DataFrame) -> DataFrame:
    """3-gram Jaccard for doc pairs sharing at least one NON-HOT shingle
    within the same source partition. Shingles with per-source document
    frequency above MAX_SHINGLE_DF are removed before the pair join
    (the windowed count shares the join's shuffle key); set sizes use the
    same filtered universe, so jaccard compares distinctive content."""
    sh = shingle_explode_distinct(docs, "source")
    sh = _drop_hot_keys(sh, ("source", "shingle"), MAX_SHINGLE_DF)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= 0.05)
        .select("doc_a", "doc_b", "inter", "jaccard")
    )


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs_cached(spark, sf_dir)


# one task's in-memory edge budget for the final union-find fold; above it
# the edge relation is first contracted per partition to spanning-forest
# edges (connectivity-preserving, row count never grows, cycles collapse)
CC_FOLD_EDGES = 5_000_000
# contraction rounds allowed before a still-over-budget edge relation fails
CC_MAX_ROUNDS = 50


def connected_components_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Exact connected components: nodes(doc_id) × edges(doc_a, doc_b)
    → (doc_id, cluster_id) with cluster_id = MIN doc_id of the connected
    component (isolated nodes label themselves).

    Shape: hierarchical spanning-forest reduction + one union-find fold.
    While the edge relation exceeds CC_FOLD_EDGES, each partition runs a
    local union-find (union-by-min, path compression) and emits its
    spanning forest as (root, member) edges — connectivity-preserving,
    never more rows than it read, and cycles/duplicate paths collapse, so
    hash-partitioning by doc_a contracts dense components fast. The final
    bounded relation folds in ONE task whose union-find labels every
    edge-touched node with its component minimum; singletons join back at
    the end. The result depends only on the edge SET (components are
    partition-order-free), so labels are deterministic under any shuffle.

    Why not iterative hash-min/pointer-jumping (the former shape): each
    round re-joined the label relation against itself, and on Spark 4.1.2
    a localCheckpoint-per-round loop of two-branch self-joins grows the
    checkpoint job ~2.4x PER ROUND even though the logical plan and the
    materialized data stay constant (measured: round 15 = 1.2 s, round 20
    = 144 s; a 1000-row repro blows up identically with reliable
    checkpoint() and with AQE off). The sf1.0 embedding graph needed ~25
    rounds → 731 s in BENCH_r07; this fold computes the same labels in
    ~1 s. Scale note: the fold's input is bounded by the number of
    edge-touched nodes — the near-dup graph is a vanishing fraction of
    the corpus (the same assumption the checkpointed pair relations make);
    CC_MAX_ROUNDS bounds the contraction rounds and a non-contracting
    over-budget relation fails loudly rather than returning partial
    labels (ADVICE round 2, item 4)."""
    import math

    from pyspark.sql.pandas.types import to_arrow_schema

    id_type = dict(edges.dtypes)["doc_a"]
    # materialize the edge set ONCE — its lineage (LSH + banding + verify)
    # must not recompute in the count and again in the fold, and the fold's
    # repartition(1) must read a materialized relation, not collapse the
    # upstream banding join onto one task
    e = edges.select("doc_a", "doc_b").localCheckpoint(eager=True)
    id_arrow = to_arrow_schema(e.schema).field("doc_a").type

    def _find(parent: dict, x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    def _union_all(parent: dict, batches) -> None:
        for batch in batches:
            for a, b in zip(batch.column("doc_a").to_pylist(), batch.column("doc_b").to_pylist()):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = _find(parent, a), _find(parent, b)
                if ra != rb:
                    # union-by-min: the root of every set is its minimum,
                    # matching the oracle's MIN(label) reachability
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra

    def _forest(batches):
        import pyarrow as pa

        parent: dict = {}
        _union_all(parent, batches)
        roots = [(_find(parent, x), x) for x in parent]
        rows = [(r, x) for r, x in roots if r != x]
        if rows:
            ra, xs = zip(*rows)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ra, id_arrow), pa.array(xs, id_arrow)], names=["doc_a", "doc_b"]
            )

    def _labels(batches):
        import pyarrow as pa

        parent: dict = {}
        _union_all(parent, batches)
        if parent:
            ks = list(parent)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ks, id_arrow), pa.array([_find(parent, x) for x in ks], id_arrow)],
                names=["doc_id", "cluster_id"],
            )

    n_e = e.count()
    rounds = 0
    while n_e > CC_FOLD_EDGES:
        if rounds >= CC_MAX_ROUNDS:
            raise RuntimeError(
                f"connected components did not converge in {CC_MAX_ROUNDS} rounds"
                f" ({n_e} forest edges still above the {CC_FOLD_EDGES}-edge"
                f" fold budget) — raise CC_MAX_ROUNDS or CC_FOLD_EDGES"
            )
        rounds += 1
        parts = int(math.ceil(n_e / CC_FOLD_EDGES))
        e = (
            e.repartition(parts, "doc_a")
            .mapInArrow(_forest, e.schema)
            .localCheckpoint(eager=True)
        )
        n_new = e.count()
        if n_new >= n_e:
            # acyclic input: contraction cannot shrink a forest further;
            # the single-task fold below is exact regardless
            break
        n_e = n_new
    labels = e.repartition(1).mapInArrow(
        _labels, f"doc_id {id_type}, cluster_id {id_type}"
    )
    return nodes.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment: connected components over the VERIFIED
    near-dup graph — the table a training pipeline keeps one document per
    cluster_id from. Every document appears (singletons cluster alone).
    The edge set is shared with q_dedup_minhash_verified via
    _verified_cached, so one driver pass runs LSH+verify once."""
    docs = load_table(spark, sf_dir, "documents")
    edges = _verified_cached(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components_labels(docs.select("doc_id"), edges)


ORACLE_JACCARD = f"""
    WITH sh0 AS ({shingles_cte_duck("source")}
    ), shs AS (
      SELECT DISTINCT doc_id, source, shingle FROM sh0
    ), shf AS (
      SELECT doc_id, source, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY source, shingle) AS df FROM shs
      ) WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shf a JOIN shf b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, inter,
           round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6) >= 0.05
"""


# ---------------------------------------------------------------------------
# Eval-set decontamination (n-gram overlap against a held-out table)
# ---------------------------------------------------------------------------

DECON_EVAL_MOD = 25  # deterministic eval split: doc_id % MOD == 0
DECON_MIN_SHARED = 3  # contaminated iff >= this many shared distinct 3-grams


def decontamination_overlap(corpus: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """(doc_id, eval_id, shared): training docs sharing >= DECON_MIN_SHARED
    distinct word-3-grams with a held-out eval document — the standard
    LLM-training eval-decontamination pass (flag and drop training examples
    that leak eval content).

    Scale shape (100 TB): corpus shingles are DF-capped first — a
    stop-shingle present in >MAX_SHINGLE_DF training docs carries no
    contamination evidence but would fan the join out by that DF — with
    the windowed count sharing the join's shuffle key (one corpus shuffle
    total, same trick as jaccard_pairs). The eval side is tiny by
    definition (eval suites are thousands of rows, not billions) →
    broadcast; the final (doc_id, eval_id) count is a partial-agg
    shuffle of matched rows only."""
    sh = shingle_explode_distinct(corpus)
    sh = _drop_hot_keys(sh, ("shingle",), MAX_SHINGLE_DF)
    ev = shingle_explode_distinct(eval_docs).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    return (
        sh.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= DECON_MIN_SHARED)
    )


def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination query over the documents table: docs with
    doc_id % DECON_EVAL_MOD == 0 stand in for the held-out eval table
    (same shape; deterministic in both engines), the rest are the
    training corpus."""
    docs = _docs_fanout(spark, sf_dir).select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % DECON_EVAL_MOD == 0)
    corpus = docs.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return decontamination_overlap(corpus, ev).select(
        "doc_id", "eval_id", F.col("shared").cast("bigint").alias("shared")
    )


ORACLE_DECON = f"""
    WITH shc0 AS ({shingles_cte_duck(where=f"doc_id % {DECON_EVAL_MOD} <> 0")}
    ), shc AS (
      SELECT doc_id, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM (SELECT DISTINCT doc_id, shingle FROM shc0)
      ) WHERE df <= {MAX_SHINGLE_DF}
    ), she0 AS ({shingles_cte_duck(where=f"doc_id % {DECON_EVAL_MOD} = 0")}
    ), she AS (
      SELECT DISTINCT doc_id AS eval_id, shingle FROM she0
    )
    SELECT c.doc_id, e.eval_id, CAST(COUNT(*) AS BIGINT) AS shared
    FROM shc c JOIN she e USING (shingle)
    GROUP BY c.doc_id, e.eval_id
    HAVING COUNT(*) >= {DECON_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# Exact-substring dedup (suffix-array-style longest shared run)
# ---------------------------------------------------------------------------

SUBSTR_K = 8  # seed k-gram width (words)
SUBSTR_MIN_RUN = 30  # report pairs sharing an exact run of >= this many words
MAX_KGRAM_DF = 32  # occurrence cap: hotter k-grams are boilerplate, not copies


def _kgram_expr(k: int) -> str:
    """Positional word k-gram hashes as one array expression over the
    pre-split `_words` column (same non-CSE rationale as the shingle
    expression): element i = md5 of words[i..i+k-1]. ONE md5 per k-gram."""
    return (
        f"CASE WHEN size(_words) >= {k} THEN"
        f" transform(sequence(0, size(_words) - {k}),"
        f"   i -> md5(cast(concat_ws(' ', slice(_words, i + 1, {k})) as binary)))"
        f" ELSE array() END"
    )


def exact_substring_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, run_words): document pairs sharing a VERBATIM word
    run of >= SUBSTR_MIN_RUN words, with run_words the longest such run —
    the 'deduplicating training data' exact-substring pass (the suffix
    -array ~50-token rule), re-expressed relationally:

    two docs share an L-word verbatim run iff they share L-k+1 (k = SUBSTR_K)
    CONSECUTIVE positional k-grams on one alignment diagonal
    (pos_a - pos_b constant). So: positional k-gram hashes (narrow
    explode, one md5 each) → occurrence-cap hot k-grams (windowed count
    on the join's own shuffle key, one shuffle — boilerplate k-grams
    carry no copy evidence but would fan the join quadratically) →
    equi-join on hash → gaps-and-islands per (pair, diagonal) → max
    island + k - 1 words.

    All arithmetic is exact integers on md5-equality matches — DuckDB
    oracle is the same algebra (ORACLE_SUBSTR)."""
    k = SUBSTR_K
    kg = (
        docs.withColumn("_words", F.split("text", " "))
        .select("doc_id", F.posexplode(F.expr(_kgram_expr(k))).alias("pos", "kh"))
    )
    kg = _drop_hot_keys(kg, ("kh",), MAX_KGRAM_DF)
    a, b = kg.alias("a"), kg.alias("b")
    m = a.join(
        b, (F.col("a.kh") == F.col("b.kh")) & (F.col("a.doc_id") < F.col("b.doc_id"))
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        (F.col("a.pos") - F.col("b.pos")).alias("diag"),
    )
    wr = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = (
        m.withColumn("grp", F.col("pa") - F.row_number().over(wr))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(k - 1)).alias("run_words"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("run_words").cast("bigint").alias("run_words"))
        .filter(F.col("run_words") >= SUBSTR_MIN_RUN)
    )


def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_fanout(spark, sf_dir).select("doc_id", "text")
    return exact_substring_pairs(docs)


q_dedup_exact_substring.__doc__ = exact_substring_pairs.__doc__

ORACLE_SUBSTR = f"""
    WITH kg0 AS (
      SELECT doc_id, i AS pos,
             md5(array_to_string(string_split(text, ' ')[i:i+{SUBSTR_K - 1}], ' ')) AS kh
      FROM documents,
           LATERAL unnest(generate_series(1,
             greatest(len(string_split(text, ' ')) - {SUBSTR_K - 1}, 0))) AS t(i)
    ), kg AS (
      SELECT doc_id, pos, kh FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY kh) AS n FROM kg0
      ) WHERE n <= {MAX_KGRAM_DF}
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa,
             a.pos - b.pos AS diag
      FROM kg a JOIN kg b ON a.kh = b.kh AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT doc_a, doc_b, diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                     ORDER BY pa) AS grp
      FROM m
    ), runs AS (
      SELECT doc_a, doc_b, COUNT(*) + {SUBSTR_K - 1} AS run_words
      FROM isl GROUP BY doc_a, doc_b, diag, grp
    )
    SELECT doc_a, doc_b, CAST(MAX(run_words) AS BIGINT) AS run_words
    FROM runs GROUP BY doc_a, doc_b
    HAVING MAX(run_words) >= {SUBSTR_MIN_RUN}
"""


# ---------------------------------------------------------------------------
# Intra-document repetition (Gopher-style duplicate n-gram mass)
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, total_ngrams, distinct_ngrams, dup_per_million): the
    Gopher-family intra-document repetition signal — the fraction of a
    document's word-3-grams that are repeats of earlier ones (cross-doc
    repetition is boilerplate_ratio's job; this catches looping/spammy
    text WITHIN one doc). dup_per_million is exact integer arithmetic
    ((total - distinct) * 1e6 div total) so both engines agree bit-wise
    without float division. Docs with < 3 words have no 3-grams and are
    absent in both engines (the size > 0 filter mirrors what the explode
    used to drop). Scale shape: fully NARROW — the counts are per-doc
    array sizes (size / size∘array_distinct over the shingle array), so
    there is no shuffle at all; the former explode + groupBy moved every
    shingle through an exchange to compute a per-row quantity. SINGLE
    definition — the standalone query and the composite cleaning filter
    (textstats.q_corpus_clean_filter) both consume this builder."""
    # the absence filter is on the WORD count (>= 3 words ⟺ >= 1 shingle),
    # not on size(_sh): a size(_sh) > 0 filter gets predicate-pushed below
    # the projections with the whole shingle lambda INLINED — including
    # split(text) inside the per-element lambda, the documented O(words^2)
    # re-split trap (measured 3x slower at sf1.0)
    arr = (
        docs.withColumn("_words", F.split("text", " "))
        .where(F.expr("size(_words) >= 3"))
        .select("doc_id", F.expr(_SHINGLES_FROM_WORDS).alias("_sh"))
    )
    return (
        arr
        .select(
            "doc_id",
            F.expr("size(_sh)").cast("bigint").alias("total_ngrams"),
            F.expr("size(array_distinct(_sh))").cast("bigint").alias("distinct_ngrams"),
        )
        .withColumn(
            "dup_per_million",
            F.expr("(total_ngrams - distinct_ngrams) * 1000000L div total_ngrams"),
        )
    )


# per-doc repetition stats, shared per (session, sf_dir): consumed by
# the repetition_ratio query AND the clean-filter rule stack
def _rep_stats_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "rep_stats", spark, (sf_dir,),
        lambda: repetition_stats(
            _docs_fanout(spark, sf_dir).select("doc_id", "text")
        ),
    )


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _rep_stats_cached(spark, sf_dir)


q_repetition_ratio.__doc__ = repetition_stats.__doc__


def repetition_cte_duck() -> str:
    """DuckDB twin of repetition_stats as a CTE body (shingles via the
    shared shingles_cte_duck definition) yielding rep(doc_id,
    total_ngrams, distinct_ngrams, dup_per_million)."""
    return f"""rep AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_ngrams,
             CAST(COUNT(DISTINCT shingle) AS BIGINT) AS distinct_ngrams,
             CAST(((COUNT(*) - COUNT(DISTINCT shingle)) * 1000000) // COUNT(*)
                  AS BIGINT) AS dup_per_million
      FROM ({shingles_cte_duck()}) GROUP BY doc_id
    )"""


ORACLE_REPETITION = f"""
    WITH {repetition_cte_duck()}
    SELECT doc_id, total_ngrams, distinct_ngrams, dup_per_million FROM rep
"""


# ---------------------------------------------------------------------------
# paragraph-level dedup (CCNet-style: drop repeated passages, keep one copy)
# ---------------------------------------------------------------------------

PARA_WORDS = 8  # passage unit: non-overlapping 8-word chunks (+ partial tail)
# packed (doc_id, chunk_no) key: chunk_no < 2^20 holds to ~8.4M-word docs,
# far past any web-crawl document; lets both engines take MIN over one int64
# instead of a struct (DuckDB struct MIN ordering is not guaranteed portable).
# The pack equally implies doc_id < 2^43 (~8.8e12): past it Spark (non-ANSI)
# WRAPS silently and picks wrong canonical copies while DuckDB raises —
# the no-silent-caps convention wants the bound stated (ADVICE r7 item 4)
_PARA_PK = 1 << 20


def chunk_relation(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_no, chunk, h): the passage-chunk definition —
    non-overlapping PARA_WORDS-word windows (+ partial tail) with md5
    chunk hashes. Narrow: split -> posexplode, no shuffle."""
    w = docs.where(F.length("text") > 0).select(
        "doc_id", F.split("text", " ").alias("words")
    )
    # ceil(n/8) via int arithmetic; n >= 1 here so sequence() is ascending
    ch = w.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(words) + {PARA_WORDS - 1})"
                f" div {PARA_WORDS} - 1),"
                f" i -> array_join(slice(words, i * {PARA_WORDS} + 1,"
                f" {PARA_WORDS}), ' '))"
            )
        ).alias("chunk_no", "chunk"),
    )
    return ch.select(
        "doc_id",
        "chunk_no",
        "chunk",
        F.md5("chunk").alias("h"),
    )


def paragraph_dedup(docs: DataFrame) -> DataFrame:
    """CCNet-style passage dedup (Wenzek et al. 2020): split each doc into
    non-overlapping PARA_WORDS-word chunks (the paragraph proxy — the
    corpus has no newlines), hash each, and keep exactly ONE copy of every
    distinct chunk corpus-wide — the copy with the smallest (doc_id,
    chunk_no). Emits per doc: chunk counts kept/dropped and an md5 over
    the RETAINED text in chunk order, pinning the exact surviving bytes.

    Scale shape: chunk hashes go through a groupBy partial agg (map-side
    combine — a boilerplate chunk repeated 10^8 times never concentrates
    raw rows the way a row_number window over the hash would), then a
    hash-equi join back; AQE handles residual join skew. Two shuffles
    total (hash, then doc_id re-agg). No UDF, no driver fetch."""
    keyed = chunk_relation(docs).withColumn(
        "pk", F.col("doc_id") * F.lit(_PARA_PK) + F.col("chunk_no")
    )
    canon = keyed.groupBy("h").agg(F.min("pk").alias("canon_pk"))
    return (
        keyed.join(canon, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("pk") == F.col("canon_pk"), 1).otherwise(0)).alias(
                "kept_chunks"
            ),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list("
                        "  case when pk = canon_pk then struct(chunk_no, chunk) end)),"
                        " x -> x.chunk)"
                    ),
                    " ",
                )
            ).alias("retained_md5"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "kept_chunks",
            (F.col("n_chunks") - F.col("kept_chunks")).alias("dropped_chunks"),
            "retained_md5",
        )
    )


def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup(
        _docs_fanout(spark, sf_dir).select("doc_id", "text")
    )


q_dedup_paragraph.__doc__ = paragraph_dedup.__doc__


ORACLE_DEDUP_PARAGRAPH = f"""
    WITH wds AS (
      SELECT doc_id, string_split(text, ' ') AS words
      FROM documents WHERE len(text) > 0
    ), ch AS (
      SELECT doc_id, CAST(t.i AS BIGINT) AS chunk_no,
             array_to_string(
               words[(t.i * {PARA_WORDS} + 1):(t.i * {PARA_WORDS} + {PARA_WORDS})],
               ' ') AS chunk
      FROM wds, UNNEST(range((len(words) + {PARA_WORDS - 1}) // {PARA_WORDS}))
           AS t(i)
    ), k AS (
      SELECT doc_id, chunk_no, chunk, md5(chunk) AS h,
             doc_id * {_PARA_PK} + chunk_no AS pk
      FROM ch
    ), c AS (
      SELECT h, MIN(pk) AS canon_pk FROM k GROUP BY h
    )
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN pk = canon_pk THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_chunks,
           CAST(COUNT(*) - SUM(CASE WHEN pk = canon_pk THEN 1 ELSE 0 END)
                AS BIGINT) AS dropped_chunks,
           md5(coalesce(string_agg(chunk, ' ' ORDER BY chunk_no)
                          FILTER (WHERE pk = canon_pk), '')) AS retained_md5
    FROM k JOIN c USING (h)
    GROUP BY k.doc_id
"""


# ---------------------------------------------------------------------------
# SimHash hamming-distance pair generation (pigeonhole banding)
# ---------------------------------------------------------------------------

SIMHASH_BANDS = 4  # 16 bits per band at SIMHASH_BITS=64
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1  # 65535
SIMHASH_MAX_HAMMING = 1  # near-dup operating point on this corpus's vocab
SIMHASH_BAND_CAP = 100  # band groups above this are degenerate hot values


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming): document pairs whose 64-bit SimHash
    signatures differ in <= SIMHASH_MAX_HAMMING bits — the signature family's
    own pair generator, completing it to the candidates→verify shape the
    MinHash and embedding families already have.

    Pigeonhole banding: split the signature into SIMHASH_BANDS 16-bit
    bands (65536 values each — widened from 8-bit bands in round 5, the
    widening the old docstring prescribed for 10^9+ docs, where a 256-value
    band space saturates with random collisions); hamming <= bands-1
    guarantees at least one band equal, so the candidate join is an
    EQUI-join on (band_no, band_val) — never an all-pairs product.
    Over-cap band groups are dropped first (the windowed count shares the
    join's shuffle key; a band value carried by half the corpus is
    vocabulary skew, not duplication evidence). RECALL CAVEAT (ADVICE r4):
    the cap also drops a true near-dup pair whose ONLY shared band value
    is over-cap — both engines agree so the oracle gate cannot see it;
    callers needing a recall floor should raise SIMHASH_BAND_CAP or run
    exact dedup first (which removes the degenerate cliques that make
    band values hot). Verification is exact: bit_count(xor) on the
    carried signatures, no second scan."""
    sig = simhash_signatures_df(docs)
    out = hamming_pairs(sig, "doc_id", "simhash")
    return out.select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "hamming",
    )


def _signature_bands(sig: DataFrame, id_col: str, sig_col: str) -> DataFrame:
    """Explode a 64-bit signature relation into (id, sig, band_no,
    band_val) — the ONE banding definition shared by the pair join and the
    over-cap audit (band_overcap_groups), so both always see identical
    band values."""
    return sig.select(
        id_col,
        sig_col,
        # arithmetic-vs-logical shift fill bits are masked off by the band
        # mask, so the value is engine-independent even for negative
        # signatures (bit 63 = sign bit)
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"({sig_col} >> {SIMHASH_BAND_BITS * b}) & {SIMHASH_BAND_MASK}"
                    ).cast("int")
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_no", "band_val"),
    )


def band_overcap_groups(sig: DataFrame, id_col: str, sig_col: str) -> DataFrame:
    """(band_no, band_val, n): the band groups the cap DROPS from
    hamming_pairs' candidate join — the no-silent-caps audit relation
    (VERDICT r5 item 3b). A pair whose only shared band value lands in one
    of these groups is invisible to the pair generator; this relation makes
    the recall cost queryable instead of silent. Same banding definition as
    the join (_signature_bands), single partial-agg shuffle, output is
    bounded by the number of hot band values (tiny by construction — a
    group must exceed the cap to appear)."""
    return (
        _signature_bands(sig, id_col, sig_col)
        .groupBy("band_no", "band_val")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > SIMHASH_BAND_CAP)
    )


def hamming_pairs(
    sig: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """Generic pigeonhole hamming-pair generator over ANY 64-bit signature
    relation — shared by text SimHash (simhash_pairs) and the image
    perceptual dHash (media.media_dhash): split the signature into
    SIMHASH_BANDS 16-bit bands, drop over-cap band groups (windowed count
    sharing the join's shuffle key), EQUI-join on (band_no, band_val),
    verify with exact bit_count(xor). Output columns
    (``{id}_a``, ``{id}_b``, hamming). Same pigeonhole guard and band-cap
    recall caveat as simhash_pairs (its docstring is the contract)."""
    if max_hamming > SIMHASH_BANDS - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole bound of "
            f"{SIMHASH_BANDS}-band banding ({SIMHASH_BANDS - 1}): pairs at "
            "that distance can share no band and would be silently missed — "
            "widen the signature/bands instead"
        )
    bands = _signature_bands(sig, id_col, sig_col)
    bands = _drop_hot_keys(bands, ("band_no", "band_val"), SIMHASH_BAND_CAP)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
            F.col(f"a.{sig_col}").alias("sig_a"),
            F.col(f"b.{sig_col}").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.expr("bit_count(sig_a ^ sig_b)").cast("bigint")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(f"{id_col}_a", f"{id_col}_b", "hamming")
    )


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same lineage as simhash_pairs (the raw builder), riding the
    # session-checkpointed signature relation
    out = hamming_pairs(_simhash_sig_cached(spark, sf_dir), "doc_id", "simhash")
    return out.select(
        F.col("doc_id_a").alias("doc_a"),
        F.col("doc_id_b").alias("doc_b"),
        "hamming",
    )


q_dedup_simhash_pairs.__doc__ = simhash_pairs.__doc__


def q_dedup_simhash_dropped_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return band_overcap_groups(
        _simhash_sig_cached(spark, sf_dir), "doc_id", "simhash"
    )


q_dedup_simhash_dropped_bands.__doc__ = band_overcap_groups.__doc__

ORACLE_SIMHASH_DROPPED_BANDS = f"""
    WITH {_SIMHASH_SIG_CTE},
    bands AS (
      SELECT doc_id, CAST(t.b AS INTEGER) AS band_no,
             CAST((simhash >> ({SIMHASH_BAND_BITS} * t.b)) & {SIMHASH_BAND_MASK}
                  AS INTEGER) AS band_val
      FROM sig CROSS JOIN generate_series(0, {SIMHASH_BANDS - 1}) AS t(b)
    )
    SELECT band_no, band_val, CAST(COUNT(*) AS BIGINT) AS n
    FROM bands GROUP BY band_no, band_val
    HAVING COUNT(*) > {SIMHASH_BAND_CAP}
"""

ORACLE_SIMHASH_PAIRS = f"""
    WITH {_SIMHASH_SIG_CTE},
    bands AS (
      SELECT doc_id, simhash, t.b AS band_no,
             CAST((simhash >> ({SIMHASH_BAND_BITS} * t.b)) & {SIMHASH_BAND_MASK}
                  AS INTEGER) AS band_val
      FROM sig CROSS JOIN generate_series(0, {SIMHASH_BANDS - 1}) AS t(b)
    ), ok AS (
      SELECT band_no, band_val FROM bands
      GROUP BY band_no, band_val HAVING COUNT(*) <= {SIMHASH_BAND_CAP}
    ), bc AS (
      SELECT bands.* FROM bands JOIN ok USING (band_no, band_val)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sig_a, b.simhash AS sig_b
      FROM bc a JOIN bc b
        ON a.band_no = b.band_no AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_MAX_HAMMING}
"""


# ---------------------------------------------------------------------------
# Incremental dedup: new ingest batch vs existing corpus
# ---------------------------------------------------------------------------


def minhash_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_no, band_key) from a minhash_signatures relation —
    the banding step alone, shared by the self-join pair generator
    (lsh_pairs) and the cross-side incremental join below."""
    bands = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"h{ROWS_PER_BAND * b + k}").cast("string")
                        for k in range(ROWS_PER_BAND)
                    ],
                ).cast("binary")
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(bands).alias("band_no", "band_key"))


def _capped_bands(bands: DataFrame) -> DataFrame:
    return _drop_hot_keys(bands, ("band_no", "band_key"), BAND_CAP)


def dedup_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    sig_new: DataFrame | None = None,
    sig_corpus: DataFrame | None = None,
) -> DataFrame:
    """(doc_new, doc_corpus, inter, jaccard): verified near-dup matches of
    an INGEST BATCH against an EXISTING corpus — the production
    incremental shape (the batch self-join pass dedups a corpus once; this
    keeps it deduped as new data lands). Candidate generation joins the NEW
    side's band keys against the CORPUS side's only — no new x new or
    corpus x corpus pairs are ever generated, so per ingest the cost is
    O(batch bands ⋈ corpus bands), not another full-corpus pass. Each
    side's over-cap band groups drop independently (same cap semantics as
    lsh_pairs, applied per side). Verification is the exact DF-bounded
    Jaccard of verified_pairs; matches survive at >= VERIFY_JACCARD_MIN.

    At scale the corpus band relation is the PERSISTED index (write it
    once, append each batch's bands after its pass) — here it is computed
    from the corpus frame; the shape is identical either way. Callers
    holding an already-built signature relation pass it via sig_new /
    sig_corpus (signatures are row-local, so a side's signatures are
    exactly the full relation filtered to that side's doc_ids)."""
    if sig_new is None:
        sig_new = minhash_signatures(new_docs)
    if sig_corpus is None:
        sig_corpus = minhash_signatures(corpus_docs)
    bn = _capped_bands(minhash_bands(sig_new))
    bc = _capped_bands(minhash_bands(sig_corpus))
    cand = (
        bn.select(F.col("doc_id").alias("doc_new"), "band_no", "band_key")
        .join(
            bc.select(F.col("doc_id").alias("doc_corpus"), "band_no", "band_key"),
            ["band_no", "band_key"],
        )
        .select("doc_new", "doc_corpus")
        .distinct()
        # bounded pair set, consumed three times by the verify (two id
        # projections + the intersection join) — truncate so the banding
        # + signature lineage runs once, not three times
        .localCheckpoint(eager=True)
    )
    return _jaccard_verify(
        cand,
        shingles(new_docs),
        shingles(corpus_docs),
        "doc_new",
        "doc_corpus",
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver form of the incremental pass over the single documents
    table: a deterministic in-query split plays the two roles — even
    doc_ids are the EXISTING corpus, odd doc_ids the NEW batch (both
    engines split identically, so the oracle sees the same sides). Both
    parity sides' signatures are row-local filters of the session-shared
    signature relation — the kernel pass runs once per driver pass, not
    once per side."""
    docs = _docs_fanout(spark, sf_dir)
    sig = _minhash_sig_cached(spark, sf_dir)
    return dedup_incremental(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        sig_new=sig.filter(F.col("doc_id") % 2 == 1),
        sig_corpus=sig.filter(F.col("doc_id") % 2 == 0),
    )


ORACLE_DEDUP_INCREMENTAL = f"""
    WITH {_minhash_sig_banded0_cte()},
    bn AS (
      SELECT doc_id, band_no, band_key FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_no, band_key) AS n
        FROM banded0 WHERE doc_id % 2 = 1
      ) WHERE n <= {BAND_CAP}
    ),
    bc AS (
      SELECT doc_id, band_no, band_key FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_no, band_key) AS n
        FROM banded0 WHERE doc_id % 2 = 0
      ) WHERE n <= {BAND_CAP}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_new, c.doc_id AS doc_corpus
      FROM bn n JOIN bc c
        ON c.band_no = n.band_no AND c.band_key = n.band_key
    ),
    dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_new, c.doc_corpus, COUNT(*) AS inter
      FROM cand c
      JOIN dsh sa ON sa.doc_id = c.doc_new
      JOIN dsh sb ON sb.doc_id = c.doc_corpus AND sb.shingle = sa.shingle
      GROUP BY c.doc_new, c.doc_corpus
    )
    SELECT i.doc_new, i.doc_corpus, i.inter,
           round(i.inter / CAST(na.n + nb.n - i.inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_new
    JOIN sizes nb ON nb.doc_id = i.doc_corpus
    WHERE round(i.inter / CAST(na.n + nb.n - i.inter AS DOUBLE), 6)
          >= {VERIFY_JACCARD_MIN}
"""


# ---------------------------------------------------------------------------
# Bloom-filter ingest pre-filter: the cheap membership gate in front of
# exact dedup at ingest time — build one bit_or-folded filter over the
# corpus keys, probe the new batch, and expose false positives by exact
# verification (observability per the no-silent-caps convention)
# ---------------------------------------------------------------------------

# 63-bit filter words: bit index stays in [0, 62] so neither engine ever
# shifts into the int64 sign bit (DuckDB RAISES on 1::BIGINT << 63).
BLOOM_WORD_BITS = 63
BLOOM_K = 4  # four DISJOINT 8-hex slices of one md5 = 4 independent 32-bit hashes
BLOOM_MIN_WORDS = 16
BLOOM_BITS_PER_KEY = 10  # m ~= 10n -> ~1.2% FP at the classic k=4 sizing


def _bloom_word_count_expr(n_col: str) -> str:
    """words = max(MIN, ceil(BITS_PER_KEY * n / 63)) — pure integer algebra
    (no float log2), so Spark and DuckDB derive the SAME filter geometry
    from the corpus count, the dynamic-LSH-bits lesson without the
    float edge."""
    return (
        f"greatest({BLOOM_MIN_WORDS}L,"
        f" cast(({BLOOM_BITS_PER_KEY} * {n_col} + {BLOOM_WORD_BITS - 1})"
        f" div {BLOOM_WORD_BITS} as bigint))"
    )


def _bloom_positions(keyed: DataFrame) -> DataFrame:
    """(doc_id, p): the BLOOM_K bit positions of each key. ``keyed`` must
    carry (doc_id, h = md5 hex of the key, words). Slice j reads hex chars
    8j+1..8j+8 — disjoint md5 substrings are independent 32-bit draws, so
    no affine remixing (and no wrapping-family pitfall) is needed."""
    slices = ", ".join(
        f"{hex_int_spark('h', 8, start=8 * j + 1)} % ({BLOOM_WORD_BITS} * words)"
        for j in range(BLOOM_K)
    )
    return keyed.select("doc_id", F.expr(f"explode(array({slices}))").alias("p"))


def bloom_filter_words(corpus_keyed: DataFrame) -> DataFrame:
    """(word, bits): the corpus Bloom filter as bit_or-folded 63-bit words
    — ONE partial-agg shuffle over BLOOM_K rows per key; the filter
    relation is ~n/6.3 rows (bits/key=10), i.e. ~1.6% of the corpus row
    count, and is the thing a production ingest PERSISTS between batches."""
    return (
        _bloom_positions(corpus_keyed)
        .select(
            F.expr(f"p div {BLOOM_WORD_BITS}").alias("word"),
            F.expr(f"shiftleft(1L, cast(p % {BLOOM_WORD_BITS} as int))").alias("m"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )


def keyed_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, h): the md5 content-key relation of a documents frame —
    the relation a production ingest computes ONCE per pass (checkpointed
    or persisted) and feeds to both the Bloom filter build and the exact
    verify. ADVICE r6 item 4: building it independently on each side
    doubles the corpus-wide md5+scan, the dominant cost of the stage at
    real corpus scale; jobs/ingest_job.py passes a checkpointed instance
    into dedup_bloom_ingest via new_keyed/corpus_keyed."""
    return docs.select("doc_id", F.expr("md5(cast(text as binary))").alias("h"))


def dedup_bloom_ingest(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    new_keyed: DataFrame | None = None,
    corpus_keyed: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, bloom_hit, exact_dup) per NEW-batch doc: probe the corpus
    Bloom filter with the batch's text-md5 keys, then exact-verify every
    probe against the corpus key set. bloom_hit=false GUARANTEES
    exact_dup=false (Bloom filters have no false negatives — pinned in
    pytest); bloom_hit & !exact_dup rows are the measured false-positive
    mass, the filter's observability surface.

    Scale shape: the filter build is one partial-agg shuffle; the probe
    is an equi-join on word (UNHINTED on purpose — at ingest scale the
    persisted filter relation grows ~n/6.3 rows, far past broadcast, and
    a shuffled equi-join on word is the correct plan; AQE will broadcast
    it when it IS small). The exact verify joins on the md5 key — only
    the standard hash-groupBy dedup shape, never all-pairs. At a real
    deployment the per-batch pipeline is: probe (drops ~99% of novel
    keys with 0 corpus I/O when the filter is cached) -> exact verify of
    the hits only; here both flags are emitted for every batch doc so the
    FP rate is directly queryable.

    ``new_keyed``/``corpus_keyed`` inject pre-computed (doc_id, h) key
    relations (keyed_docs shape) so a caller that already holds them —
    checkpointed, or persisted between batches — avoids re-running the
    corpus-wide md5+scan on both consuming sides (ADVICE r6 item 4)."""
    ck0 = corpus_keyed if corpus_keyed is not None else keyed_docs(corpus_docs)
    pk0 = new_keyed if new_keyed is not None else keyed_docs(new_docs)
    nw = ck0.select(F.expr(_bloom_word_count_expr("count(*)")).alias("words"))
    ck = ck0.crossJoin(F.broadcast(nw))
    pk = pk0.crossJoin(F.broadcast(nw))
    fw = bloom_filter_words(ck)
    probe = (
        _bloom_positions(pk)
        .select(
            "doc_id",
            F.expr(f"p div {BLOOM_WORD_BITS}").alias("word"),
            F.expr(f"shiftleft(1L, cast(p % {BLOOM_WORD_BITS} as int))").alias("m"),
        )
        .join(fw, "word", "left")
        .groupBy("doc_id")
        .agg(F.expr("bool_and((coalesce(bits, 0L) & m) = m)").alias("bloom_hit"))
    )
    exact = (
        pk.select("doc_id", "h")
        .join(ck.select("h").distinct().withColumn("e", F.lit(1)), "h", "left")
        .select("doc_id", F.expr("e IS NOT NULL").alias("exact_dup"))
    )
    return probe.join(exact, "doc_id")


def q_dedup_bloom_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver form over the single documents table with the
    dedup_incremental split convention: even doc_ids are the corpus, odd
    the new batch."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup_bloom_ingest(
        docs.filter(F.col("doc_id") % 2 == 1), docs.filter(F.col("doc_id") % 2 == 0)
    )


_BLOOM_H8 = [
    hex_int_duck("h", 8, start=8 * j + 1) for j in range(BLOOM_K)
]

ORACLE_DEDUP_BLOOM = f"""
    WITH nw AS (
      SELECT GREATEST({BLOOM_MIN_WORDS},
               ({BLOOM_BITS_PER_KEY} * COUNT(*) + {BLOOM_WORD_BITS - 1})
               // {BLOOM_WORD_BITS}) AS words
      FROM documents WHERE doc_id % 2 = 0
    ), ck AS (
      SELECT doc_id, md5(text) AS h, words
      FROM documents, nw WHERE doc_id % 2 = 0
    ), pk AS (
      SELECT doc_id, md5(text) AS h, words
      FROM documents, nw WHERE doc_id % 2 = 1
    ), cpos AS (
      SELECT doc_id,
             unnest([{", ".join(f"{e} % ({BLOOM_WORD_BITS} * words)" for e in _BLOOM_H8)}]) AS p
      FROM ck
    ), fw AS (
      SELECT p // {BLOOM_WORD_BITS} AS word,
             bit_or(1::BIGINT << CAST(p % {BLOOM_WORD_BITS} AS INT)) AS bits
      FROM cpos GROUP BY 1
    ), ppos AS (
      SELECT doc_id,
             unnest([{", ".join(f"{e} % ({BLOOM_WORD_BITS} * words)" for e in _BLOOM_H8)}]) AS p
      FROM pk
    ), probe AS (
      SELECT q.doc_id,
             bool_and((COALESCE(f.bits, 0) & (1::BIGINT << CAST(q.p % {BLOOM_WORD_BITS} AS INT)))
                      = (1::BIGINT << CAST(q.p % {BLOOM_WORD_BITS} AS INT))) AS bloom_hit
      FROM (SELECT doc_id, p, p // {BLOOM_WORD_BITS} AS word FROM ppos) q
      LEFT JOIN fw f USING (word)
      GROUP BY q.doc_id
    ), exact AS (
      SELECT pk.doc_id, COUNT(ck.h) > 0 AS exact_dup
      FROM pk LEFT JOIN (SELECT DISTINCT h FROM ck) ck USING (h)
      GROUP BY pk.doc_id
    )
    SELECT probe.doc_id, probe.bloom_hit, exact.exact_dup
    FROM probe JOIN exact USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup — Rabin-style boundary selection
# ---------------------------------------------------------------------------

CDC_W = 4  # rolling boundary-hash window (words)
CDC_D = 8  # boundary divisor: P(boundary per window) = 1/D → mean chunk ≈ D words


def cdc_chunk_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk_no, n_words, chunk_key): variable-size CONTENT-DEFINED
    chunks (Rabin/LBFS-style CDC, Muthitacharoen et al. 2001). A chunk
    boundary falls AFTER word ``e`` (0-based) whenever the CDC_W-word
    window ending at ``e`` hashes to 0 mod CDC_D; the final boundary is
    forced at the last word (the last window is exempt from the hash test
    so the forced boundary is never duplicated — no order-fragile
    distinct needed). Because the boundary decision depends only on the
    window CONTENT, an insertion/deletion redraws chunks only up to the
    first surviving boundary past the edit — every later chunk keeps its
    byte-identical key (the shift-survival property fixed-size blocking
    lacks; pinned in pytest).

    Complements winnowing (`textstats.winnow_fingerprints`): winnowing
    SAMPLES min-hash fingerprints for similarity detection; CDC
    PARTITIONS the whole text so every word belongs to exactly one chunk
    — the storage-dedup / shared-passage-mass shape. Per doc the chunking
    is one narrow array-expression pass (no shuffle until the chunk-key
    aggregation). The reference has no text pipeline; this extends the
    dedup family per SURVEY §2's training-data-pipeline scope."""
    n = "size(_words)"
    h = md5_int_spark(
        f"cast(concat_ws(' ', slice(_words, s + 1, {CDC_W})) as binary)", 8
    )
    # candidate ends: s in [0, n-W-1] (the window ending at the last word
    # is exempt — its boundary is forced below), e = s + W - 1
    cands = (
        f"CASE WHEN {n} >= {CDC_W + 1} THEN"
        f" transform(filter(sequence(0, {n} - {CDC_W + 1}),"
        f"   s -> {h} % {CDC_D} = 0), s -> s + {CDC_W - 1})"
        f" ELSE array() END"
    )
    chunks = (
        "transform(sequence(0, size(_bounds) - 1), k -> struct("
        " k as chunk_no,"
        " CASE WHEN k = 0 THEN 0 ELSE element_at(_bounds, k) + 1 END as st,"
        " element_at(_bounds, k + 1) as en))"
    )
    return (
        docs.withColumn("_words", F.split("text", " "))
        .withColumn("_bounds", F.expr(f"concat({cands}, array({n} - 1))"))
        .select("doc_id", "_words", F.explode(F.expr(chunks)).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_no").alias("chunk_no"),
            (F.col("c.en") - F.col("c.st") + F.lit(1)).cast("bigint").alias("n_words"),
            F.expr(
                "md5(cast(concat_ws(' ', slice(_words, c.st + 1, c.en - c.st + 1))"
                " as binary))"
            ).alias("chunk_key"),
        )
    )


# the chunk relation is consumed by BOTH CDC queries in one driver pass;
# it is shared per (session, sf_dir) through sources.session_cache (the
# per-window md5 chunking is the expensive part, the downstream aggs are
# cheap)
def _cdc_rows_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        "cdc_rows", spark, (sf_dir,),
        lambda: cdc_chunk_rows(_docs_fanout(spark, sf_dir)),
    )


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc chunk-level dedup mass: how much of each document is made of
    chunks that also appear in at least one OTHER document — the exact
    storage-dedup estimate chunk stores compute, and the shared-passage
    evidence doc-level exact dedup cannot see. shared_word_ppm is an exact
    integer (floor of the per-million fraction) so both engines agree
    bit-for-bit."""
    ch = _cdc_rows_cached(spark, sf_dir)
    cnt = ch.groupBy("chunk_key").agg(F.countDistinct("doc_id").alias("nd"))
    return (
        ch.join(cnt, "chunk_key")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.expr("CASE WHEN nd >= 2 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_shared_chunks"),
            F.sum(F.expr("CASE WHEN nd >= 2 THEN n_words ELSE 0 END")).alias("_sw"),
            F.sum("n_words").alias("_tw"),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.expr("CAST((1000000 * _sw) DIV _tw AS BIGINT)").alias("shared_word_ppm"),
        )
    )


# shared CDC chunk relation: w -> bounds -> per-chunk keyed rows — ONE
# definition spliced into every CDC oracle (the _DHASH_PAIRS_CTE
# convention: a hard-coded twin would silently drift on a parameter change)
_CDC_KEYED_CTE = f"""w AS (
      SELECT doc_id, string_split(text, ' ') AS words,
             len(string_split(text, ' ')) AS n
      FROM documents
    ), b AS (
      SELECT doc_id, words, n,
             list_append(
               CASE WHEN n >= {CDC_W + 1} THEN
                 list_transform(list_filter(generate_series(0, n - {CDC_W + 1}),
                   s -> ({hex_int_duck(f"md5(array_to_string(words[s + 1:s + {CDC_W}], ' '))", 8)}) % {CDC_D} = 0),
                   s -> s + {CDC_W - 1})
               ELSE [] END,
               n - 1) AS bounds
      FROM w
    ), ch AS (
      SELECT doc_id, words, bounds,
             unnest(generate_series(0, len(bounds) - 1)) AS k
      FROM b
    ), keyed AS (
      SELECT doc_id,
             CAST(bounds[k + 1] - (CASE WHEN k = 0 THEN 0 ELSE bounds[k] + 1 END) + 1 AS BIGINT) AS n_words,
             md5(array_to_string(
               words[(CASE WHEN k = 0 THEN 0 ELSE bounds[k] + 1 END) + 1:bounds[k + 1] + 1],
               ' ')) AS chunk_key
      FROM ch
    )"""


ORACLE_DEDUP_CDC = f"""
    WITH {_CDC_KEYED_CTE}, cnt AS (
      SELECT chunk_key, COUNT(DISTINCT doc_id) AS nd FROM keyed GROUP BY 1
    )
    SELECT keyed.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_chunks,
           CAST((1000000 * SUM(CASE WHEN nd >= 2 THEN n_words ELSE 0 END)) // SUM(n_words) AS BIGINT) AS shared_word_ppm
    FROM keyed JOIN cnt USING (chunk_key)
    GROUP BY 1
"""


CDC_PAIR_DF_CAP = 16  # chunks shared by more docs are boilerplate, not
#                       pair evidence (boilerplate_ratio's territory) — and
#                       the cap bounds the per-chunk pair fan-out at C(16,2)
CDC_MIN_SHARED = 2  # pairs must share >= 2 chunks (one shared chunk of a
#                     few words is noise at the 1/CDC_D boundary density)


def cdc_shared_pairs(ch: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_shared_chunks, shared_words): document pairs
    ranked by shared CONTENT-DEFINED chunk mass — the pairwise view of
    cdc_chunk_rows, catching partial overlap (a copied chapter, a shared
    appendix) that whole-doc hashing misses and exact-substring dedup
    finds only at much higher join cost.

    Scale shape: the chunk-key join is DF-capped (a chunk in >
    CDC_PAIR_DF_CAP docs is dropped BEFORE the self-join — boilerplate
    carries no pair evidence but would fan out quadratically), so no key
    ever exceeds C(cap, 2) pairs; everything else is partial-agg."""
    ch = ch.select("doc_id", "chunk_key", "n_words").distinct()
    ok = (
        ch.groupBy("chunk_key")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= CDC_PAIR_DF_CAP))
        .select("chunk_key")
    )
    chf = ch.join(ok, "chunk_key")
    a = chf.select(F.col("doc_id").alias("doc_a"), "chunk_key", "n_words")
    b = chf.select(F.col("doc_id").alias("doc_b"), "chunk_key")
    return (
        a.join(b, "chunk_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_chunks"),
            F.sum("n_words").cast("bigint").alias("shared_words"),
        )
        .filter(F.col("n_shared_chunks") >= CDC_MIN_SHARED)
    )


def q_dedup_cdc_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc_shared_pairs(_cdc_rows_cached(spark, sf_dir))


q_dedup_cdc_pairs.__doc__ = cdc_shared_pairs.__doc__

ORACLE_CDC_PAIRS = f"""
    WITH {_CDC_KEYED_CTE}, dk AS (
      SELECT DISTINCT doc_id, chunk_key, n_words FROM keyed
    ), ok AS (
      SELECT chunk_key FROM dk GROUP BY chunk_key
      HAVING COUNT(*) BETWEEN 2 AND {CDC_PAIR_DF_CAP}
    ), chf AS (
      SELECT dk.* FROM dk JOIN ok USING (chunk_key)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_chunks,
           CAST(SUM(a.n_words) AS BIGINT) AS shared_words
    FROM chf a JOIN chf b ON a.chunk_key = b.chunk_key AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {CDC_MIN_SHARED}
"""


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cluster_size, n_clusters, n_docs, n_removable): the dedup IMPACT
    report — the cluster-size histogram of the verified near-dup graph,
    with the doc mass a keep-one-per-cluster pass removes (size-1 per
    cluster). Singletons dominate a healthy corpus; a fat tail here is
    the go-look signal. Rides the cached verified edge set and cluster
    relation (one LSH+verify pass per driver session), then two tiny
    partial aggs."""
    cl = q_dedup_clusters(spark, sf_dir)
    sz = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sz.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_clusters",
            F.expr("CAST(cluster_size * n_clusters AS BIGINT)").alias("n_docs"),
            F.expr("CAST((cluster_size - 1) * n_clusters AS BIGINT)").alias(
                "n_removable"
            ),
        )
    )


ORACLE_DEDUP_CLUSTER_STATS = f"""
    WITH c AS ({ORACLE_DEDUP_CLUSTERS}
    ), sz AS (
      SELECT cluster_id, COUNT(*) AS cluster_size FROM c GROUP BY 1
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((cluster_size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM sz GROUP BY cluster_size
"""


# ---------------------------------------------------------------------------
# LSH recall audit: the banding's empirically-measured S-curve
# ---------------------------------------------------------------------------


def q_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical MinHash-LSH recall per Jaccard tenth — the measured
    S-curve of the 4x4 banding against the exact (capped, within-source)
    Jaccard ground truth, the audit that tells an operator whether
    VERIFY_JACCARD_MIN sits on the curve's safe plateau. For each truth
    pair (jaccard_pairs, the oracled exact join), membership in the LSH
    candidate set (lsh_pairs — same banding the dedup family serves) is
    tested by a LEFT join on the pair key; per bucket = floor(j*10):
    n_true, n_caught, recall_ppm (exact ints). High-jaccard buckets must
    sit near 1e6; low buckets near the banding's theoretical miss floor.

    Scale: both sides are the already-banded/capped family relations (no
    new all-pairs anything) and both ride their session-checkpointed
    twins (_jaccard_pairs_cached / _lsh_pairs_cached — the exact-truth
    join and the banding each run once per driver pass across the three
    queries that consume them); the audit join is pair-key equi. Mirrors
    ann_recall_audit's shape for the ANN family."""
    truth = _jaccard_pairs_cached(spark, sf_dir).select(
        "doc_a", "doc_b", F.expr("cast(floor(jaccard * 10) as int)").alias("bucket")
    )
    cand = (
        _lsh_pairs_cached(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("_hit", F.lit(1))
    )
    return (
        truth.join(cand, ["doc_a", "doc_b"], "left")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_caught"),
        )
        .withColumn("recall_ppm", F.expr("n_caught * 1000000 div n_true"))
    )


ORACLE_LSH_RECALL_CURVE = f"""
    WITH {_minhash_pairs_cte()},
    sh0 AS ({shingles_cte_duck("source")}
    ), shs AS (
      SELECT DISTINCT doc_id, source, shingle FROM sh0
    ), shf AS (
      SELECT doc_id, source, shingle FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY source, shingle) AS df FROM shs
      ) WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id
    ), inter2 AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM shf a JOIN shf b
        ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), truth AS (
      SELECT doc_a, doc_b,
             CAST(floor(round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6)
                  * 10) AS INTEGER) AS bucket
      FROM inter2
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6) >= 0.05
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_caught,
           CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS recall_ppm
    FROM truth t LEFT JOIN cands c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
    GROUP BY bucket
"""


# ---------------------------------------------------------------------------
# Deterministic integer PageRank over the verified near-dup graph
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 3
PAGERANK_SCALE = 1_000_000  # r0 per node; teleport = 0.15 * SCALE
_PR_TELEPORT = 150_000


def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-iteration PageRank (damping 0.85, PAGERANK_ITERS fixed
    rounds) over the verified near-dup graph — ranks the CENTRAL
    documents of each duplicate neighborhood (the canonical-pick signal
    that beats min-doc_id when clusters are star-shaped: templates and
    boilerplate hubs surface with high rank). Exact integer arithmetic
    throughout — ranks scaled 1e6, contributions r div deg, damping as
    (85 * s) div 100 — so every round is bit-identical in DuckDB (its
    unrolled-CTE twin) with zero float drift.

    Scale shape: nodes/degrees from ONE partial agg over the cached
    verified edge relation (_verified_cached — LSH+verify lineage runs
    once per driver pass, shared with the pairs/clusters/stats family);
    each round is an equi-join of the rank relation with the edges on
    src + a dst partial agg — the standard bulk-synchronous PR step,
    linear in |E| per round, no driver fetch, fixed round count. Isolated
    docs never enter (deg >= 1 by construction), so there is no dangling
    mass and the teleport term keeps totals stable."""
    return pagerank_ranks(_verified_cached(spark, sf_dir))


def pagerank_ranks(ve: DataFrame) -> DataFrame:
    """The raw PR iteration over an undirected pair relation (doc_a,
    doc_b) — separate from q_pagerank_neardup so tests can plant graphs
    and assert the UN-checkpointed plan shape (the query wrapper's
    lineage starts at a checkpoint scan)."""
    edges = ve.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        ve.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("doc_id"), "deg")
    ranks = nodes.withColumn("r", F.lit(PAGERANK_SCALE).cast("long"))
    for _ in range(PAGERANK_ITERS):
        contrib = ranks.join(edges, ranks["doc_id"] == edges["src"]).select(
            F.col("dst").alias("doc_id"), F.expr("r div deg").alias("c")
        )
        s = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
        ranks = nodes.join(s, "doc_id", "left").select(
            "doc_id",
            "deg",
            F.expr(f"{_PR_TELEPORT} + (85 * coalesce(s, 0)) div 100").alias("r"),
        )
    return ranks.select("doc_id", "deg", F.col("r").alias("rank_e6"))


def _pagerank_rounds_sql() -> str:
    """r1..rN unrolled CTEs — same integer recurrence as the Spark loop
    (DuckDB SUM is HUGEINT; the per-round BIGINT cast keeps types pinned
    and values are identical — everything fits int64 by construction)."""
    out = []
    for t in range(1, PAGERANK_ITERS + 1):
        out.append(f"""
    s{t} AS (
      SELECT e.dst AS doc_id, SUM(r.r // r.deg) AS s
      FROM r{t - 1} r JOIN edges e ON e.src = r.doc_id GROUP BY e.dst
    ), r{t} AS (
      SELECT d.doc_id, d.deg,
             CAST({_PR_TELEPORT} + (85 * COALESCE(s.s, 0)) // 100 AS BIGINT) AS r
      FROM deg d LEFT JOIN s{t} s ON s.doc_id = d.doc_id
    )""")
    return ",".join(out)


ORACLE_PAGERANK = f"""
    WITH {_verified_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM ve
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM ve
    ),
    deg AS (SELECT src AS doc_id, COUNT(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT doc_id, deg, CAST({PAGERANK_SCALE} AS BIGINT) AS r FROM deg),
    {_pagerank_rounds_sql()}
    SELECT doc_id, deg, r AS rank_e6 FROM r{PAGERANK_ITERS}
"""


def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: verified near-dup pair counts per
    unordered source pair — the curation readout that says WHICH feeds
    copy from which (a high off-diagonal cell means two crawls overlap
    and one of them is mostly paying storage for the other; the diagonal
    is within-source redundancy). Rides the cached verified edge set
    (zero added corpus-wide work in a driver pass); two broadcast-sized
    joins to the doc->source projection; LEAST/GREATEST canonicalizes
    the pair so (a,b) and (b,a) land in one cell."""
    ve = _verified_cached(spark, sf_dir).select("doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        ve.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


ORACLE_DEDUP_SOURCE_MATRIX = f"""
    WITH {_verified_cte()},
    lab AS (
      SELECT LEAST(da.source, db.source) AS source_lo,
             GREATEST(da.source, db.source) AS source_hi
      FROM ve
      JOIN documents da ON da.doc_id = ve.doc_a
      JOIN documents db ON db.doc_id = ve.doc_b
    )
    SELECT source_lo, source_hi, COUNT(*) AS n_pairs
    FROM lab GROUP BY source_lo, source_hi
"""


def q_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY: the fraction of a doc's distinct
    3-gram shingles that appear in NO other document (corpus df == 1) —
    the inverse readout of boilerplate/repetition: high novelty marks
    content that deduplication and boilerplate stripping would never
    touch; novelty ~0 marks template mass even when no single pair
    crosses a near-dup threshold. Shares the ONE shingle definition with
    the minhash/jaccard/boilerplate family. Docs with < 3 words have no
    shingles and are absent (nothing to measure).

    Scale shape: distinct (doc, shingle) partial agg, then TWO bounded
    per-key aggs — no join back of the corpus-sized shingle relation: a
    df == 1 shingle belongs to exactly ONE document, so its owner is
    min(doc_id) of its group and n_unique is a count over the df == 1
    groups (the former shd ⋈ dfr equi-join re-shuffled all distinct
    (doc, shingle) rows a second time to compute exactly this)."""
    docs = _docs_fanout(spark, sf_dir)
    shd = shingle_explode_distinct(docs)
    per_doc = shd.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    uniq = (
        shd.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("doc_id"))
        .where(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )
    return (
        per_doc.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_unique", F.lit(0).cast("bigint")).alias("n_unique"),
        )
        .withColumn("novelty_ppm", F.expr("n_unique * 1000000 div n_shingles"))
    )


ORACLE_NOVELTY = f"""
    WITH sh0 AS ({shingles_cte_duck()}
    ), shd AS (
      SELECT DISTINCT doc_id, shingle FROM sh0
    ), dfr AS (
      SELECT shingle, COUNT(*) AS df FROM shd GROUP BY shingle
    )
    SELECT doc_id, COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS novelty_ppm
    FROM shd JOIN dfr USING (shingle)
    GROUP BY doc_id
"""


def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the verified near-dup
    graph — the STRUCTURE audit of duplicate neighborhoods: coefficient
    ~1e6 means a tight all-pairs dup clique (safe to keep one); ~0 with
    high degree means a CHAIN (drift/CDC-style transformations where
    A~B~C but A!~C — keep-one-per-CC is lossy there, and this metric is
    how you see it). Emits (doc_id, degree, n_triangles, clustering_ppm
    = triangles * 1e6 div (deg*(deg-1)/2)) for nodes with degree >= 2.

    Exact counting: wedge join (two hops out of each node over the
    symmetric edge relation, x < y canonicalizes the wedge) probed
    against the canonical edge set — two equi-joins over the bounded
    verified pair relation, rides the same cached edge set as the
    pairs/clusters/PR family. The wedge fan-out is sum(deg^2) — the
    classic triangle-count bottleneck; at web scale cap or sample
    per-node neighbor lists before wedging (the BAND_CAP discipline)."""
    ve = _verified_cached(spark, sf_dir).select("doc_a", "doc_b")
    und = ve.union(
        ve.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("v"), F.col("doc_b").alias("n"))
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    wx = und.select("v", F.col("n").alias("x"))
    wy = und.select("v", F.col("n").alias("y"))
    wedges = wx.join(wy, "v").where(F.col("x") < F.col("y"))
    closed = wedges.join(
        ve.select(F.col("doc_a").alias("x"), F.col("doc_b").alias("y")),
        ["x", "y"],
    )
    tri = closed.groupBy("v").agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        deg.where(F.col("degree") >= 2)
        .join(tri, "v", "left")
        .select(
            F.col("v").alias("doc_id"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "coalesce(n_triangles, 0) * 1000000"
                " div (degree * (degree - 1) div 2)"
            ).alias("clustering_ppm"),
        )
    )


ORACLE_CLUSTERING_COEFF = f"""
    WITH {_verified_cte()},
    und AS (
      SELECT doc_a AS v, doc_b AS n FROM ve
      UNION ALL
      SELECT doc_b AS v, doc_a AS n FROM ve
    ),
    deg AS (SELECT v, COUNT(*) AS degree FROM und GROUP BY v),
    wedges AS (
      SELECT a.v, a.n AS x, b.n AS y
      FROM und a JOIN und b ON b.v = a.v AND a.n < b.n
    ),
    tri AS (
      SELECT w.v, COUNT(*) AS n_triangles
      FROM wedges w JOIN ve e ON e.doc_a = w.x AND e.doc_b = w.y
      GROUP BY w.v
    )
    SELECT d.v AS doc_id, d.degree,
           CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(COALESCE(t.n_triangles, 0) * 1000000
                // (d.degree * (d.degree - 1) // 2) AS BIGINT)
             AS clustering_ppm
    FROM deg d LEFT JOIN tri t ON t.v = d.v
    WHERE d.degree >= 2
"""


def q_source_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source DUPLICATION report — the curation card column a source
    buys storage with: document count, exact-duplicate docs (content
    hash shared with ANY doc corpus-wide, including cross-source) and
    near-duplicate docs (membership in the verified near-dup pair
    relation), both as exact ppm of the source. Exact and near tiers
    answer different questions (byte-identical mirrors vs edited
    re-posts), so both are reported.

    Scale shape: exact tier = one content-hash partial agg + an
    equi-join back (the dedup_exact plan); near tier rides the CACHED
    verified edge set (zero added corpus-wide work); final rollup is one
    partial agg on the low-cardinality source key."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h")
    )
    dup_h = (
        keyed.groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select("h")
    )
    exact = keyed.join(dup_h, "h").select("doc_id").withColumn("is_exact", F.lit(1))
    ve = _verified_cached(spark, sf_dir)
    near = (
        ve.select(F.col("doc_a").alias("doc_id"))
        .union(ve.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    lab = (
        keyed.join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce("is_exact", F.lit(0))).alias("n_exact_dup"),
            F.sum(F.coalesce("is_near", F.lit(0))).alias("n_near_dup"),
        )
    )
    return lab.select(
        "source",
        "n_docs",
        "n_exact_dup",
        "n_near_dup",
        F.expr("n_exact_dup * 1000000 div n_docs").alias("exact_dup_ppm"),
        F.expr("n_near_dup * 1000000 div n_docs").alias("near_dup_ppm"),
    )


ORACLE_SOURCE_DUP_REPORT = f"""
    WITH {_verified_cte()},
    keyed AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
    ),
    dup_h AS (
      SELECT h FROM keyed GROUP BY h HAVING COUNT(*) > 1
    ),
    nearset AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM ve UNION ALL SELECT doc_b FROM ve
      )
    ),
    lab AS (
      SELECT k.source,
             COUNT(*) AS n_docs,
             SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS n_exact_dup,
             SUM(CASE WHEN n.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS n_near_dup
      FROM keyed k
      LEFT JOIN dup_h d ON d.h = k.h
      LEFT JOIN nearset n ON n.doc_id = k.doc_id
      GROUP BY k.source
    )
    SELECT source, n_docs,
           CAST(n_exact_dup AS BIGINT) AS n_exact_dup,
           CAST(n_near_dup AS BIGINT) AS n_near_dup,
           CAST(n_exact_dup * 1000000 // n_docs AS BIGINT) AS exact_dup_ppm,
           CAST(n_near_dup * 1000000 // n_docs AS BIGINT) AS near_dup_ppm
    FROM lab
"""
