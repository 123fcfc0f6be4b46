"""Properties of the scale-path candidate generators: random-hyperplane LSH
recall vs the exact baseline, bucket-count scaling with bits, and the
hot-group caps (LSH bucket cap, MinHash band cap, Jaccard shingle-DF cap)
that keep every candidate join sub-quadratic on skewed corpora."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F, types as T

from ocrd_anybaseocr_spark.operators.dedup import (
    BAND_CAP,
    MAX_SHINGLE_DF,
    jaccard_pairs,
    lsh_pairs,
    minhash_signatures,
)
from ocrd_anybaseocr_spark.operators.similarity import (
    EMB_DIM,
    LSH_BUCKET_CAP,
    embedding_lsh_pairs,
    lsh_assignments,
)
from ocrd_anybaseocr_spark.sources import session_cache

_EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


def _emb_df(spark, vecs: np.ndarray):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, _EMB_SCHEMA)


def _clustered_vectors(n_clusters=40, per_cluster=5, n_noise=200, seed=7):
    rng = np.random.default_rng(seed)
    out = []
    for _ in range(n_clusters):
        base = rng.standard_normal(EMB_DIM)
        base /= np.linalg.norm(base)
        for _ in range(per_cluster):
            # 64-dim noise of norm ~0.2 → within-cluster cosine ~0.95
            v = base + 0.025 * rng.standard_normal(EMB_DIM)
            out.append(v / np.linalg.norm(v))
    for _ in range(n_noise):
        v = rng.standard_normal(EMB_DIM)
        out.append(v / np.linalg.norm(v))
    return np.array(out)


def test_lsh_recall_vs_brute_force(spark):
    """Recall of hyperplane-LSH candidate pairs over true near-dup pairs
    (cosine >= 0.9, computed exactly in numpy) must be high on clustered
    data — the regime LSH exists for."""
    vecs = _clustered_vectors()
    cos = vecs @ vecs.T
    iu = np.triu_indices(len(vecs), 1)
    true_pairs = {
        (int(a), int(b)) for a, b in zip(*iu) if cos[a, b] >= 0.9
    }
    assert len(true_pairs) >= 100  # the fixture really has near-dups

    got = {
        (r.vec_a, r.vec_b)
        for r in embedding_lsh_pairs(_emb_df(spark, vecs)).collect()
    }
    recall = len(true_pairs & got) / len(true_pairs)
    assert recall >= 0.8, f"LSH recall {recall:.3f} over {len(true_pairs)} true pairs"


def test_lsh_bucket_count_scales_with_bits(spark):
    """The scaling knob: more bits → more distinct buckets (this is what
    lets the equi-join stay bounded as the corpus grows)."""
    vecs = _clustered_vectors(n_clusters=10, per_cluster=2, n_noise=150)
    df = _emb_df(spark, vecs)

    def n_buckets(bits):
        return (
            lsh_assignments(df, n_tables=2, n_bits=bits)
            .select("tbl", "bucket").distinct().count()
        )

    assert n_buckets(3) < n_buckets(6) <= 2 * 2 ** 6


def test_lsh_bits_derive_and_candidate_boundedness(spark):
    """The documented ~log2(N) bits growth is real behavior: small corpora
    (and the static sf0.01 oracles) stay at the LSH_BITS floor, larger
    corpora get more buckets — candidates shrink well below the fixed-bits
    volume while recall on clustered data stays >= 0.8 (at a fixed 6 bits,
    2000 vectors produced candidates = 10% of ALL pairs)."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        LSH_BITS,
        LSH_MAX_BITS,
        derive_bits,
        embedding_lsh_pairs,
        pairs_from_assignments,
    )

    assert derive_bits(200) == LSH_BITS == derive_bits(1000)
    assert derive_bits(2000) == 8
    assert derive_bits(10 ** 12) == LSH_MAX_BITS

    vecs = _clustered_vectors(n_clusters=100, per_cluster=5, n_noise=700, seed=13)
    assert len(vecs) == 1200  # above the step → derived bits > floor
    df = _emb_df(spark, vecs)
    derived = embedding_lsh_pairs(df).count()
    fixed = pairs_from_assignments(lsh_assignments(df, n_bits=LSH_BITS)).count()
    assert derived < fixed / 2, (derived, fixed)

    cos = vecs @ vecs.T
    iu = np.triu_indices(len(vecs), 1)
    true_pairs = {(int(a), int(b)) for a, b in zip(*iu) if cos[a, b] >= 0.9}
    got = {(r.vec_a, r.vec_b) for r in embedding_lsh_pairs(df).collect()}
    recall = len(true_pairs & got) / len(true_pairs)
    assert recall >= 0.8, f"recall {recall:.3f} at derived bits"


def test_lsh_hot_bucket_cap(spark, monkeypatch):
    """A mass-duplication cluster (300 identical vectors) lands in one
    bucket per table; with the cap those buckets are dropped — the pair
    join never goes quadratic — while normal-sized clusters still pair."""
    rng = np.random.default_rng(11)
    clone = rng.standard_normal(EMB_DIM)
    clone /= np.linalg.norm(clone)
    small_base = rng.standard_normal(EMB_DIM)
    small_base /= np.linalg.norm(small_base)
    vecs = [clone] * 300 + [small_base + 0.05 * rng.standard_normal(EMB_DIM) for _ in range(3)]
    vecs = np.array([v / np.linalg.norm(v) for v in vecs])
    df = _emb_df(spark, vecs)

    capped = embedding_lsh_pairs(df).collect()
    clone_pairs = [r for r in capped if r.vec_a < 300 and r.vec_b < 300]
    small_pairs = [r for r in capped if r.vec_a >= 300 and r.vec_b >= 300]
    assert not clone_pairs, "over-cap bucket must be dropped from pair generation"
    assert len(small_pairs) == 3  # C(3,2) from the healthy cluster
    # sanity: without the cap the clone cluster would contribute C(300,2)
    from ocrd_anybaseocr_spark.operators import similarity

    monkeypatch.setattr(similarity, "LSH_BUCKET_CAP", 10**9)
    uncapped = embedding_lsh_pairs(df).count()
    assert uncapped >= 300 * 299 // 2
    assert LSH_BUCKET_CAP < 300


def test_ivf_flat_recall_vs_brute_force(spark, monkeypatch):
    """IVF-Flat (coarse quantize → probe nprobe cells → exact re-rank)
    must recover >= 0.8 of the true top-3 neighbors on clustered data —
    the second ANN scale path besides hyperplane LSH."""
    from ocrd_anybaseocr_spark.operators import similarity as sim

    vecs = _clustered_vectors()
    df = _emb_df(spark, vecs)
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: df)
    session_cache.clear()  # the session registry must not serve another test's table
    got = {}
    for r in sim.q_ann_ivf_flat(spark, "unused").collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)

    cos = vecs @ vecs.T
    hits = total = 0
    for q in range(sim.N_QUERIES):
        order = [i for i in (-cos[q]).argsort() if i != q][:3]
        total += 3
        hits += len(set(order) & got.get(q, set()))
    assert hits / total >= 0.8, f"IVF recall {hits}/{total}"


def test_minhash_band_cap(spark, monkeypatch):
    """200 byte-identical docs share every band key; the band cap excludes
    that degenerate clique (exact dedup's job) while a genuine near-dup
    pair with unique-ish shingles still collides."""
    mass = [(f"m{i:03d}", "lorem ipsum dolor sit amet consectetur adipiscing elit")
            for i in range(200)]
    # near-dup pair at Jaccard ~0.94 (100 words, one changed at the end):
    # with the non-degenerate wrapping family a band collides with prob
    # J^4 ~ 0.78, so >=1-of-4 bands ~ 0.998 — deterministic constants,
    # verified to collide (a J~0.78 pair legitimately missed all bands)
    base = " ".join(f"tok{i}" for i in range(99))
    near = [
        ("n1", base + " again"),
        ("n2", base + " twice"),
    ]
    docs = spark.createDataFrame(mass + near, ["doc_id", "text"])
    pairs = lsh_pairs(minhash_signatures(docs)).collect()
    assert not [r for r in pairs if r.doc_a.startswith("m")]
    assert [r for r in pairs if r.doc_a == "n1" and r.doc_b == "n2"]
    assert BAND_CAP < 200
    # without the cap the clique explodes quadratically
    from ocrd_anybaseocr_spark.operators import dedup

    monkeypatch.setattr(dedup, "BAND_CAP", 10**9)
    uncapped = lsh_pairs(minhash_signatures(docs)).count()
    assert uncapped >= 200 * 199 // 2


def test_minhash_family_not_degenerate():
    """The 16 per-doc minima must NOT all be attained at the same shingle —
    the affine family's modulus has to actually wrap so each h_j permutes
    the shingle order (ADVICE round 2, item 1: with A*h+B always below P the
    family was monotone in h and the signature degenerated to one hash)."""
    import hashlib

    from ocrd_anybaseocr_spark.operators.dedup import (
        _MH_A,
        _MH_B,
        _MH_HEX,
        _MH_P,
        N_MINHASH,
    )

    shingles = [f"shingle number {i} text" for i in range(200)]
    hs = [int(hashlib.md5(s.encode()).hexdigest()[:_MH_HEX], 16) for s in shingles]
    argmins = {
        min(range(len(hs)), key=lambda i: (_MH_A[j] * hs[i] + _MH_B[j]) % _MH_P)
        for j in range(N_MINHASH)
    }
    assert len(argmins) > 4, f"family is (near-)degenerate: minima at {argmins}"
    # the modulus must be reachable: products exceed P so % really wraps...
    assert max(_MH_A) * max(hs) > _MH_P
    # ...and every term stays exactly representable in int64 on both engines
    assert max(_MH_A) * (16 ** _MH_HEX - 1) + max(_MH_B) < 2 ** 63


def test_connected_components_chain(spark):
    """Min-label propagation crosses a diameter-3 chain (needs several
    rounds) and leaves isolated nodes as their own cluster."""
    from ocrd_anybaseocr_spark.operators.dedup import connected_components_labels

    nodes = spark.createDataFrame([(x,) for x in "abcdez"], ["doc_id"])
    edges = spark.createDataFrame(
        [("c", "d"), ("b", "c"), ("a", "b"), ("e", "z")], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id for r in connected_components_labels(nodes, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "e": "e", "z": "e"}


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    """An edge relation still above the fold budget after CC_MAX_ROUNDS
    contraction rounds must FAIL, not silently fold an over-budget
    relation in one task (ADVICE round 2, item 4: no partial/unsafe
    results on non-convergence)."""
    import pytest

    from ocrd_anybaseocr_spark.operators import dedup

    chain = "abcdefghijklmnopqrstuvwxyz"
    nodes = spark.createDataFrame([(x,) for x in chain], ["doc_id"])
    edges = spark.createDataFrame(
        [(chain[i], chain[i + 1]) for i in range(len(chain) - 1)],
        ["doc_a", "doc_b"],
    )
    # force the hierarchical path: a 2-edge fold budget with zero allowed
    # contraction rounds must fail loudly
    monkeypatch.setattr(dedup, "CC_FOLD_EDGES", 2)
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_labels(nodes, edges).collect()
    # the contraction path itself (budget forces forest rounds) converges
    # to the exact single-component labels
    monkeypatch.setattr(dedup, "CC_MAX_ROUNDS", 20)
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components_labels(nodes, edges).collect()
    }
    assert set(got.values()) == {"a"}
    monkeypatch.setattr(dedup, "CC_FOLD_EDGES", 5_000_000)
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components_labels(nodes, edges).collect()
    }
    assert set(got.values()) == {"a"}


def test_jaccard_stop_shingle_cap(spark, monkeypatch):
    """150 docs sharing only a stop-shingle must NOT pair (the hot shingle
    is dropped before the join); a true near-dup pair with distinctive
    shingles survives with its Jaccard over the filtered universe."""
    filler = [
        (f"f{i:03d}", "s1", f"common common common filler{i} x{i} y{i}")
        for i in range(150)
    ]
    near = [
        ("n1", "s1", "alpha beta gamma delta epsilon zeta eta theta"),
        ("n2", "s1", "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    docs = spark.createDataFrame(filler + near, ["doc_id", "source", "text"])

    capped = jaccard_pairs(docs).collect()
    assert not [r for r in capped if r.doc_a.startswith("f")]
    nd = [r for r in capped if r.doc_a == "n1" and r.doc_b == "n2"]
    assert nd and nd[0].inter == 5  # 6 shingles each, 5 shared
    assert MAX_SHINGLE_DF < 150
    # without the cap the stop-shingle clique pairs quadratically
    from ocrd_anybaseocr_spark.operators import dedup

    monkeypatch.setattr(dedup, "MAX_SHINGLE_DF", 10**9)
    uncapped = jaccard_pairs(docs).count()
    assert uncapped >= 150 * 149 // 2


def test_boilerplate_ratio_per_source(spark):
    """The C4-style boilerplate criterion: a phrase repeated across
    documents of the SAME source counts as boilerplate mass; the same
    phrase appearing in a different source's single document does not."""
    from ocrd_anybaseocr_spark.operators import textstats as ts

    header = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            ("a1", "s1", f"{header} alpha beta gamma delta"),
            ("a2", "s1", f"{header} epsilon zeta eta theta"),
            ("b1", "s2", f"{header} unique words entirely here"),
            ("c1", "s1", "nothing shared with anything else at all"),
        ],
        ["doc_id", "source", "text"],
    )
    import types

    fake_dir = "unused"
    orig = ts.load_table
    ts.load_table = lambda spark, sf_dir, name: docs
    try:
        got = {r.doc_id: r for r in ts.q_boilerplate_ratio(spark, fake_dir).collect()}
    finally:
        ts.load_table = orig
    # the 3 shingles fully inside the 5-word header are shared by a1/a2
    assert got["a1"].n_boiler == 3 and got["a2"].n_boiler == 3
    assert got["b1"].n_boiler == 0, "cross-source repetition is not boilerplate"
    assert got["c1"].n_boiler == 0
    assert 0 < got["a1"].boiler_ratio < 1


def test_winnowing_shared_passage_guarantee(spark):
    """Winnowing guarantee: documents sharing a passage of at least
    k + w - 1 words share >= 1 fingerprint; unrelated docs share none."""
    from ocrd_anybaseocr_spark.operators.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    passage = " ".join(f"shared{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    docs = spark.createDataFrame(
        [
            ("a", f"alpha beta gamma {passage} delta epsilon"),
            ("b", f"one two {passage} three four five six"),
            ("c", "totally different words nothing in common here at all today"),
        ],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: set(r.fps) for r in winnow_fingerprints(docs).collect()}
    assert fps["a"] & fps["b"], "shared passage must share a fingerprint"
    assert not (fps["a"] & fps["c"])
    assert not (fps["b"] & fps["c"])


def test_dynamic_bits_and_k_parity_above_step(spark):
    """Spark vs DuckDB parity ON the dynamic path (ADVICE r3 item 1 +
    VERDICT r3 item 3): every oracled corpus sits under the 1000-row step,
    so the derived-bits LSH branch and derived-k IVF branch of the oracle
    CTEs were never executed against Spark. Build a 1500-row corpus —
    derive_bits and derive_ivf_k both leave their floors — and assert
    assignment equality row-for-row in both families."""
    import duckdb
    import pyarrow as pa

    from ocrd_anybaseocr_spark.operators import similarity as sim

    n = 1500
    rng = np.random.default_rng(99)
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    df = _emb_df(spark, vecs)
    assert sim.derive_bits(n) > sim.LSH_BITS
    k = sim.derive_ivf_k(n)
    assert k > sim.IVF_K

    # n_bits=None -> lsh_assignments derives bits from the corpus count
    got_bk = sorted((r.vec_id, r.tbl, r.bucket) for r in lsh_assignments(df).collect())
    got_asg = sorted((r.vec_id, r.cell) for r in sim.ivf_assignments(df, k).collect())

    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
            ),
        }
    )
    con = duckdb.connect()
    con.register("embeddings", tbl)
    want_bk = sorted(
        map(tuple, con.execute(
            f"WITH {sim._bk_cte_duck()} SELECT vec_id, tbl, bucket FROM bk"
        ).fetchall())
    )
    want_asg = sorted(
        map(tuple, con.execute(
            f"WITH {sim._IVF_ASSIGN_CTE_DUCK} SELECT vec_id, cell FROM assign"
        ).fetchall())
    )
    assert got_bk == want_bk
    assert got_asg == want_asg


def test_dynamic_semantic_k_parity_above_step(spark):
    """Spark vs DuckDB parity ON the dynamic k-means/SemDeDup path
    (VERDICT r6 item 2): every oracled corpus sits under KMEANS_STEP_N,
    so the derive_semantic_k branch of the semk CTE was never executed
    against Spark. Build a 2000-row corpus — derive_semantic_k leaves the
    KMEANS_K floor (k=10) — and assert the k-means assignment AND the full
    SemDeDup decision table match the oracles row-for-row."""
    import duckdb
    import pyarrow as pa

    from ocrd_anybaseocr_spark.operators import similarity as sim

    n = 2000
    rng = np.random.default_rng(41)
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    # plant near-dup pairs so kept=False rows exercise the shadow rule
    vecs[1::97] = vecs[0::97][: len(vecs[1::97])] + 0.001
    df = _emb_df(spark, vecs)
    k = sim.derive_semantic_k(n)
    assert k > sim.KMEANS_K

    cents = sim.kmeans_centroids(df, k)
    assert len(cents) <= k and max(c for c, _ in cents) < k
    got_km = sorted(
        (r.vec_id, r.cluster)
        for r in sim.assignments_arrow(df, cents)
        .withColumnRenamed("cell", "cluster")
        .collect()
    )
    asg = sim.semantic_assignments(df, cents)
    got_sd = sorted(
        (r.vec_id, r.cluster, r.d2, r.kept)
        for r in sim.semantic_dedup_decisions(asg).collect()
    )
    assert any(not kept for _, _, _, kept in got_sd)  # planted dups dropped

    tbl = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs], pa.list_(pa.float32())
            ),
        }
    )
    con = duckdb.connect()
    con.register("embeddings", tbl)
    want_km = sorted(map(tuple, con.execute(sim.ORACLE_KMEANS).fetchall()))
    want_sd = sorted(map(tuple, con.execute(sim.ORACLE_SEMDEDUP).fetchall()))
    assert got_km == want_km
    assert got_sd == want_sd


def test_decontamination_planted_overlap(spark):
    """A training doc embedding a verbatim eval passage must be flagged
    against exactly that eval doc (>= DECON_MIN_SHARED shared 3-grams);
    an unrelated doc must not be flagged — the planted-guarantee twin of
    test_winnowing_shared_passage_guarantee."""
    from ocrd_anybaseocr_spark.operators.dedup import (
        DECON_MIN_SHARED,
        decontamination_overlap,
    )

    passage = "alpha beta gamma delta epsilon zeta eta"  # 7 words -> 5 shingles
    ev = spark.createDataFrame(
        [(100, passage), (101, "one two three four five six seven")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx yy " + passage + " zz"),
            (2, "totally different words entirely unrelated content here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.eval_id): r.shared
        for r in decontamination_overlap(corpus, ev).collect()
    }
    assert out.get((1, 100), 0) >= DECON_MIN_SHARED
    assert all(k[0] != 2 for k in out)


def test_exact_substring_planted_run(spark):
    """Exactness of the diagonal gaps-and-islands algebra: a verbatim
    35-word passage embedded at DIFFERENT offsets in two docs must yield
    run_words == 35 exactly (k-gram count + k - 1, no off-by-one, no
    accidental extension into differing context); a 20-word shared
    passage stays under SUBSTR_MIN_RUN and must not be reported."""
    from ocrd_anybaseocr_spark.operators.dedup import (
        SUBSTR_MIN_RUN,
        exact_substring_pairs,
    )

    p35 = " ".join(f"p{i}" for i in range(35))
    p20 = " ".join(f"q{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, "a0 a1 a2 " + p35 + " a3 a4"),
            (2, "b0 " + p35 + " b1 b2 b3 b4 b5"),
            (3, "c0 c1 " + p20 + " c2 c3"),
            (4, "d0 " + p20 + " d1 d2 d3"),
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.run_words for r in exact_substring_pairs(docs).collect()}
    assert 20 < SUBSTR_MIN_RUN <= 35
    assert got == {(1, 2): 35}


def test_repetition_ratio_planted(spark, monkeypatch):
    """A doc that is one 4-word phrase looped has almost-all-duplicate
    3-grams; a doc of all-unique words has zero. Exact integer per-million
    arithmetic, both pinned."""
    from ocrd_anybaseocr_spark.operators import dedup as dd

    looped = " ".join(["spam ham eggs bacon"] * 10)  # 40 words, 38 3-grams
    unique = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, looped), (2, unique)], "doc_id long, text string"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    out = {r.doc_id: r for r in dd.q_repetition_ratio(spark, "unused").collect()}
    r1, r2 = out[1], out[2]
    # looped: 38 total, only 4 distinct (each rotation of the phrase)
    assert (r1.total_ngrams, r1.distinct_ngrams) == (38, 4)
    assert r1.dup_per_million == (38 - 4) * 1_000_000 // 38
    assert (r2.total_ngrams, r2.distinct_ngrams, r2.dup_per_million) == (18, 18, 0)


def test_corpus_clean_filter_planted_rules(spark, monkeypatch):
    """Every rule of the composite cleaning filter fires on a doc built to
    violate exactly it (the sf0.01 data only exercises too_short/low_stop,
    so the other rules need planted cases), and a clean doc passes with an
    empty reasons string."""
    from ocrd_anybaseocr_spark.operators import textstats as ts

    stops = ["the", "and", "of", "to"]
    # stopwords interleaved with unique fillers: high stop mass, zero
    # repeated 3-grams (a looped stopword prefix would trip `repetitive`)
    clean = " ".join(
        w for i in range(20) for w in (stops[i % 4], f"word{i}")
    )
    docs = spark.createDataFrame(
        [
            (1, clean),
            (2, "tiny doc"),                                  # too_short (+low_stop)
            (3, " ".join(f"word{i}" for i in range(30))),     # low_stop only
            # mean alpha/token < 2: stopwords + single-letter fillers
            (4, "the a b c d and e f g h of i j k l to m n o p"),
            (5, "the spam and eggs " * 15),                   # repetitive loop
            (6, clean),                                       # duplicate of 1
            # ADJACENT markers at the exact 5% boundary: 40 tokens, the
            # only markers the adjacent pair "of the" — token-list
            # counting gives 2 (2*20 = 40, retained); the old ' (pat) '
            # regex consumed the shared space and counted 1 (dropped)
            (7, "of the " + " ".join(f"word{i}" for i in range(38))),
        ],
        "doc_id long, text string",
    )
    from ocrd_anybaseocr_spark.operators import dedup as dd_mod

    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    # the repetition-stats side rides dedup's session cache, which loads
    # the documents table through dedup's own load_table
    monkeypatch.setattr(dd_mod, "load_table", lambda s, d, n: docs)
    out = {r.doc_id: r for r in ts.q_corpus_clean_filter(spark, "unused").collect()}
    assert out[7].retained and out[7].reasons == ""
    assert out[1].retained and out[1].reasons == ""
    assert "too_short" in out[2].reasons and not out[2].retained
    assert out[3].reasons == "low_stop"
    assert "bad_tok_len" in out[4].reasons
    assert "repetitive" in out[5].reasons
    assert out[6].reasons == "duplicate" and not out[6].retained


def test_simhash_pairs_planted_and_capped(spark):
    """Pigeonhole recall: a doc pair whose word multisets differ by one
    rare word (signature hamming <= SIMHASH_MAX_HAMMING) is found with
    the exact hamming distance; a 150-strong identical-doc clique shares
    every band value, blows the band cap, and is excluded (exact dedup's
    job, same contract as the MinHash band cap)."""
    from ocrd_anybaseocr_spark.operators.dedup import (
        SIMHASH_BAND_CAP,
        simhash_pairs,
        simhash_signatures_df,
    )

    toks = [f"tok{i}" for i in range(60)]
    # doc 2 is doc 1 word-REORDERED: signature hamming 0 (simhash is a
    # bag-of-words vote) — the near-dup class exact text dedup cannot see
    rows = [(1, " ".join(toks)), (2, " ".join(reversed(toks)))]
    rows += [(100 + i, "dup dup dup clone text body") for i in range(150)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r.doc_id: r.simhash for r in simhash_signatures_df(docs).collect()}
    assert sigs[1] == sigs[2]
    got = {(r.doc_a, r.doc_b): r.hamming for r in simhash_pairs(docs).collect()}
    assert got.get((1, 2)) == 0
    assert 150 > SIMHASH_BAND_CAP
    assert all(not (a >= 100 and b >= 100) for a, b in got)


def test_simhash_dropped_bands_audit(spark, tmp_path):
    """No-silent-caps (VERDICT r5 item 3b): the over-cap band groups that
    simhash_pairs drops are queryable via band_overcap_groups, agree with
    the DuckDB oracle row-for-row on a corpus where the cap is LIVE, and
    exactly explain the pairs the generator suppressed."""
    import os

    import duckdb

    from ocrd_anybaseocr_spark.operators.dedup import (
        ORACLE_SIMHASH_DROPPED_BANDS,
        SIMHASH_BAND_CAP,
        SIMHASH_BANDS,
        band_overcap_groups,
        simhash_signatures_df,
    )

    toks = [f"tok{i}" for i in range(60)]
    rows = [(1, " ".join(toks)), (2, " ".join(reversed(toks)))]
    rows += [(100 + i, "dup dup dup clone text body") for i in range(150)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    dropped = band_overcap_groups(
        simhash_signatures_df(docs), "doc_id", "simhash"
    ).collect()
    # the 150-clique shares one signature -> all 4 of its bands are hot
    assert len(dropped) == SIMHASH_BANDS
    assert all(r.n >= 150 for r in dropped)

    # DuckDB twin over the same rows (documents view like the driver gate)
    d = str(tmp_path)
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{os.path.join(d, 'documents.parquet')}/*.parquet')"
    )
    want = con.execute(
        ORACLE_SIMHASH_DROPPED_BANDS + " ORDER BY band_no, band_val"
    ).fetchall()
    got = sorted((r.band_no, r.band_val, r.n) for r in dropped)
    assert got == [tuple(w) for w in want]


def test_exact_substring_partitioning_invariance(spark):
    """The diagonal gaps-and-islands algebra must be partitioning-
    invariant: identical pairs and run lengths at different shuffle
    widths and input layouts (row_number within (pair, diag) orders by a
    unique pos — no ties for the shuffle to resolve arbitrarily)."""
    from ocrd_anybaseocr_spark.operators.dedup import exact_substring_pairs

    passage = " ".join(f"p{i}" for i in range(40))
    rows = [(i, f"x{i} " * 3 + passage + f" y{i}") for i in range(1, 9)]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = []
        for parts, slices in ((2, 1), (16, 8)):
            spark.conf.set("spark.sql.shuffle.partitions", str(parts))
            docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(slices)
            outs.append(sorted(tuple(r) for r in exact_substring_pairs(docs).collect()))
        assert outs[0] == outs[1] and len(outs[0]) == 8 * 7 // 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_pq_adc_recall_and_planted_duplicate(spark):
    """PQ-ADC with exact re-rank: (1) on the deterministic sf0.01 corpus
    (isotropic vectors — PQ's worst case) recall@3 vs exact squared-L2 is
    pinned >= 0.6; (2) a planted exact duplicate of a query vector must
    come back at rank 1 with d2 = 0 — quantization can only blur the
    shortlist, never the exact re-ranked order."""
    from pyspark.sql import functions as F

    from ocrd_anybaseocr_spark.operators import similarity as sim

    session_cache.clear()
    sf = "/root/testdata/sf0.01"
    got = sim.q_ann_pq_adc(spark, sf).collect()
    pq_top = {(r.query_id, r.neighbor_id) for r in got}

    emb = sim.load_table(spark, sf, "embeddings")
    se = emb.select("vec_id", F.expr(sim._SE_SPARK).alias("se"))
    q = se.filter(F.col("vec_id") < sim.N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("se").alias("q_se")
    )
    c = se.select(F.col("vec_id").alias("neighbor_id"), F.col("se").alias("n_se"))
    d2 = ("aggregate(zip_with(q_se, n_se, (x, y) -> (x - y) * (x - y)),"
          " 0L, (acc, t) -> acc + t)")
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    exact = (
        q.join(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("d2", F.expr(d2))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    )
    truth = {(r.query_id, r.neighbor_id) for r in exact}
    recall = len(truth & pq_top) / len(truth)
    assert recall >= 0.6, f"PQ recall@3 {recall:.3f}"

    # planted duplicate: copy query 3's embedding onto a new vec_id
    rows = emb.collect()
    dup_src = next(r for r in rows if r.vec_id == 3)
    new_id = max(r.vec_id for r in rows) + 1
    planted = spark.createDataFrame(
        [(new_id, dup_src.embedding, dup_src.label)], emb.schema
    )
    boosted = emb.unionByName(planted)
    books = sim.pq_codebooks(boosted.select("vec_id", "embedding"))
    codes = sim.pq_codes(boosted.select("vec_id", "embedding"), books)
    # duplicate encodes to the same codes as its source
    src_codes = {(r.m, r.code) for r in codes.filter(F.col("vec_id") == 3).collect()}
    dup_codes = {(r.m, r.code) for r in codes.filter(F.col("vec_id") == new_id).collect()}
    assert src_codes == dup_codes and len(src_codes) == sim.PQ_M
    # ...and the FULL query over the boosted corpus returns it at rank 1
    # with exact d2 = 0 (the re-rank guarantee the docstring states —
    # quantization may blur the shortlist, never the final order)
    session_cache.clear()
    try:
        import types

        orig_load = sim.load_table
        sim.load_table = (
            lambda s_, d, n: boosted if d == "boosted://" else orig_load(s_, d, n)
        )
        full = sim.q_ann_pq_adc(spark, "boosted://").collect()
    finally:
        sim.load_table = orig_load
        session_cache.clear()
    q3 = [r for r in full if r.query_id == 3]
    assert q3 and q3[0].rank == 1
    assert q3[0].neighbor_id == new_id and q3[0].d2 == 0
    session_cache.clear()


def test_lm_cross_entropy_orders_rare_above_common(spark, monkeypatch):
    """Unigram-LM cross-entropy: a doc of corpus-rare tokens must score
    strictly higher bits/token than a doc of the corpus's most common
    tokens, and h_sum_e6 must equal the exact sum of its tokens'
    scaled surprisals (ints — order-independent)."""
    import math

    from ocrd_anybaseocr_spark.operators import textstats as ts

    common = ("the quick fox " * 30).strip()          # dominates the corpus
    rare = "zyx qwv jkl"                               # three singletons
    docs = spark.createDataFrame(
        [(1, common), (2, common), (3, rare)], "doc_id long, text string"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    out = {r.doc_id: r for r in ts.q_lm_cross_entropy(spark, "unused").collect()}
    assert out[3].ce_bits > out[1].ce_bits
    # exact per-token accounting for the rare doc: each word count 1
    tot = 90 * 2 + 3
    sup = math.floor(-math.log2(1.0 / tot) * ts.LM_SUP_SCALE + 0.5)
    assert out[3].n_tokens == 3 and out[3].h_sum_e6 == 3 * sup


def test_pii_scrub_planted_parity(spark, monkeypatch):
    """PII scrub on PLANTED pii (the shipped corpus is pristine, so the
    driver gate only proves the identity path): Spark and DuckDB must
    agree byte-for-byte on counts AND the scrubbed text for emails, IPv4
    and phone runs — including adjacency/greediness edge cases (the
    patterns are restricted to the Java-regex ∩ RE2 common subset)."""
    import duckdb

    from ocrd_anybaseocr_spark.operators import textstats as ts

    rows = [
        (1, "contact bob.smith+spam@sub.example.org or eve@ex.io today"),
        (2, "server at 10.0.255.3 and 192.168.001.042 rebooted"),
        (3, "call +1 (555) 123-4567 or +49-30-1234567 now"),
        (4, "mixed: a@b.co from 8.8.8.8 dialed +33 1 22 33 44 55"),
        (5, "clean text with no identifiers at all"),
        (6, "edge a@b.c single-letter tld stays; 1.2.3 not an ip"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {r.doc_id: r.asDict() for r in ts.q_pii_scrub(spark, "unused").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: dict(zip(["doc_id", "n_email", "n_ipv4", "n_phone", "scrub_md5"], r))
        for r in con.execute(ts.ORACLE_PII).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k] == want[k], (k, got[k], want[k])
    # sanity on the semantics, not just parity
    assert got[1]["n_email"] == 2 and got[2]["n_ipv4"] == 2
    assert got[3]["n_phone"] == 2 and got[5]["n_email"] == 0
    assert got[6]["n_email"] == 0  # single-letter TLD not matched


def test_dedup_exact_normalized_non_ascii_parity(spark, monkeypatch):
    """The normalize kernel (Python str.lower, then the [^a-z0-9 ] strip)
    must group exactly as the oracle's DuckDB lower() + regexp_replace on
    non-ASCII input: U+0130 and U+212A (the only non-ASCII code points
    whose lowercase survives the strip, as i and k), sharp s, a
    word-final capital sigma, an astral emoji and non-ASCII spaces, each
    planted next to its ASCII twin, plus one row holding all of them."""
    import duckdb

    from ocrd_anybaseocr_spark.operators import textstats as ts

    odd = "\u0130\u212a\u00df\u039f\u0394\u039f\u03a3\U0001f600\u00a0\u3000\t"
    rows = [
        (1, "\u0130stanbul \u212aelvin"),
        (2, "istanbul kelvin"),
        (3, "Stra\u00dfe"),
        (4, "strae"),
        (5, "abc \u039f\u0394\u039f\u03a3 def"),
        (6, "ABC def"),
        (7, "smile \U0001f600 now"),
        (8, "smile now"),
        (9, "a\u00a0b\u3000c\td  e "),
        (10, f"x {odd} y{odd}z"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {tuple(r) for r in ts.q_dedup_exact_normalized(spark, "unused").collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {tuple(r) for r in con.execute(ts.ORACLE_DEDUP_NORM).fetchall()}
    assert got == want
    # the ASCII twins collide: 4 two-doc groups, canonical = the lower id
    assert sorted((n, c) for _, n, c in got if n > 1) == [(2, 1), (2, 3), (2, 5), (2, 7)]


def test_kmeans_matches_numpy_lloyd(spark):
    """kmeans_centroids/q_kmeans_clusters vs an independent numpy Lloyd
    with the same seeds, scaling, rounding and tie-breaks — exact
    assignment equality on the sf0.001 embeddings."""
    import numpy as np

    from ocrd_anybaseocr_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    emb = sim.load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    rows = sorted((r.vec_id, list(r.embedding)) for r in emb.collect())
    ids = np.array([i for i, _ in rows])
    X = np.floor(np.array([v for _, v in rows], dtype=np.float64) * 10000 + 0.5).astype(np.int64)
    cents = X[ids < sim.KMEANS_K].copy()
    cids = np.array(sorted(ids[ids < sim.KMEANS_K]))
    for _ in range(sim.KMEANS_ITERS):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = cids[np.argmin(d2, axis=1)]  # argmin keeps first min = lowest cid
        new_c, new_ids = [], []
        for cid in cids:
            m = assign == cid
            if m.any():
                s = X[m].sum(axis=0)
                new_c.append(np.floor(s * 1.0 / m.sum() + 0.5).astype(np.int64))
                new_ids.append(cid)
        cents, cids = np.array(new_c), np.array(new_ids)
    d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    want = dict(zip(ids.tolist(), cids[np.argmin(d2, axis=1)].tolist()))
    got = {r.vec_id: r.cluster for r in sim.q_kmeans_clusters(spark, sf).collect()}
    assert got == want


def test_token_windows_boundaries(spark, monkeypatch):
    """Window algebra: a 113-token doc yields 3 windows (64, 64, 17 tokens
    — stride 48, tail clamped); a 64-token doc and a 1-token doc yield
    exactly one window each; window content is the exact slice."""
    import hashlib

    from ocrd_anybaseocr_spark.operators import textstats as ts

    toks = [f"t{i}" for i in range(113)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, " ".join(toks[:64])), (3, "solo")],
        "doc_id long, text string",
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    rows = ts.q_token_windows(spark, "unused").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.win_no] = r
    assert sorted(by_doc[1]) == [0, 1, 2]
    assert [by_doc[1][i].n_tokens for i in (0, 1, 2)] == [64, 64, 17]
    for i in (0, 1, 2):
        want = " ".join(toks[i * 48 : i * 48 + 64])
        assert by_doc[1][i].window_md5 == hashlib.md5(want.encode()).hexdigest()
    assert sorted(by_doc[2]) == [0] and by_doc[2][0].n_tokens == 64
    assert sorted(by_doc[3]) == [0] and by_doc[3][0].n_tokens == 1


def test_new_operators_shuffle_invariance(spark):
    """kmeans_clusters, media dhash pairs and token_windows must be
    row-identical under different shuffle widths and input layouts (their
    determinism rests on exact-int argmins/driver-aggregated centroids,
    per-row hashes, and narrow window algebra — none may depend on
    partition placement)."""
    from ocrd_anybaseocr_spark.operators import similarity as sim

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = []
        for parts in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            session_cache.clear()
            outs.append(sorted(map(tuple, sim.q_kmeans_clusters(spark, sf).collect())))
        assert outs[0] == outs[1]

        sd = []
        for parts in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            session_cache.clear()
            sd.append(sorted(map(tuple, sim.q_dedup_semantic(spark, sf).collect())))
        assert sd[0] == sd[1]

        from ocrd_anybaseocr_spark.operators import textstats as ts

        tw = []
        for parts in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            tw.append(sorted(map(tuple, ts.q_token_windows(spark, sf).collect())))
        assert tw[0] == tw[1]

        from ocrd_anybaseocr_spark.operators import media as med
        from ocrd_anybaseocr_spark.operators.dedup import hamming_pairs
        from ocrd_anybaseocr_spark.synth import generate_doc
        from pyspark.sql import types as T

        rows = []
        for i in range(3):
            _, blobs = generate_doc(42, i)
            rows += [(b["media_ref"], bytes(b["image"])) for b in blobs]
        schema = T.StructType([
            T.StructField("media_ref", T.StringType()),
            T.StructField("image", T.BinaryType()),
        ])
        dh = []
        for parts in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            df = spark.createDataFrame(rows, schema).repartition(int(parts))
            pairs = hamming_pairs(med.media_dhash(df), "media_ref", "dhash", max_hamming=3)
            dh.append(sorted(map(tuple, pairs.collect())))
        assert dh[0] == dh[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        session_cache.clear()


def test_dedup_incremental_cross_side_only(spark):
    """Incremental dedup joins NEW bands against CORPUS bands only: a new
    doc near-identical to a corpus doc is matched and verified; two
    near-identical NEW docs produce no pair (that's the next self-join
    pass's job); corpus x corpus likewise."""
    from ocrd_anybaseocr_spark.operators.dedup import dedup_incremental

    base = " ".join(f"w{i}" for i in range(50))
    near = " ".join(f"w{i}" for i in range(49)) + " CHANGED"
    corpus = spark.createDataFrame(
        [(0, base), (2, "completely different corpus text here " * 3)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, near), (3, near + " X"), (5, "unrelated fresh content " * 4)],
        "doc_id long, text string",
    )
    got = {(r.doc_new, r.doc_corpus): r.jaccard
           for r in dedup_incremental(new, corpus).collect()}
    assert (1, 0) in got and got[(1, 0)] >= 0.5
    assert (3, 0) in got  # the second near variant also matches the corpus
    # no new x new pair (1,3)/(3,1) and no corpus-side keys ever appear
    assert all(k[0] in (1, 3, 5) and k[1] in (0, 2) for k in got)
    assert not any({a, b} == {1, 3} for a, b in got)


def test_round6_operators_shuffle_invariance(spark):
    """caption_pairs, bm25_topk, embedding_quantize_int8 and
    source_mix_weights must be row-identical under different shuffle
    widths (their determinism rests on narrow array algebra, exact-int
    rationals with deterministic tie-breaks, and literal-embedded ranges
    — none may depend on partition placement)."""
    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in (
            "caption_pairs",
            "bm25_topk",
            "embedding_quantize_int8",
            "source_mix_weights",
        ):
            outs = []
            for parts in ("2", "17"):
                spark.conf.set("spark.sql.shuffle.partitions", parts)
                session_cache.clear()
                df = QUERIES[name](spark, sf)
                outs.append(
                    sorted(tuple(str(c) for c in r) for r in df.collect())
                )
            assert outs[0] == outs[1], name
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        session_cache.clear()


def test_bm25_ranks_term_dense_doc_first(spark, monkeypatch):
    """Semantic pin (beyond oracle parity): a document dense in the probe
    terms must outrank a long document mentioning one term once, and docs
    with no probe term must not appear; the absent term ('shuffle' is not
    in the synthetic vocab) contributes nothing."""
    from ocrd_anybaseocr_spark.operators import textstats as ts

    filler = " ".join(f"f{i}" for i in range(50))
    rows = [
        (1, "spark merge window spark merge window spark", "en", "s", 1),
        (2, filler + " spark", "en", "s", 1),
        (3, filler + " " + filler, "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: df)
    got = ts.q_bm25_topk(spark, "unused").collect()
    ids = [r.doc_id for r in got]
    assert ids[0] == 1 and 2 in ids and 3 not in ids
    assert {r.doc_id: r.n_terms for r in got}[1] == 3  # shuffle absent -> 3 not 4


def test_quantize_int8_reconstruction_bound(spark, monkeypatch):
    """Semantic pin: dequantizing q back to mn + q*range/255 must land
    within one quantization step of the original scaled value for every
    element, q spans the full 0..255 code range on min/max elements, and
    degenerate constant dimensions quantize to 0."""
    from ocrd_anybaseocr_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, EMB_DIM)).astype(np.float32)
    vecs[:, 7] = 0.25  # degenerate dim
    df = _emb_df(spark, vecs)
    ranges = sim.dim_ranges(df)
    got = {r.vec_id: r.qvec for r in sim.quantize_int8(df, ranges).collect()}
    se = np.floor(vecs.astype(np.float64) * 10000 + 0.5).astype(np.int64)
    for d in range(EMB_DIM):
        mn, mx = ranges[d]
        assert mn == se[:, d].min() and mx == se[:, d].max()
        qs = np.array([got[i][d] for i in range(len(vecs))])
        if mx == mn:
            assert (qs == 0).all()
            continue
        assert qs.min() == 0 and qs.max() == 255
        step = (mx - mn) / 255.0
        recon = mn + qs * step
        assert np.abs(recon - se[:, d]).max() <= step + 1e-9


def test_caption_pairs_contract(spark, monkeypatch):
    """Semantic pin for caption mining on constructed docs: a normal doc
    captions every image with the FOLLOWING text span; a doc whose last
    span is an image falls back to the PRECEDING span; a single-chunk doc
    (image only) emits a NULL caption with NULL cap_src."""
    import ocrd_anybaseocr_spark.queries as Q

    # chunking: 8 words/chunk, image at i%6==0, heading at i%7==3
    w = lambda n: " ".join(f"w{i}" for i in range(n))
    rows = [
        (1, w(20), "en", "s", 1),   # 3 chunks: img, text, text
        (2, w(49), "en", "s", 1),   # 7 chunks: img at 0 and 6 (6%6==0, last)
        (3, w(5), "en", "s", 1),    # 1 chunk: image only
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(Q, "load_table", lambda s, d, n: df)
    got = {
        (r.doc_id, r.media_ref): (r.caption, r.cap_src)
        for r in Q.QUERIES["caption_pairs"](spark, "unused").collect()
    }
    assert got[(1, "1_p0")][1] == "following"
    assert got[(1, "1_p0")][0] == " ".join(f"w{i}" for i in range(8, 16))
    assert got[(2, "2_p1")][1] == "preceding"   # image at ord 6 is last
    assert got[(2, "2_p1")][0] == " ".join(f"w{i}" for i in range(40, 48))
    assert got[(3, "3_p0")] == (None, None)


def test_dsir_weights_separate_planted_vocabularies(spark, monkeypatch):
    """Semantic pin for DSIR (beyond oracle parity): on a corpus where the
    target language uses a disjoint vocabulary, every target-language doc
    must score a strictly higher per-feature importance weight than every
    off-target doc, and a fresh doc written in the target vocabulary (but
    labelled off-target) must score on the target side — the weight tracks
    CONTENT similarity to the target distribution, not the label."""
    import math

    from ocrd_anybaseocr_spark.operators import textstats as ts

    rng = np.random.default_rng(7)
    voc_a = [f"alpha{i}" for i in range(30)]
    voc_b = [f"beta{i}" for i in range(30)]
    rows = []
    for d in range(12):
        voc = voc_a if d < 6 else voc_b
        lang = "en" if d < 6 else "zh"
        rows.append((d, " ".join(rng.choice(voc, 40)), lang, "s", 1))
    # doc 12: target vocabulary, off-target label
    rows.append((12, " ".join(rng.choice(voc_a, 40)), "zh", "s", 1))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: df)
    got = {
        r.doc_id: r.lw_e6 / r.n_feats
        for r in ts.q_dsir_weights(spark, "unused").collect()
    }
    assert len(got) == 13
    target = [got[d] for d in range(6)] + [got[12]]
    off = [got[d] for d in range(6, 12)]
    assert min(target) > max(off), got
    # exact-int Python twin of the fit+score (the pytest-side oracle for
    # monkeypatched inputs, mirroring the DuckDB CTE term for term)
    import hashlib
    from collections import Counter

    B = ts.DSIR_BUCKETS
    feats = lambda t: t.split(" ") + [
        f"{a} {b}" for a, b in zip(t.split(" "), t.split(" ")[1:])
    ]
    buk = lambda f: int(hashlib.md5(f.encode()).hexdigest()[:2], 16)
    cr, ct = Counter(), Counter()
    for _, text, lang, _, _ in rows:
        for f in feats(text):
            cr[buk(f)] += 1
            if lang == "en":
                ct[buk(f)] += 1
    R, T = sum(cr.values()), sum(ct.values())
    lr = [
        math.floor(
            (
                math.log2(ct[b] + 1)
                - math.log2(cr[b] + 1)
                + math.log2(R + B)
                - math.log2(T + B)
            )
            * ts.DSIR_SCALE
            + 0.5
        )
        for b in range(B)
    ]
    for doc_id, text, _, _, _ in rows:
        fs = feats(text)
        assert got[doc_id] == sum(lr[buk(f)] for f in fs) / len(fs), doc_id


def test_dsir_weights_shuffle_invariance(spark):
    """dsir_weights rows must be identical under different shuffle widths
    (fit = exact-int conditional counts; score = narrow literal algebra)."""
    from ocrd_anybaseocr_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        outs = []
        for parts in ("2", "17"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            df = QUERIES["dsir_weights"](spark, sf)
            outs.append(sorted(tuple(r) for r in df.collect()))
        assert outs[0] == outs[1]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_semantic_dedup_chain_shadowing(spark):
    """The released-SemDeDup triangular rule (Abbas et al. 2023): within a
    cluster, points are ordered farthest-from-centroid first and a point
    is dropped iff ANY earlier point is within the cosine threshold —
    including earlier points that were THEMSELVES dropped (the paper's
    implementation masks the upper triangle of the full sim matrix, so a
    dropped point still shadows later ones). Planted chain A–B–C at
    angles 90/40/0 degrees: sim(A,B) and sim(B,C) cross the 0.35
    threshold, sim(A,C)=0 does not — so C must be dropped ONLY via the
    already-dropped B. A control cluster with just A' and C' keeps both."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        SEMDEDUP_DOT_E8,
        semantic_dedup_decisions,
    )

    A = [0, 10000]
    B = [7660, 6428]   # 40 deg: dot(A,B)=6.428e7, dot(B,C)=7.66e7
    C = [10000, 0]     # dot(A,C)=0
    assert 10000 * 6428 >= SEMDEDUP_DOT_E8 > 0
    asg = spark.createDataFrame(
        [
            (1, A, 1, 100),
            (2, B, 1, 50),
            (3, C, 1, 10),
            (4, A, 2, 100),
            (5, C, 2, 10),
        ],
        "vec_id long, v_se array<bigint>, cluster int, d2 long",
    )
    got = {r.vec_id: r.kept for r in semantic_dedup_decisions(asg).collect()}
    assert got == {1: True, 2: False, 3: False, 4: True, 5: True}


def test_semantic_dedup_tie_break_and_self(spark):
    """d2 ties order by vec_id ASC (lower id shadows higher), and a point
    never shadows itself even though dot(self,self) maxes the scale."""
    from ocrd_anybaseocr_spark.operators.similarity import (
        semantic_dedup_decisions,
    )

    V = [0, 10000]
    asg = spark.createDataFrame(
        [(7, V, 1, 42), (9, V, 1, 42)],
        "vec_id long, v_se array<bigint>, cluster int, d2 long",
    )
    got = {r.vec_id: r.kept for r in semantic_dedup_decisions(asg).collect()}
    assert got == {7: True, 9: False}


def test_source_mix_sample_exact_twin_and_expectation(spark, monkeypatch):
    """source_mix_sample vs an exact Python twin (hashlib md5 draw, same
    salt/floor-div algebra) on a skewed 8/2 two-source corpus: per-doc
    n_copies match exactly, the rare source gets >= 2 epochs per doc, and
    per-source expected copies equal n_total/n_sources under the ppm
    weights (the uniform-mix contract)."""
    import hashlib

    from ocrd_anybaseocr_spark.operators import textstats as ts

    rows = [(i, "w", "en", "a" if i < 8 else "b", 1) for i in range(10)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {r.doc_id: (r.weight_ppm, r.n_copies)
           for r in ts.q_source_mix_sample(spark, "unused").collect()}
    assert len(got) == 10
    for doc_id in range(10):
        w = 10_000_000 // (2 * (8 if doc_id < 8 else 2))
        draw = int(hashlib.md5(f"mix:{doc_id}".encode()).hexdigest()[:8], 16) % 1_000_000
        want = w // 1_000_000 + (1 if draw < w % 1_000_000 else 0)
        assert got[doc_id] == (w, want), (doc_id, got[doc_id], (w, want))
        if doc_id >= 8:
            assert got[doc_id][1] >= 2  # rare source always upsampled
    # expectation: sum over a source of (w/1e6) = n_total/n_sources = 5
    assert sum(got[i][0] for i in range(8)) / 1_000_000 == 5.0


def test_bloom_ingest_planted_twin_and_no_false_negatives(spark):
    """dedup_bloom_ingest vs an exact hashlib twin (same disjoint-slice
    hash family, 63-bit words, integer geometry) on a planted corpus: a
    new doc that copies a corpus doc must be bloom_hit AND exact_dup
    (Bloom filters have no false negatives), and every per-doc flag pair
    matches the twin bit-for-bit."""
    import hashlib

    from ocrd_anybaseocr_spark.operators.dedup import (
        BLOOM_BITS_PER_KEY,
        BLOOM_K,
        BLOOM_MIN_WORDS,
        BLOOM_WORD_BITS,
        dedup_bloom_ingest,
    )

    corpus_texts = {i: f"corpus document number {i} with words " + "x " * i
                    for i in range(40)}
    new_texts = {100: corpus_texts[7], 101: "a genuinely novel document",
                 102: corpus_texts[23], 103: "another novel one entirely"}
    corpus = spark.createDataFrame(
        list(corpus_texts.items()), "doc_id long, text string"
    )
    new = spark.createDataFrame(list(new_texts.items()), "doc_id long, text string")
    got = {r.doc_id: (r.bloom_hit, r.exact_dup)
           for r in dedup_bloom_ingest(new, corpus).collect()}

    words = max(BLOOM_MIN_WORDS,
                (BLOOM_BITS_PER_KEY * len(corpus_texts) + BLOOM_WORD_BITS - 1)
                // BLOOM_WORD_BITS)
    m = BLOOM_WORD_BITS * words

    def positions(text):
        h = hashlib.md5(text.encode()).hexdigest()
        return [int(h[8 * j: 8 * j + 8], 16) % m for j in range(BLOOM_K)]

    bits = set()
    for t in corpus_texts.values():
        bits.update(positions(t))
    corpus_keys = {hashlib.md5(t.encode()).hexdigest() for t in corpus_texts.values()}
    want = {}
    for doc_id, t in new_texts.items():
        want[doc_id] = (
            all(p in bits for p in positions(t)),
            hashlib.md5(t.encode()).hexdigest() in corpus_keys,
        )
    assert got == want, (got, want)
    assert got[100] == (True, True) and got[102] == (True, True)
    for hit, exact in got.values():  # no false negatives, ever
        assert not (exact and not hit)


def test_audio_fingerprint_gain_invariance_and_pairs(spark):
    """The audio envelope-gradient fingerprint must be invariant to exact
    uniform gain (x2 samples -> x4 energies -> identical > comparisons):
    a gain-scaled copy pairs with the original at hamming 0 through the
    shared banding, while an independent random signal does not. Also
    pins audio_fp_bytes against a direct numpy twin."""
    import numpy as np

    from ocrd_anybaseocr_spark.operators.dedup import hamming_pairs
    from ocrd_anybaseocr_spark.operators.media import (
        AFP_NWIN,
        AFP_WINDOW,
        audio_fingerprint,
        audio_fp_bytes,
    )

    rng = np.random.default_rng(5)
    base = rng.integers(-8000, 8000, size=AFP_WINDOW * AFP_NWIN, dtype=np.int16)
    gain = (base.astype(np.int32) * 2).astype(np.int16)  # no clipping at +-16000
    other = rng.integers(-8000, 8000, size=AFP_WINDOW * AFP_NWIN, dtype=np.int16)

    fb = audio_fp_bytes(base.tobytes())
    fg = audio_fp_bytes(gain.tobytes())
    fo = audio_fp_bytes(other.tobytes())
    assert fb[0] == AFP_NWIN and fb[1] == fg[1]
    assert fb[1] != fo[1]

    # numpy twin of the bit rule
    x = base.astype(np.int64).reshape(AFP_NWIN, AFP_WINDOW)
    e = (x * x).sum(axis=1)
    want = sum(1 << j for j in range(64) if e[j + 1] > e[j])
    if want >= 1 << 63:
        want -= 1 << 64
    assert fb[1] == want

    blobs = spark.createDataFrame(
        [("a", base.tobytes()), ("b", gain.tobytes()), ("c", other.tobytes())],
        "media_ref string, image binary",
    )
    pairs = hamming_pairs(
        audio_fingerprint(blobs), "media_ref", "afp", max_hamming=3
    ).collect()
    assert {(r.media_ref_a, r.media_ref_b, r.hamming) for r in pairs} == {
        ("a", "b", 0)
    }

    # short-blob edges: one window -> fp 0; empty -> no row
    assert audio_fp_bytes(b"\x01\x02" * 10) == (1, 0)
    assert audio_fp_bytes(b"") is None


def test_pack_sequences_twin_and_boundary_algebra(spark, monkeypatch):
    """pack_sequences vs an exact Python twin (same seeded order, same
    cumsum/div algebra) on a crafted corpus: per-shard offsets are
    contiguous (each doc starts where the previous ended), a doc
    straddling a block boundary reports start_seq < end_seq, and the
    end_seq single-token algebra holds at n_tokens = 1."""
    import hashlib

    from ocrd_anybaseocr_spark.operators import textstats as ts

    # shard 0 only (doc_id multiples of PACK_SHARDS): token counts chosen
    # so SOME doc straddles the 1024 boundary wherever the order lands it
    sizes = [700, 700, 1, 400, 1024, 5]
    rows = [
        (i * ts.PACK_SHARDS, " ".join("t" for _ in range(n)), "en", "s", n)
        for i, n in enumerate(sizes)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = sorted(
        (r.doc_id, r.shard, r.pos, r.n_tokens, r.start_seq, r.start_off, r.end_seq)
        for r in ts.q_pack_sequences(spark, "unused").collect()
    )

    order = sorted(
        (hashlib.md5(f"pack:{i * ts.PACK_SHARDS}".encode()).hexdigest(),
         i * ts.PACK_SHARDS, sizes[i])
        for i in range(len(sizes))
    )
    want, off = [], 0
    for pos, (_, doc_id, n) in enumerate(order, start=1):
        want.append((doc_id, 0, pos, n, off // ts.PACK_BLOCK,
                     off % ts.PACK_BLOCK, (off + n - 1) // ts.PACK_BLOCK))
        off += n
    assert got == sorted(want)
    # contiguity + straddle really exercised
    assert off == sum(sizes)
    assert any(r[4] < r[6] for r in got), "no doc straddled a block boundary"
    one = [r for r in got if r[3] == 1]
    assert one and all(r[4] == r[6] for r in one)


def test_cdc_chunks_twin_shift_survival_and_edges(spark):
    """Content-defined chunking: (1) chunk keys/boundaries match an exact
    hashlib twin; (2) the CDC shift-survival property — prepending one word
    redraws only the chunks up to the first surviving boundary, every later
    chunk keeps its byte-identical key (fixed-size blocking would lose ALL
    of them); (3) a doc shorter than the window is one whole-doc chunk; (4)
    chunks partition the text exactly."""
    import hashlib

    from ocrd_anybaseocr_spark.operators.dedup import CDC_D, CDC_W, cdc_chunk_rows

    base = [f"w{i}" for i in range(80)]
    a = " ".join(base)
    docs = spark.createDataFrame(
        [("a", a), ("b", "PFX " + a), ("tiny", "one two")], ["doc_id", "text"]
    )
    rows = cdc_chunk_rows(docs).collect()

    def twin(words):
        ends = []
        for s in range(0, len(words) - CDC_W):  # last window exempt (forced end)
            h = int(hashlib.md5(" ".join(words[s:s + CDC_W]).encode()).hexdigest()[:8], 16)
            if h % CDC_D == 0:
                ends.append(s + CDC_W - 1)
        ends.append(len(words) - 1)
        keys, st = [], 0
        for e in ends:
            keys.append(hashlib.md5(" ".join(words[st:e + 1]).encode()).hexdigest())
            st = e + 1
        return keys

    ka = [r.chunk_key for r in sorted(rows, key=lambda r: r.chunk_no) if r.doc_id == "a"]
    kb = [r.chunk_key for r in sorted(rows, key=lambda r: r.chunk_no) if r.doc_id == "b"]
    assert ka == twin(base)
    assert kb == twin(["PFX"] + base)
    assert len(ka) >= 3  # the fixture really chunks
    # shift survival: all of a's chunks after its first boundary reappear in b
    assert set(ka[1:]) <= set(kb)
    # partition: chunk sizes sum to the word count, no overlap by construction
    assert sum(r.n_words for r in rows if r.doc_id == "a") == 80
    tiny = [r for r in rows if r.doc_id == "tiny"]
    assert len(tiny) == 1 and tiny[0].n_words == 2


def test_bpe_kernel_pins():
    """kernels/bpe.py: (1) the Sennrich worked example learns ('e','s'),
    ('es','t'), ('est','</w>') first (tie-break = lexicographically
    smallest pair); (2) the encoder is lowest-rank-first, NOT left-to-right
    greedy; (3) input order never matters; (4) frequency-1 pairs stop the
    fit (no single-word memorization); (5) unseen characters stay
    singleton symbols."""
    from ocrd_anybaseocr_spark.kernels.bpe import (
        EOW,
        bpe_encode_word,
        bpe_train,
    )

    counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe_train(counts, n_merges=3)
    assert merges == [("e", "s"), ("es", "t"), ("est", EOW)]
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe_encode_word("widest", ranks) == ["w", "i", "d", "est" + EOW]
    # rank order beats text order: ('b','c') has rank 0, so "abc" must NOT
    # start by merging the leftmost pair ('a','b')
    assert bpe_encode_word("abc", {("b", "c"): 0, ("a", "b"): 1}) == ["a", "bc", EOW]
    assert bpe_train(list(reversed(counts)), n_merges=3) == merges
    assert bpe_train([("xyz", 1)]) == []
    assert bpe_encode_word("q#z", ranks) == ["q", "#", "z", EOW]


def test_bpe_corpus_fit_properties(spark):
    """The corpus-learned vocabulary really compresses: tokens-per-word on
    the training corpus is strictly below character count, every doc's
    token digest is stable across two runs (cache + determinism), and the
    merge table is exactly BPE_MERGES long on this corpus."""
    from ocrd_anybaseocr_spark.kernels.bpe import BPE_MERGES
    from ocrd_anybaseocr_spark.operators import tokenize as tok
    from ocrd_anybaseocr_spark.queries import QUERIES, _pipeline_corpus

    session_cache.clear()
    merges, cov_ppm = tok.bpe_fit_stats(spark, _pipeline_corpus())
    assert len(merges) == BPE_MERGES
    # fit coverage (no-silent-caps, VERDICT r6 item 5): exact equality
    # with an independent Counter twin over the same flat texts, and it
    # rides every bpe_train row
    from collections import Counter

    from ocrd_anybaseocr_spark.kernels.bpe import BPE_TOP_WORDS
    from ocrd_anybaseocr_spark.sources.tables import load_corpus

    docs, _ = load_corpus(spark, _pipeline_corpus())
    wc = Counter()
    for r in tok.flat_text(docs).collect():
        wc.update(r.text.split(" "))
    top = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_WORDS]
    want = (sum(c for _, c in top) * 1_000_000) // sum(wc.values())
    assert cov_ppm == want and 0 < cov_ppm <= 1_000_000
    tr = QUERIES["bpe_train"](spark, "unused").collect()
    assert {r.fit_coverage_ppm for r in tr} == {cov_ppm}
    rows = {r.doc_id: r for r in QUERIES["bpe_tokenize"](spark, "unused").collect()}
    rows2 = {r.doc_id: r for r in QUERIES["bpe_tokenize"](spark, "unused").collect()}
    assert rows.keys() == rows2.keys()
    for d in rows:
        assert rows[d].tokens_md5 == rows2[d].tokens_md5
        # learned subwords beat characters: corpus words are >= 3 chars
        # (+ EOW = >= 4 initial symbols) but encode to ~3 tokens/word
        assert rows[d].n_tokens < rows[d].n_words * 4
    session_cache.clear()


def test_bpe_fit_coverage_below_cap(spark, monkeypatch):
    """A corpus with more word types than BPE_TOP_WORDS must report the
    cap's true coverage: rare tail types outside the top-V are excluded
    from the ppm numerator, exactly (constructed twin)."""
    from ocrd_anybaseocr_spark.kernels.bpe import BPE_TOP_WORDS
    from ocrd_anybaseocr_spark.operators import tokenize as tok

    n_common, n_rare = 20, BPE_TOP_WORDS
    # 20 common words x 100 occurrences + BPE_TOP_WORDS rare singletons:
    # top-V = 20 common + (V-20) rare -> covered = 2000 + V - 20
    words = [f"common{i:02d}" for i in range(n_common)] * 100 + [
        f"rareword{i:04d}" for i in range(n_rare)
    ]
    text = " ".join(words)
    docs = spark.createDataFrame(
        [("d0", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    monkeypatch.setattr(tok, "load_corpus", lambda s, d: (docs, None))
    session_cache.clear()
    try:
        _, cov_ppm = tok.bpe_fit_stats(spark, "synthetic-cap-corpus")
        covered = n_common * 100 + (BPE_TOP_WORDS - n_common)
        total = n_common * 100 + n_rare
        assert cov_ppm == (covered * 1_000_000) // total
        assert cov_ppm < 1_000_000
    finally:
        session_cache.clear()


def test_hard_negatives_planted_mirror(spark):
    """Hard-negative mining: each label-0 anchor's hard negative must be
    its byte-identical label-1 mirror (cosine exactly 1 beats every other
    candidate), and no row pairs two same-label vectors."""
    from ocrd_anybaseocr_spark.operators.similarity import hard_negatives

    rng = np.random.default_rng(11)
    n = 30
    base = rng.standard_normal((n, EMB_DIM))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v], 0))
        rows.append((i + n, [float(x) for x in v], 1))  # mirror, other label
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), False),
            T.StructField("embedding", T.ArrayType(T.FloatType()), False),
            T.StructField("label", T.IntegerType(), False),
        ]
    )
    emb = spark.createDataFrame(rows, schema)
    got = {r.vec_id: r for r in hard_negatives(emb).collect()}
    for i in range(n):
        assert got[i].hard_neg_id == i + n, got[i]
        assert got[i + n].hard_neg_id == i, got[i + n]
    assert all(r.anchor_label != r.neg_label for r in got.values())
    session_cache.clear()


def test_source_mix_temperature_planted_exact(spark, monkeypatch):
    """alpha=0.5 mixture on planted counts (A=400, B=100, C=25 →
    s=20/10/5): exact integer expectations, rare-source upsampling
    strictly between uniform and identity."""
    import ocrd_anybaseocr_spark.operators.textstats as ts

    rows = (
        [(f"a{i}", "x y z", "A") for i in range(400)]
        + [(f"b{i}", "x y z", "B") for i in range(100)]
        + [(f"c{i}", "x y z", "C") for i in range(25)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {r.source: r for r in ts.q_source_mix_temperature(spark, "x").collect()}
    # s_total=35, n_total=525
    assert got["A"].weight_ppm == 1000000 * 20 * 525 // (35 * 400)  # 750000
    assert got["B"].weight_ppm == 1000000 * 10 * 525 // (35 * 100)  # 1500000
    assert got["C"].weight_ppm == 1000000 * 5 * 525 // (35 * 25)  # 3000000
    assert got["A"].target_share_ppm == 1000000 * 20 // 35
    # flattening, not uniformity: dominant source downsampled but keeps
    # the largest share; rare source upsampled but stays the smallest
    assert got["A"].weight_ppm < 1000000 < got["C"].weight_ppm
    assert got["A"].target_share_ppm > got["B"].target_share_ppm > got["C"].target_share_ppm


def test_cdc_shared_pairs_planted_passage_and_boilerplate_cap(spark):
    """cdc_shared_pairs: two docs sharing a 48-word middle passage (with
    distinct prefixes/suffixes) pair up with most of the passage's mass —
    chunk boundaries inside the shared region are content-defined, so both
    docs cut it identically after the first interior boundary. A passage
    repeated across 20 docs exceeds CDC_PAIR_DF_CAP and produces NO pairs
    (boilerplate is not pair evidence, and the cap kills the quadratic
    fan-out)."""
    from ocrd_anybaseocr_spark.operators.dedup import (
        CDC_PAIR_DF_CAP,
        cdc_shared_pairs,
    )

    shared = " ".join(f"shr{i}" for i in range(48))
    boiler = " ".join(f"boil{i}" for i in range(30))
    rows = [
        ("x", " ".join(f"px{i}" for i in range(20)) + " " + shared + " "
         + " ".join(f"sx{i}" for i in range(15))),
        ("y", " ".join(f"py{i}" for i in range(11)) + " " + shared + " "
         + " ".join(f"sy{i}" for i in range(25))),
    ] + [
        (f"m{i:02d}", boiler + " " + " ".join(f"u{i}q{j}" for j in range(20)))
        for i in range(20)
    ]
    assert 20 > CDC_PAIR_DF_CAP
    pairs = cdc_shared_pairs(spark.createDataFrame(rows, ["doc_id", "text"])).collect()
    xy = [r for r in pairs if {r.doc_a, r.doc_b} == {"x", "y"}]
    assert xy, pairs
    assert xy[0].shared_words >= 24  # at least half the planted passage
    assert not [r for r in pairs if r.doc_a.startswith("m")], pairs


def test_dsir_resample_mean_anchor_and_twin(spark, monkeypatch):
    """dsir_resample semantics: every doc at or above the floor-mean
    log-weight survives (p = 1 branch), below-mean docs thin out (some
    planted off-target docs drop), and the Gumbel-free draw matches an
    exact hashlib+math twin including the FLOOR-division tau (Spark's
    truncating div corrected for the negative-mean case)."""
    import hashlib
    import math

    from ocrd_anybaseocr_spark.operators import textstats as ts

    rng = np.random.default_rng(13)
    voc_a = [f"alpha{i}" for i in range(30)]
    voc_b = [f"beta{i}" for i in range(30)]
    rows = []
    for d in range(40):
        voc = voc_a if d < 8 else voc_b
        lang = "en" if d < 8 else "zh"
        rows.append((d, " ".join(rng.choice(voc, 40)), lang, "s", 1))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: df)
    got = {r.doc_id: r for r in ts.q_dsir_resample(spark, "x").collect()}
    assert len(got) == 40
    lws = [got[d].lw_e6 for d in got]
    tau = sum(lws) // len(lws)  # python // floors — the oracle semantics
    for d, r in got.items():
        # twin draw: u = (2*draw+1)/2^33, g = half-up micro log2
        h = int(hashlib.md5(f"dsir:{d}".encode()).hexdigest()[:8], 16)
        g = math.floor(math.log2((2 * h + 1) / 8589934592.0) * 1e6 + 0.5)
        assert r.g_e6 == g
        assert r.selected == (r.lw_e6 >= tau or g < r.lw_e6 - tau)
        if r.lw_e6 >= tau:
            assert r.selected  # at-or-above-mean docs always survive (exact
            # p=1 branch — g_e6 can round to 0 for u near 1, round-6 review)
    kept = sum(1 for r in got.values() if r.selected)
    assert 8 <= kept < 40  # all target docs survive; some off-target drop


def test_train_eval_split_dup_colocation_and_twin(spark, monkeypatch):
    """Leakage-safe split: byte-identical docs ALWAYS share a split (the
    content-hash keying — an id-keyed draw puts ~2% of dup pairs across
    the boundary), the assignment matches an exact hashlib twin, and both
    splits are nonempty on a corpus sized well past 1/fraction."""
    import hashlib

    from ocrd_anybaseocr_spark.operators import textstats as ts

    rng = np.random.default_rng(3)
    rows = []
    for d in range(400):
        rows.append((d, " ".join(f"w{d}x{j}" for j in range(12)), "en", "s", 1))
    # 50 exact-dup pairs: ids 1000+i duplicate doc i's text
    for d in range(50):
        rows.append((1000 + d, rows[d][1], "en", "s", 1))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: df)
    got = {r.doc_id: r for r in ts.q_train_eval_split(spark, "x").collect()}
    assert len(got) == 450
    for d in range(50):
        assert got[d].split == got[1000 + d].split  # dup co-location
    text_by_id = {i: t for i, t, *_ in rows}
    for d, r in got.items():
        h = hashlib.md5(text_by_id[d].encode()).hexdigest()
        draw = int(hashlib.md5(f"split:{h}".encode()).hexdigest()[:8], 16) % 10000
        assert r.content_h == h
        assert r.split == ("eval" if draw < ts.EVAL_SPLIT_BP else "train")
    splits = {r.split for r in got.values()}
    assert splits == {"train", "eval"}


def test_decontaminate_splits_exact_dups_never_leak(spark, monkeypatch):
    """The content-keyed split makes exact-dup leakage structurally zero:
    planted byte-identical pairs NEVER appear in the audit (they co-locate
    by construction), while a near-dup pair whose sides draw different
    splits (found deterministically with the hashlib twin) IS flagged."""
    import hashlib

    from ocrd_anybaseocr_spark.operators import textstats as ts

    def side(text: str) -> str:
        h = hashlib.md5(text.encode()).hexdigest()
        draw = int(hashlib.md5(f"split:{h}".encode()).hexdigest()[:8], 16) % 10000
        return "eval" if draw < ts.EVAL_SPLIT_BP else "train"

    # find a near-dup pair straddling the split: variant in eval, base in
    # train (deterministic search over seeded texts)
    straddle = None
    for i in range(4000):
        base = " ".join(f"leak{i}w{j}" for j in range(40))
        var = base + " tail"
        if side(base) == "train" and side(var) == "eval":
            straddle = (base, var)
            break
    assert straddle is not None
    rows = [(0, straddle[0], "en", "s", 1), (1, straddle[1], "en", "s", 1)]
    # 30 exact-dup pairs (ids 100+i / 200+i share text): structurally safe
    for d in range(30):
        t = " ".join(f"dup{d}w{j}" for j in range(40))
        rows += [(100 + d, t, "en", "s", 1), (200 + d, t, "en", "s", 1)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: df)
    got = ts.q_decontaminate_splits(spark, "x").collect()
    flagged = {(r.doc_id, r.eval_id) for r in got}
    assert (0, 1) in flagged  # the straddling near-dup leak IS caught
    # no exact-dup pair can appear: both copies share every draw input
    assert not [p for p in flagged if p[0] >= 100 and p[1] >= 100]


def test_jaccard_histogram_consistency(spark, monkeypatch):
    """dedup_jaccard_histogram must be exactly the groupBy of the verified
    pairs it rides on: bucket counts re-derivable from
    dedup_minhash_verified rows, every bucket's [j_min, j_max] inside its
    tenth, and a planted exact-dup pair landing in bucket 10."""
    import math

    from ocrd_anybaseocr_spark.operators import dedup as dd
    from ocrd_anybaseocr_spark.queries import QUERIES

    near_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near_b = near_a + " lambda"  # high-jaccard near pair
    docs = spark.createDataFrame(
        [
            (0, near_a, "en", "s", 1),
            (1, near_b, "en", "s", 1),
            (2, "one two three four five six seven eight nine ten", "en", "s", 1),
            (3, "one two three four five six seven eight nine ten", "en", "s", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    session_cache.clear()
    try:
        ve = QUERIES["dedup_minhash_verified"](spark, "hist-twin").collect()
        hist = {r.bucket: r for r in
                QUERIES["dedup_jaccard_histogram"](spark, "hist-twin").collect()}
        assert ve, "fixture must produce verified pairs"
        want: dict[int, list[float]] = {}
        for r in ve:
            want.setdefault(math.floor(r.jaccard * 10), []).append(r.jaccard)
        assert set(hist) == set(want)
        for b, js in want.items():
            assert hist[b].n_pairs == len(js)
            assert hist[b].j_min == min(js) and hist[b].j_max == max(js)
            assert b / 10 <= hist[b].j_min and hist[b].j_max < (b + 1) / 10 + 1e-9
        assert 10 in hist  # the exact-dup pair (jaccard == 1.0)
    finally:
        session_cache.clear()


def test_ann_recall_audit_matches_components(spark, sf_dir):
    """ann_recall_audit must equal the set algebra over its two component
    queries' own outputs (which are independently DuckDB-hash-gated), and
    every query gets a row even at recall 0."""
    from ocrd_anybaseocr_spark.queries import QUERIES

    session_cache.clear()
    truth: dict[int, set[int]] = {}
    for r in QUERIES["ann_brute_force"](spark, sf_dir).collect():
        if r.rank <= 3:
            truth.setdefault(r.query_id, set()).add(r.neighbor_id)
    approx: dict[int, set[int]] = {}
    for r in QUERIES["ann_lsh_bucketed"](spark, sf_dir).collect():
        approx.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {r.query_id: r for r in
           QUERIES["ann_recall_audit"](spark, sf_dir).collect()}
    assert set(got) == set(truth)  # a row per query, even at 0 hits
    for q, t in truth.items():
        hits = len(t & approx.get(q, set()))
        assert got[q].n_true == len(t)
        assert got[q].n_hits == hits
        assert got[q].recall_ppm == hits * 1_000_000 // len(t)


def test_tfidf_topk_planted_keyword(spark, monkeypatch):
    """A term frequent in ONE source and absent elsewhere must top that
    source's tf-idf ranking; a term present in every document (idf = 0)
    must score 0 and lose to any source-specific term."""
    from ocrd_anybaseocr_spark.operators import textstats as ts

    rows = [
        (0, "common zebra zebra zebra common apple", "en", "srcA", 1),
        (1, "common zebra zebra banana common cherry", "en", "srcA", 1),
        (2, "common yak yak yak common apple", "en", "srcB", 1),
        (3, "common yak grape common melon plum", "en", "srcB", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = ts.q_tfidf_topk(spark, "unused").collect()
    top = {r.source: r.term for r in got if r.rk == 1}
    assert top == {"srcA": "zebra", "srcB": "yak"}
    for r in got:
        if r.term == "common":  # df == N -> idf 0 -> score 0
            assert r.score_e12 == 0
        assert r.rk <= ts.TFIDF_TOPK


def test_pack_efficiency_tail_only_waste(spark, sf_dir):
    """pack_efficiency must aggregate the pack plan exactly, and
    concatenate-and-split can only waste the tail of each shard's last
    sequence: capacity - used < PACK_BLOCK, waste_ppm exact."""
    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    plan = QUERIES["pack_sequences"](spark, sf_dir).collect()
    eff = {r.shard: r for r in QUERIES["pack_efficiency"](spark, sf_dir).collect()}
    shards: dict[int, list] = {}
    for r in plan:
        shards.setdefault(r.shard, []).append(r)
    assert set(eff) == set(shards)
    for s, rs in shards.items():
        used = sum(r.n_tokens for r in rs)
        n_seqs = max(r.end_seq for r in rs) + 1
        cap = n_seqs * ts.PACK_BLOCK
        assert eff[s].n_docs == len(rs)
        assert eff[s].n_seqs == n_seqs
        assert eff[s].used_tokens == used
        assert 0 <= cap - used < ts.PACK_BLOCK  # tail-only waste
        assert eff[s].waste_ppm == (cap - used) * 1_000_000 // cap


def test_dedup_paragraph_planted(spark, monkeypatch):
    """Paragraph dedup must keep exactly the (min doc_id, min chunk_no)
    copy of every repeated 8-word chunk — across docs AND within a doc —
    and retained_md5 must pin the exact surviving bytes."""
    import hashlib

    from ocrd_anybaseocr_spark.operators import dedup as dd
    from ocrd_anybaseocr_spark.queries import QUERIES

    w = [f"w{i}" for i in range(8)]  # the shared chunk (8 words)
    uniq = [f"u{i}" for i in range(8)]
    solo = [f"s{i}" for i in range(8)]
    rows = [
        (0, " ".join(w + uniq), "en", "s", 1),       # owns the shared chunk
        (1, " ".join(w), "en", "s", 1),              # pure dup of doc 0 chunk 0
        (2, " ".join(solo + solo), "en", "s", 1),    # within-doc repeat
        (3, " ".join(uniq[:3]), "en", "s", 1),       # partial tail chunk only
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    got = {r.doc_id: r for r in QUERIES["dedup_paragraph"](spark, "para-twin").collect()}

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert (got[0].n_chunks, got[0].kept_chunks, got[0].dropped_chunks) == (2, 2, 0)
    assert got[0].retained_md5 == md5(" ".join(w) + " " + " ".join(uniq))
    # doc 1's only chunk is owned by doc 0 -> nothing survives
    assert (got[1].n_chunks, got[1].kept_chunks, got[1].dropped_chunks) == (1, 0, 1)
    assert got[1].retained_md5 == md5("")
    # within-doc repeat: first copy kept, second dropped
    assert (got[2].n_chunks, got[2].kept_chunks, got[2].dropped_chunks) == (2, 1, 1)
    assert got[2].retained_md5 == md5(" ".join(solo))
    # a 3-word doc is one partial tail chunk, unique -> kept whole; it is
    # NOT claimed by doc 0 (doc 0's chunks are full 8-word windows)
    assert (got[3].n_chunks, got[3].kept_chunks) == (1, 1)
    assert got[3].retained_md5 == md5(" ".join(uniq[:3]))


def test_unigram_entropy_bounds_and_order_invariance(spark, monkeypatch):
    """All-distinct doc reads exactly micro(log2 n) per token; a one-word
    doc reads 0; shuffling word order changes nothing."""
    import math

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    distinct = " ".join(f"d{i}" for i in range(16))
    shuffled = " ".join(f"d{i}" for i in reversed(range(16)))
    rows = [
        (0, distinct, "en", "s", 1),
        (1, "same same same same", "en", "s", 1),
        (2, shuffled, "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {r.doc_id: r for r in QUERIES["unigram_entropy"](spark, "ent-twin").collect()}
    micro_log2_16 = math.floor(math.log2(16.0) * 1_000_000 + 0.5)  # 4e6 exact
    assert got[0].n_tokens == 16 and got[0].distinct_words == 16
    assert got[0].entropy_sum_e6 == 16 * micro_log2_16
    assert got[0].entropy_e6_per_token == micro_log2_16
    assert got[1].entropy_sum_e6 == 0 and got[1].entropy_e6_per_token == 0
    assert got[1].distinct_words == 1
    # word order never matters: per-word counts are identical
    assert (got[2].entropy_sum_e6, got[2].entropy_e6_per_token) == (
        got[0].entropy_sum_e6, got[0].entropy_e6_per_token,
    )


def test_embedding_outliers_planted(spark, monkeypatch):
    """A planted far vector must be its label's rank-1 outlier, with dist2
    exactly reproducing the scaled-int floor-mean centroid recipe."""
    import math

    from ocrd_anybaseocr_spark.operators import similarity as sim
    from ocrd_anybaseocr_spark.queries import QUERIES

    dim = sim.EMB_DIM
    base = [0.1] * dim
    far = [0.9] * dim
    rows = [(i, base, 0) for i in range(4)] + [(9, far, 0)]
    rows += [(20 + i, [0.2] * dim, 1) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: emb)
    got = QUERIES["embedding_outliers"](spark, "outlier-twin").collect()
    by_label = {}
    for r in got:
        by_label.setdefault(r.label, []).append(r)
    # label 0: centroid = floor((4*1000 + 9000)/5 + 0.5) = 2600 per dim
    s = lambda x: math.floor(x * 10000 + 0.5)
    cent = math.floor((4 * s(0.1) + s(0.9)) / 5 + 0.5)
    top0 = sorted(by_label[0], key=lambda r: r.rank)
    assert top0[0].vec_id == 9 and top0[0].rank == 1
    assert top0[0].dist2 == dim * (s(0.9) - cent) ** 2
    assert top0[1].dist2 == dim * (s(0.1) - cent) ** 2
    assert [r.vec_id for r in top0[1:]] == [0, 1, 2, 3]  # tie -> vec_id order
    assert len(by_label[0]) == sim.OUTLIER_TOP_N
    # label 1 has 3 identical vectors: all dist2 0, all emitted (n < N)
    assert [(r.rank, r.vec_id, r.dist2) for r in sorted(by_label[1], key=lambda r: r.rank)] == [
        (1, 20, 0), (2, 21, 0), (3, 22, 0),
    ]


def test_clean_filter_report_matches_verdicts(spark, sf_dir):
    """The per-source report must be EXACTLY the groupBy of the oracled
    corpus_clean_filter verdicts it rides on — no second rule copy."""
    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES
    from ocrd_anybaseocr_spark.sources.tables import load_table

    verd = {r.doc_id: r for r in QUERIES["corpus_clean_filter"](spark, sf_dir).collect()}
    src = {r.doc_id: r.source for r in
           load_table(spark, sf_dir, "documents").select("doc_id", "source").collect()}
    got = {r.source: r for r in QUERIES["clean_filter_report"](spark, sf_dir).collect()}
    want: dict[str, dict] = {}
    for d, r in verd.items():
        w = want.setdefault(src[d], {"n": 0, "ret": 0, **{k: 0 for k in ts._CLEAN_REASONS}})
        w["n"] += 1
        w["ret"] += int(r.retained)
        for reason in (r.reasons.split(",") if r.reasons else []):
            w[reason] += 1
    assert set(got) == set(want)
    for s, w in want.items():
        assert got[s].n_docs == w["n"] and got[s].n_retained == w["ret"]
        assert got[s].retained_ppm == w["ret"] * 1_000_000 // w["n"]
        for reason in ts._CLEAN_REASONS:
            assert getattr(got[s], f"n_{reason}") == w[reason], (s, reason)


def test_zipf_topk_planted_head(spark, monkeypatch):
    """The most frequent word must be rank 1; counts non-increasing, ranks
    contiguous, cumulative coverage exact and monotone, ties broken by
    word order."""
    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    rows = [
        (0, "zz zz zz zz aa aa bb", "en", "s", 1),
        (1, "zz zz aa cc cc", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = sorted(QUERIES["zipf_topk"](spark, "zipf-twin").collect(),
                 key=lambda r: r.rank)
    tot = 12
    assert [r.word for r in got] == ["zz", "aa", "cc", "bb"]  # 6,3,2,1
    assert [r.rank for r in got] == [1, 2, 3, 4]
    cum = 0
    for r, c in zip(got, (6, 3, 2, 1)):
        assert r.c == c
        cum += c
        assert r.freq_ppm == c * 1_000_000 // tot
        assert r.cum_ppm == cum * 1_000_000 // tot
    assert got[-1].cum_ppm == 1_000_000


def test_lsh_recall_curve_consistency(spark, sf_dir):
    """The recall curve must be exactly the bucket algebra over its two
    component relations' own outputs (each independently DuckDB-gated),
    and every caught pair must actually be an LSH candidate."""
    import math

    from ocrd_anybaseocr_spark.queries import QUERIES

    truth = QUERIES["dedup_jaccard_ngram"](spark, sf_dir).collect()
    cand = {(r.doc_a, r.doc_b)
            for r in QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()}
    got = {r.bucket: r for r in QUERIES["lsh_recall_curve"](spark, sf_dir).collect()}
    want: dict[int, list[bool]] = {}
    for r in truth:
        want.setdefault(math.floor(r.jaccard * 10), []).append(
            (r.doc_a, r.doc_b) in cand
        )
    assert set(got) == set(want)
    for b, hits in want.items():
        assert got[b].n_true == len(hits)
        assert got[b].n_caught == sum(hits)
        assert got[b].recall_ppm == sum(hits) * 1_000_000 // len(hits)
    # the S-curve's top: near-identical pairs (j >= 0.9) must be caught
    if 10 in got:
        assert got[10].recall_ppm == 1_000_000


def test_cms_heavy_hitters_python_parity(spark, monkeypatch):
    """The CMS estimate must equal an independent hashlib recomputation of
    the same 4x1024 sketch cell-for-cell, and est >= exact always (the
    count-min overestimate-only guarantee)."""
    import hashlib
    from collections import Counter

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    rows = [
        (0, "hh " * 50 + "aa bb cc", "en", "s", 1),
        (1, "hh hh aa " + " ".join(f"t{i}" for i in range(40)), "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        [(d, t.strip(), l, s, n) for d, t, l, s, n in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = sorted(
        QUERIES["cms_heavy_hitters"](spark, "cms-twin").collect(),
        key=lambda r: r.rank,
    )

    stream = [w for _, t, *_ in rows for w in t.strip().split(" ")]
    exact = Counter(stream)

    def cell(j, w):
        return int(hashlib.md5(f"cms{j}:{w}".encode()).hexdigest()[:8], 16) % ts.CMS_W

    sketch = Counter()
    for w in stream:
        for j in range(ts.CMS_D):
            sketch[(j, cell(j, w))] += 1
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[: ts.CMS_TOPK]
    assert [(r.word, r.c) for r in got] == top
    for r in got:
        est = min(sketch[(j, cell(j, r.word))] for j in range(ts.CMS_D))
        assert r.cms_est == est >= r.c
        assert r.over_ppm == (est - r.c) * 1_000_000 // r.c
    assert got[0].word == "hh" and got[0].rank == 1


def test_distinct_kmv_audit_python_parity(spark, sf_dir, monkeypatch):
    """KMV audit row must equal an independent hashlib recomputation on
    the real corpus (>k branch), and the <k branch must be exact."""
    import hashlib

    import duckdb

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    got = QUERIES["distinct_kmv_audit"](spark, sf_dir).collect()[0]
    texts = [
        r[0]
        for r in duckdb.sql(
            f"SELECT text FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    ]
    stream = [w for t in texts for w in t.split(" ")]
    hs = sorted({int(hashlib.md5(f"kmv:{w}".encode()).hexdigest()[:8], 16)
                 for w in stream})
    assert got.n_words == len(stream)
    assert got.n_distinct == len(hs)
    if len(hs) >= ts.KMV_K:
        hk = hs[ts.KMV_K - 1]
        est = (ts.KMV_K - 1) * (1 << 32) // hk
        assert (got.kmv_k, got.kth_hash, got.kmv_est) == (ts.KMV_K, hk, est)
        # KMV standard error ~ 1/sqrt(k) = 6.25%; 5 sigma sanity bound
        assert abs(got.err_ppm) < 320_000
    assert got.err_ppm == got.kmv_est * 1_000_000 // got.n_distinct - 1_000_000

    # the < k branch is exact by definition
    docs = spark.createDataFrame(
        [(0, "a b c a", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    small = QUERIES["distinct_kmv_audit"](spark, "kmv-twin").collect()[0]
    assert (small.n_words, small.n_distinct, small.kmv_est, small.err_ppm) == (
        4, 3, 3, 0,
    )


def test_embedding_pca_top1_parity_and_planted(spark, sf_dir, monkeypatch):
    """(1) The registered query equals an exact integer recomputation of
    the 3-round power iteration (truncating division both engines);
    (2) on a planted anisotropic corpus the iterate aligns with the
    planted direction (|cos| > 0.95)."""
    import math

    import duckdb
    import numpy as np

    from ocrd_anybaseocr_spark.operators import similarity as sim
    from ocrd_anybaseocr_spark.queries import QUERIES

    def tdiv(a, b):  # truncating integer division (Spark div / DuckDB //)
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    def power_iter(vecs):
        se = [[math.floor(x * 10000 + 0.5) for x in v] for v in vecs]
        d = len(se[0])
        g = [[sum(r[i] * r[j] for r in se) for j in range(d)] for i in range(d)]
        gm = max(abs(g[i][j]) for i in range(d) for j in range(d))
        dd = tdiv(gm, sim.PCA_G_SCALE) + 1
        gn = [[tdiv(g[i][j], dd) for j in range(d)] for i in range(d)]
        v = [sim.PCA_V_SCALE] * d
        for _ in range(sim.PCA_ITERS):
            raw = [sum(gn[i][j] * v[i] for i in range(d)) for j in range(d)]
            m = max(max(abs(r) for r in raw), 1)
            v = [tdiv(r * sim.PCA_V_SCALE, m) for r in raw]
        return v

    vecs = [
        r[0]
        for r in duckdb.sql(
            f"SELECT embedding FROM read_parquet('{sf_dir}/embeddings.parquet')"
            " ORDER BY vec_id"
        ).fetchall()
    ]
    want = power_iter(vecs)
    got = {r.dim: r.component_e6 for r in
           QUERIES["embedding_pca_top1"](spark, sf_dir).collect()}
    assert [got[i] for i in range(len(want))] == want

    # planted: vectors = t*u + small noise -> the iterate must align with u
    rng = np.random.RandomState(7)
    u = rng.standard_normal(sim.EMB_DIM)
    u /= np.linalg.norm(u)
    pts = np.outer(rng.standard_normal(300), u) + 0.05 * rng.standard_normal(
        (300, sim.EMB_DIM)
    )
    planted = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], 0) for i in range(300)],
        "vec_id long, embedding array<float>, label int",
    )
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: planted)
    session_cache.clear()
    try:
        got_v = {r.dim: r.component_e6 for r in
                 QUERIES["embedding_pca_top1"](spark, "pca-twin").collect()}
        v = np.array([got_v[i] for i in range(sim.EMB_DIM)], dtype=float)
        cos = abs(v @ u) / (np.linalg.norm(v) * np.linalg.norm(u))
        assert cos > 0.95, cos
    finally:
        session_cache.clear()


def test_histogram_quantile_audit_python_parity(spark, sf_dir):
    """Audit rows must equal a pure-python recomputation: exact = the
    ceil(p*n/100)-th order statistic; est = the bin-interpolated value;
    and the estimate must sit within one bin width of the truth (the
    equi-width histogram's error contract)."""
    import duckdb

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    vals = sorted(
        r[0]
        for r in duckdb.sql(
            f"SELECT n_chars FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    n = len(vals)
    mn, mx = vals[0], vals[-1]
    w = (mx - mn) // ts.HIST_BINS + 1
    from collections import Counter

    hist = Counter((v - mn) // w for v in vals)
    got = {r.pct: r for r in
           QUERIES["histogram_quantile_audit"](spark, sf_dir).collect()}
    assert set(got) == set(ts.HIST_PCTS)
    for p in ts.HIST_PCTS:
        t = (p * n + 99) // 100
        exact = vals[t - 1]
        cum0 = 0
        for b in sorted(hist):
            if cum0 + hist[b] >= t:
                est = mn + b * w + ((t - cum0 - 1) * w) // hist[b]
                break
            cum0 += hist[b]
        assert (got[p].hist_est, got[p].exact) == (est, exact), p
        assert abs(est - exact) <= w
        assert got[p].err_ppm == est * 1_000_000 // max(exact, 1) - 1_000_000


def test_decontaminate_embeddings_split_and_planted(spark, sf_dir, monkeypatch):
    """(1) On the real corpus the result is exactly the cross-split
    subset of the (independently gated) verified pair relation, with the
    hashlib-recomputed split; (2) a planted eval near-dup of a train
    vector is caught."""
    import hashlib

    import numpy as np

    from ocrd_anybaseocr_spark.operators import similarity as sim
    from ocrd_anybaseocr_spark.queries import QUERIES

    def split(vid):
        d = int(hashlib.md5(f"esplit:{vid}".encode()).hexdigest()[:8], 16)
        return "eval" if d % 10000 < sim.EMB_EVAL_BP else "train"

    pairs = QUERIES["dedup_embedding_cosine"](spark, sf_dir).collect()
    want = set()
    for r in pairs:
        sa, sb = split(r.vec_a), split(r.vec_b)
        if sa != sb:
            ev, tr = (r.vec_a, r.vec_b) if sa == "eval" else (r.vec_b, r.vec_a)
            want.add((ev, tr, r.dot_e8))
    got = {(r.eval_vec, r.train_vec, r.dot_e8) for r in
           QUERIES["decontaminate_embeddings"](spark, sf_dir).collect()}
    assert got == want

    # planted: find an (eval, train) id pair under the hash split, give
    # them near-identical vectors among unit-norm noise
    ids = list(range(400))
    ev = next(i for i in ids if split(i) == "eval")
    tr = next(i for i in ids if split(i) == "train")
    rng = np.random.RandomState(3)
    base = rng.standard_normal(sim.EMB_DIM)
    base /= np.linalg.norm(base)
    rows = []
    for i in ids:
        if i == ev or i == tr:
            v = base + 0.001 * rng.standard_normal(sim.EMB_DIM)
        else:
            v = rng.standard_normal(sim.EMB_DIM)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], 0))
    planted = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(sim, "load_table", lambda s, d, n: planted)
    session_cache.clear()
    try:
        got_p = {(r.eval_vec, r.train_vec) for r in
                 QUERIES["decontaminate_embeddings"](spark, "decon-twin").collect()}
        assert (ev, tr) in got_p or (tr, ev) in {(b, a) for a, b in got_p}
        assert (ev, tr) in got_p  # eval side must be labeled eval
    finally:
        session_cache.clear()


def test_dedup_source_matrix_consistency(spark, sf_dir):
    """Matrix cells must be exactly the unordered-source-pair counts of
    the (independently gated) verified pair relation."""
    from collections import Counter

    import duckdb

    from ocrd_anybaseocr_spark.queries import QUERIES

    src = dict(
        duckdb.sql(
            f"SELECT doc_id, source FROM read_parquet('{sf_dir}/documents.parquet')"
        ).fetchall()
    )
    pairs = QUERIES["dedup_minhash_verified"](spark, sf_dir).collect()
    want = Counter(
        tuple(sorted((src[r.doc_a], src[r.doc_b]))) for r in pairs
    )
    got = {(r.source_lo, r.source_hi): r.n_pairs for r in
           QUERIES["dedup_source_matrix"](spark, sf_dir).collect()}
    assert got == dict(want) and sum(got.values()) == len(pairs)


def test_lm_bigram_cross_entropy_planted(spark, monkeypatch):
    """(1) Exact python recomputation parity (micro-bit half-up) on a
    planted corpus; (2) ORDER sensitivity: a doc in the corpus's
    dominant token order scores lower bigram CE than a scrambled doc
    with the IDENTICAL unigram distribution."""
    import math
    from collections import Counter

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    ordered = "x y " * 20  # dominant order: x->y, y->x
    rows = [
        (0, ordered.strip(), "en", "s", 1),
        (1, ordered.strip(), "en", "s", 1),
        (2, ("x x y y " * 10).strip(), "en", "s", 1),  # same unigrams, scrambled
        (3, "lone", "en", "s", 1),  # 1 token: no transitions, must vanish
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {r.doc_id: r for r in
           QUERIES["lm_bigram_cross_entropy"](spark, "bice-twin").collect()}
    assert set(got) == {0, 1, 2}

    texts = {d: t for d, t, *_ in rows}
    bg = Counter()
    for t in texts.values():
        w = t.split(" ")
        bg.update(zip(w, w[1:]))
    cp = Counter()
    for (p, _), c in bg.items():
        cp[p] += c
    v = len({w for t in texts.values() for w in t.split(" ")})
    for d in (0, 1, 2):
        w = texts[d].split(" ")
        h = sum(
            math.floor(-math.log2((bg[(p, c)] + 1) / (cp[p] + v)) * 1_000_000 + 0.5)
            for p, c in zip(w, w[1:])
        )
        assert (got[d].n_bigrams, got[d].h_sum_e6) == (len(w) - 1, h), d
    assert got[0].ce_bits < got[2].ce_bits  # order separates, unigrams equal


def test_dedup_containment_subset_blindspot(spark, monkeypatch):
    """The operator's reason to exist: a short doc quoted WHOLESALE
    inside a much longer one must score containment ~1e6 while its
    symmetric Jaccard stays far below the near-dup threshold; unrelated
    docs must not pair."""
    import numpy as np

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    rng = np.random.RandomState(11)

    def words(n, tag):
        return " ".join(f"{tag}{rng.randint(0, 10**9)}" for _ in range(n))

    quote = words(30, "q")           # the short doc, verbatim
    long_doc = words(300, "l") + " " + quote + " " + words(300, "m")
    rows = [
        (0, quote, "en", "s", 1),
        (1, long_doc, "en", "s", 1),
        (2, words(100, "z"), "en", "s", 1),   # unrelated
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {(r.inner_doc, r.outer_doc): r for r in
           QUERIES["dedup_containment"](spark, "contain-twin").collect()}
    assert set(got) == {(0, 1)}
    assert got[(0, 1)].containment_ppm >= 900_000
    # and the symmetric Jaccard of the same pair is tiny (the blind spot)
    a = set(quote.split())
    b = set(long_doc.split())
    assert len(a & b) / len(a | b) < 0.1


def test_token_budget_select_python_parity(spark, sf_dir):
    """Selection must equal the greedy (score desc, doc_id asc) fill
    computed independently in python; total within budget; adding the
    next unselected doc would overflow (maximality)."""
    import re

    import duckdb

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    pat = re.compile(" (" + "|".join(ts._MARKERS["en"]) + ") ")
    scored = []
    for did, text in rows:
        nt = len(text.split(" "))
        hits = len(pat.findall(" " + text + " "))
        scored.append((min(nt, 100) * 5000 + hits * 500000 // nt, did, nt))
    scored.sort(key=lambda x: (-x[0], x[1]))
    cum, want = 0, {}
    for sc, did, nt in scored:
        cum += nt
        if cum <= ts.TOKEN_BUDGET:
            want[did] = (sc, nt, cum)
    got = {r.doc_id: (r.score_e6, r.n_tokens, r.cum_tokens) for r in
           QUERIES["token_budget_select"](spark, sf_dir).collect()}
    assert got == want
    assert max(c for _, _, c in got.values()) <= ts.TOKEN_BUDGET


def test_novelty_score_planted(spark, monkeypatch):
    """Exact duplicates have novelty 0 (every shingle shared); a doc of
    globally unique words has novelty 1e6; a half-and-half doc lands at
    the exact shingle arithmetic; < 3-word docs are absent."""
    from ocrd_anybaseocr_spark.operators import dedup as dd
    from ocrd_anybaseocr_spark.queries import QUERIES

    dup = "alpha beta gamma delta epsilon"
    rows = [
        (0, dup, "en", "s", 1),
        (1, dup, "en", "s", 1),                   # exact dup of 0
        (2, "u1 u2 u3 u4 u5 u6", "en", "s", 1),   # all-unique shingles
        (3, dup + " zeta eta theta", "en", "s", 1),  # shares 0/1's prefix
        (4, "xy zz", "en", "s", 1),               # < 3 words: no shingles
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    got = {r.doc_id: r for r in
           QUERIES["novelty_score"](spark, "novelty-twin").collect()}
    assert set(got) == {0, 1, 2, 3}
    assert got[0].novelty_ppm == got[1].novelty_ppm == 0
    assert got[2].novelty_ppm == 1_000_000
    # doc 3: shingles = 6 total; the first 3 ("alpha beta gamma".."gamma
    # delta epsilon") are shared with docs 0/1, the last 3 are unique
    assert (got[3].n_shingles, got[3].n_unique) == (6, 3)
    assert got[3].novelty_ppm == 500_000


def test_collocations_pmi_planted(spark, monkeypatch):
    """A pair that ALWAYS co-occurs must outrank a frequent pair whose
    parts also appear apart; micro-bit PMI matches the python
    recomputation; the min-count floor drops rare pairs."""
    import math
    from collections import Counter

    from ocrd_anybaseocr_spark.operators import textstats as ts
    from ocrd_anybaseocr_spark.queries import QUERIES

    # "hong kong" always adjacent (5x); "the cat" frequent but "the"/"cat"
    # appear in many other contexts; "rare pair" appears once (floored out)
    text = ("hong kong , " * 5 + "the cat , the dog , the fish , cat alone , "
            + "rare pair").strip()
    docs = spark.createDataFrame(
        [(0, text, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    monkeypatch.setattr(ts, "load_table", lambda s, d, n: docs)
    got = {(r.prev, r.cur): r for r in
           QUERIES["collocations_pmi"](spark, "pmi-twin").collect()}
    assert ("rare", "pair") not in got  # min-count floor
    assert ("hong", "kong") in got

    w = text.split(" ")
    bg = Counter(zip(w, w[1:]))
    cx, cy = Counter(), Counter()
    for (p, c), n in bg.items():
        cx[p] += n
        cy[c] += n
    N = sum(bg.values())
    for (p, c), r in got.items():
        want = math.floor(
            math.log2(bg[(p, c)] * N / (cx[p] * cy[c])) * 1_000_000 + 0.5
        )
        assert (r.c_xy, r.pmi_e6) == (bg[(p, c)], want)
    if ("the", "cat") in got:
        assert got[("hong", "kong")].pmi_e6 > got[("the", "cat")].pmi_e6


def test_graph_clustering_coeff_planted(spark, monkeypatch):
    """Triangle (clique) nodes read 1e6; a chain's middle node reads 0;
    exact coefficients on a planted graph via the raw pair relation."""
    from ocrd_anybaseocr_spark.operators import dedup as dd
    from ocrd_anybaseocr_spark.queries import QUERIES

    # graph: triangle 1-2-3; chain 10-11-12 (open wedge at 11)
    pairs = {(1, 2), (1, 3), (2, 3), (10, 11), (11, 12)}

    docs_text = {}
    # build texts whose verified near-dup pairs are EXACTLY `pairs`:
    # easier to monkeypatch the cached pair relation directly
    ve = spark.createDataFrame(
        [(a, b, 1, 1.0) for a, b in sorted(pairs)],
        "doc_a long, doc_b long, inter long, jaccard double",
    )
    monkeypatch.setattr(dd, "_verified_cached", lambda s, d: ve)
    got = {r.doc_id: r for r in
           QUERIES["graph_clustering_coeff"](spark, "cc-twin").collect()}
    assert set(got) == {1, 2, 3, 11}  # degree-1 chain ends excluded
    for v in (1, 2, 3):
        assert (got[v].degree, got[v].n_triangles, got[v].clustering_ppm) == (
            2, 1, 1_000_000,
        )
    assert (got[11].degree, got[11].n_triangles, got[11].clustering_ppm) == (
        2, 0, 0,
    )


def test_source_dup_report_consistency(spark, sf_dir):
    """Report cells must equal a python recomputation from the raw table
    (exact tier: corpus-wide content-hash df>1) and the gated verified
    pair relation (near tier)."""
    from collections import Counter, defaultdict

    import duckdb

    from ocrd_anybaseocr_spark.queries import QUERIES

    rows = duckdb.sql(
        f"SELECT doc_id, source, md5(text) FROM"
        f" read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()
    hc = Counter(h for _, _, h in rows)
    near = set()
    for r in QUERIES["dedup_minhash_verified"](spark, sf_dir).collect():
        near.add(r.doc_a)
        near.add(r.doc_b)
    want = defaultdict(lambda: [0, 0, 0])
    for did, src, h in rows:
        w = want[src]
        w[0] += 1
        w[1] += hc[h] > 1
        w[2] += did in near
    got = {r.source: r for r in
           QUERIES["source_dup_report"](spark, sf_dir).collect()}
    assert set(got) == set(want)
    for src, (n, e, nr) in want.items():
        r = got[src]
        assert (r.n_docs, r.n_exact_dup, r.n_near_dup) == (n, e, nr), src
        assert r.exact_dup_ppm == e * 1_000_000 // n
        assert r.near_dup_ppm == nr * 1_000_000 // n
