"""End-to-end pipeline tests: Spark output == single-process oracle, with the
strict span-sequence equality contract (kind, text, media_ref, order) and
the resume-from-checkpoint invariant (no duplicate doc_id)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from ocrd_anybaseocr_spark.operators.extract import extract_spans
from ocrd_anybaseocr_spark.operators.pipeline import run_pipeline
from ocrd_anybaseocr_spark.oracle import process_document
from ocrd_anybaseocr_spark.sources.tables import SESSION_SQL_CONF, load_corpus, load_table


@pytest.fixture(scope="module")
def oracle_results(corpus_dir):
    docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet")).to_pylist()
    blobs = pq.read_table(os.path.join(corpus_dir, "page_blobs.parquet")).to_pylist()
    bmap = {b["media_ref"]: b["image"] for b in blobs}
    out = {}
    for d in docs:
        ext, prs, struct = process_document(d, bmap)
        out[d["doc_id"]] = (ext, prs, struct)
    return out


@pytest.fixture(scope="module")
def pipeline_run(spark, corpus_dir, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("out"))
    summary = run_pipeline(spark, corpus_dir, out_dir, n_parts=8)
    assert summary["docs"] > 0
    return out_dir, summary


@pytest.fixture(scope="module")
def pipeline_out(pipeline_run):
    return pipeline_run[0]


def _spans_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


def test_extract_spans_strict_equality(spark, corpus_dir, oracle_results):
    docs, _ = load_corpus(spark, corpus_dir)
    got = {r["doc_id"]: r["spans"] for r in extract_spans(docs).toPandas().to_dict("records")}
    assert len(got) == len(oracle_results)
    for doc_id, (ext, _, _) in oracle_results.items():
        want = _spans_tuples(ext["spans"])
        have = [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in got[doc_id]]
        assert have == want, f"span mismatch for {doc_id}"


def test_page_results_match_oracle(spark, pipeline_out, oracle_results):
    pr = spark.read.parquet(os.path.join(pipeline_out, "page_results")).toPandas()
    want_pages = {
        (r["doc_id"], r["media_ref"]): r for _, prs, _ in oracle_results.values() for r in prs
    }
    assert len(pr) == len(want_pages)
    for _, row in pr.iterrows():
        w = want_pages[(row["doc_id"], row["media_ref"])]
        assert list(row["border"]) == w["border"]
        assert row["perfect"] == w["perfect"]
        assert row["skew"] == pytest.approx(w["skew"])
        assert row["features"] == w["features"]
        assert list(row["labels"]) == w["labels"]
        assert row["page_no"] == w["page_no"]


def test_doc_structure_matches_oracle(spark, pipeline_out, oracle_results):
    st = spark.read.parquet(os.path.join(pipeline_out, "doc_structure")).toPandas()
    assert len(st) == len(oracle_results)
    for _, row in st.iterrows():
        _, _, want = oracle_results[row["doc_id"]]
        got_divs = [(d["log_id"], d["label"], d["parent_id"]) for d in row["divs"]]
        want_divs = [(d["log_id"], d["label"], d["parent_id"]) for d in want["divs"]]
        assert got_divs == want_divs, row["doc_id"]
        got_links = [(l["log_id"], l["media_ref"]) for l in row["links"]]
        want_links = [(l["log_id"], l["media_ref"]) for l in want["links"]]
        assert got_links == want_links, row["doc_id"]


def test_checkpoints_reconcile(spark, pipeline_run):
    pipeline_out, summary = pipeline_run
    ck = spark.read.parquet(os.path.join(pipeline_out, "checkpoints")).toPandas()
    pr = spark.read.parquet(os.path.join(pipeline_out, "page_results"))
    assert ck["row_count"].sum() == pr.count()
    assert (ck["latency_ms"] >= 0).all()
    assert ck["partition_id"].is_unique
    # the summary rides the checkpoint append, so it equals the table's sums
    assert summary["docs"] == ck["doc_count"].sum()
    assert summary["pages"] == ck["row_count"].sum()
    assert summary["kernel_ms"] == ck["latency_ms"].sum()


def test_resume_skips_completed_and_no_duplicates(spark, corpus_dir, pipeline_out):
    # second run over the same output dir: everything checkpointed → no work.
    # 24 docs in 16 buckets leave some buckets empty, so this runs the
    # all-empty resume plan (the page_results Observation's fallback)
    ck_dir = os.path.join(pipeline_out, "checkpoints")
    n_ck = spark.read.parquet(ck_dir).count()
    summary = run_pipeline(spark, corpus_dir, pipeline_out, n_parts=8)
    assert summary["docs"] == 0
    assert summary["pages"] == 0
    assert spark.read.parquet(ck_dir).count() == n_ck
    ext = spark.read.parquet(os.path.join(pipeline_out, "extracted_spans"))
    assert ext.count() == ext.select("doc_id").distinct().count()


def test_unreadable_checkpoints_fail_the_run(spark, corpus_dir, pipeline_out, tmp_path):
    """A checkpoint table that exists but cannot be read must fail the
    resume, not be read as "nothing done": that would re-run the whole
    corpus and append to the broken table on every later run."""
    import glob
    import shutil

    out_dir = str(tmp_path / "out")
    shutil.copytree(pipeline_out, out_dir)
    for f in glob.glob(os.path.join(out_dir, "checkpoints", "*.parquet")):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    for f in glob.glob(os.path.join(out_dir, "checkpoints", ".*.crc")):
        os.remove(f)

    def listing():
        return sorted(
            (os.path.relpath(p, out_dir), os.path.getsize(p))
            for p in glob.glob(os.path.join(out_dir, "**"), recursive=True)
        )

    before = listing()
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run_pipeline(spark, corpus_dir, out_dir, n_parts=8)
    assert listing() == before


def test_bucket_count_invariance(spark, corpus_dir, pipeline_out, tmp_path_factory,
                                 monkeypatch):
    """The bucket count is commit granularity only: running at a different
    bucket count yields identical data (modulo the part_bucket partition
    column)."""
    from ocrd_anybaseocr_spark.operators import pipeline

    out4 = str(tmp_path_factory.mktemp("buckets4"))
    monkeypatch.setattr(pipeline, "derive_buckets", lambda n_docs: 4)
    run_pipeline(spark, corpus_dir, out4, n_parts=8, resume=False)
    keys = {
        "extracted_spans": ["doc_id"],
        "page_results": ["doc_id", "media_ref"],
        "doc_structure": ["doc_id"],
    }
    for table, key in keys.items():
        def rows(root):
            # part_bucket depends on n_buckets by design; proc_ms is wall time
            df = spark.read.parquet(os.path.join(root, table)).drop("part_bucket", "proc_ms")
            return df.select(*sorted(df.columns)).orderBy(*key).collect()

        assert rows(pipeline_out) == rows(out4), table


def _repartition_sizes(df) -> list[int]:
    """Partition counts of the plan's repartition-by-number exchanges."""
    import re

    from ocrd_anybaseocr_spark.plans import explain_str

    return [int(n) for n in re.findall(
        r"hashpartitioning\([^)]*, (\d+)\), REPARTITION_BY_NUM", explain_str(df))]


def test_image_stage_sized_to_task_slots(spark, corpus_dir):
    """The Exchange feeding the image stage's MapInArrow has one partition
    per task slot (4 on the fixture session), not n_parts; a smaller
    n_parts still caps it."""
    from ocrd_anybaseocr_spark.operators.pipeline import build_page_results

    docs, blobs = load_corpus(spark, corpus_dir)
    assert _repartition_sizes(build_page_results(docs, blobs, n_parts=32)) == [4]
    assert _repartition_sizes(build_page_results(docs, blobs, n_parts=2)) == [2]


def test_one_file_per_bucket(pipeline_out):
    """More buckets than write tasks (16 derived buckets for the fixture
    corpus, 4 task slots), yet each bucket directory of every bucketed
    output holds exactly one data file: the write repartition keeps each
    bucket in one task."""
    for table in ("page_results", "doc_structure", "extracted_spans"):
        root = os.path.join(pipeline_out, table)
        buckets = [d for d in os.listdir(root) if d.startswith("part_bucket=")]
        assert len(buckets) > 4, (table, buckets)
        for b in buckets:
            files = [f for f in os.listdir(os.path.join(root, b))
                     if not f.startswith((".", "_"))]
            assert len(files) == 1, (table, b, files)


def test_committed_page_results_schema_matches_inferred(spark, pipeline_out):
    """run_pipeline reads its committed page_results with a declared schema
    (no footer-inference job); it must be the schema inference finds."""
    from ocrd_anybaseocr_spark.operators.pipeline import _COMMITTED_PR_SCHEMA

    inferred = spark.read.parquet(os.path.join(pipeline_out, "page_results")).schema
    assert [(f.name, f.dataType) for f in inferred] == [
        (f.name, f.dataType) for f in _COMMITTED_PR_SCHEMA
    ]


def test_pipeline_import_leaves_page_results_schema():
    """Importing operators.pipeline must not append its stage columns to
    the shared schema.PAGE_RESULTS (StructType.add mutates in place)."""
    import subprocess
    import sys

    code = (
        "from ocrd_anybaseocr_spark import schema as S; n = len(S.PAGE_RESULTS.fields); "
        "import ocrd_anybaseocr_spark.operators.pipeline as P; "
        "print(n, len(S.PAGE_RESULTS.fields), len(P._STAGE_SCHEMA.fields))"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True,
                          text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["12", "12", "14"]


def test_task_slots_read_from_session_conf(spark):
    """spark_session pins spark.default.parallelism to its cores; a session
    without the conf (a cluster submit) keeps the caller's cap."""
    from types import SimpleNamespace

    from ocrd_anybaseocr_spark.sources.tables import task_slots

    assert spark.conf.get("spark.default.parallelism") == "4"
    assert task_slots(spark, 32) == 4
    assert task_slots(spark, 2) == 2
    unset = SimpleNamespace(conf=SimpleNamespace(get=lambda key, default=None: default))
    assert task_slots(unset, 32) == 32


_JOB_SESSION = r"""
import json, runpy, sys
repo = sys.argv[1]
sys.path.insert(0, repo)
import ocrd_anybaseocr_spark.operators.pipeline as pipeline

# the job prints run_pipeline's return value: report its session's conf
pipeline.run_pipeline = lambda spark, *a, **k: dict(spark.sparkContext.getConf().getAll())
sys.argv = ["extract_job.py", "--input", "unused", "--output", "unused"]
runpy.run_path(repo + "/jobs/extract_job.py", run_name="__main__")
"""


def test_extract_job_session_shares_sql_conf(spark):
    """jobs/extract_job.py builds its own session (spark-submit supplies
    master, memory and shuffle partitions). Its SQL confs are the ones
    spark_session sets, not a drifted copy. Runs in its own process: a
    second getOrCreate here would return the fixture session."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _JOB_SESSION, repo],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    job = json.loads(proc.stdout.strip().splitlines()[-1])
    local = dict(spark.sparkContext.getConf().getAll())
    assert {k: local.get(k) for k in SESSION_SQL_CONF} == SESSION_SQL_CONF
    assert {k: job.get(k) for k in SESSION_SQL_CONF} == SESSION_SQL_CONF
    for cluster_owned in ("spark.sql.shuffle.partitions", "spark.default.parallelism",
                          "spark.driver.memory"):
        assert cluster_owned not in job


def _builder_chains(path: str) -> list[list]:
    """Each ``SparkSession.builder....getOrCreate()`` chain in a source
    file, as its list of method Call nodes (outermost first)."""
    import ast

    chains = []
    for node in ast.walk(ast.parse(open(path).read())):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "getOrCreate"):
            chain, call = [], node
            while isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute):
                chain.append(call)
                call = call.func.value
            chains.append(chain)
    return chains


@pytest.mark.parametrize("job", ["clean", "curate", "extract", "index", "ingest"])
def test_job_sessions_apply_session_sql_conf(job):
    """Every spark-submit job that runs the package's queries or pipeline
    builds its session with ``.config(map=SESSION_SQL_CONF)`` and hand-sets
    none of those keys (nor a master), so no job drifts from the confs
    spark_session sets. Read from the source: no JVM per job."""
    import ast

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    chains = _builder_chains(os.path.join(repo, "jobs", f"{job}_job.py"))
    assert len(chains) == 1, chains
    assert "master" not in {c.func.attr for c in chains[0]}
    config = [c for c in chains[0] if c.func.attr == "config"]
    mapped = [c for c in config
              if [k.arg for k in c.keywords] == ["map"]
              and ast.unparse(c.keywords[0].value) == "SESSION_SQL_CONF"]
    assert len(mapped) == 1, [ast.unparse(c) for c in config]
    hand_set = [ast.literal_eval(c.args[0]) for c in config if c.args]
    assert not set(hand_set) & set(SESSION_SQL_CONF), hand_set


def test_round_like_spark_matches_f_round(spark):
    """oracle.round_like_spark must be bit-identical to F.round(double, 6):
    the materialized expected-parquet oracle stores pre-rounded skew, so any
    divergence (banker's vs HALF_UP, binary vs decimal ties) would flip the
    driver's hash gate exactly on tie values."""
    from pyspark.sql import functions as F

    from ocrd_anybaseocr_spark.oracle import round_like_spark
    from ocrd_anybaseocr_spark.synth import skew_grid

    vals = [float(v) for v in skew_grid()] + [
        0.0, -0.0, 0.0000005, -0.0000005, 1.2345675, -1.2345675,
        0.12345645, 2.5e-7, -1e-9, -4.9e-7, 1.9999995, 0.1 + 0.2,
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(F.round("x", 6)).collect()]
    want = [round_like_spark(v, 6) for v in vals]
    # repr-compare: float == treats -0.0 == 0.0 as equal, but the driver's
    # canon formats them differently — sign of zero must match too
    assert [repr(g) for g in got] == [repr(w) for w in want]


def test_expected_parquet_matches_spark_queries(spark):
    """The SYNTH_VERSION-keyed expected parquet (oracle.materialize_expected)
    must equal the two pipeline-backed queries' Spark output value-for-value
    — this is the in-repo twin of the driver's rows+schema+hash gate."""
    import pyarrow.parquet as pq_

    from ocrd_anybaseocr_spark.queries import (
        _pipeline_corpus,
        q_pipeline_doc_structure,
        q_pipeline_page_results,
    )

    qc = _pipeline_corpus()
    for qfn, fname in (
        (q_pipeline_page_results, "expected_page_results.parquet"),
        (q_pipeline_doc_structure, "expected_doc_structure.parquet"),
    ):
        got = qfn(spark, qc).toPandas()
        want = pq_.read_table(os.path.join(qc, fname)).to_pandas()
        cols = sorted(got.columns)
        assert cols == sorted(want.columns), fname
        g = sorted(map(tuple, got[cols].itertuples(index=False)))
        w = sorted(map(tuple, want[cols].itertuples(index=False)))
        assert len(g) > 0 and g == w, fname


def test_catalog_non_capability_error_surfaces(spark, monkeypatch):
    """VERDICT r4 item 6: an AnalysisException that is NOT the v1-capability
    error must surface from BOTH _CatalogIO write paths — even when its
    message happens to mention 'v1 table' (e.g. inside a table name), which
    the old bare-substring fallback would have swallowed into the
    positional insertInto path."""
    import pytest
    from pyspark.errors import AnalysisException

    from ocrd_anybaseocr_spark.operators.pipeline import _CatalogIO

    import uuid

    tname = f"t_{uuid.uuid4().hex[:8]}"  # stale warehouse dirs break re-create
    io = _CatalogIO(spark, "vtest_noncap")
    df = spark.range(3).selectExpr("id", "cast(id % 2 as int) as part_bucket")
    # pre-create so both paths take the try/except branch
    df.writeTo(f"vtest_noncap.{tname}").using("parquet").partitionedBy(
        df.part_bucket
    ).create()

    boom = AnalysisException("Column missing in table my_v1 table_x: nope")

    class _Raises:
        def __getattr__(self, name):
            def _f(*a, **k):
                if name in ("overwritePartitions", "append"):
                    raise boom
                return self
            return _f

    monkeypatch.setattr(type(df), "writeTo", lambda self, tbl: _Raises())
    with pytest.raises(AnalysisException, match="Column missing"):
        io.overwrite_partitioned(df, tname)
    with pytest.raises(AnalysisException, match="Column missing"):
        io.append(df, tname)
    # a class-less exception qualifies on the exact capability message
    # prefix; one that carries an error class qualifies only as
    # _LEGACY_ERROR_TEMP_1012, whatever its message says
    cap_msg = AnalysisException("Cannot write into v1 table: `x`.`y`.")
    assert _CatalogIO._is_v1_capability_error(cap_msg)
    assert not _CatalogIO._is_v1_capability_error(boom)

    def classed(cls):
        e = AnalysisException("Cannot write into v1 table: `x`.`y`.")
        e.getCondition = lambda: cls
        return e

    assert not _CatalogIO._is_v1_capability_error(classed("UNSUPPORTED_FEATURE.TABLE_OPERATION"))
    assert _CatalogIO._is_v1_capability_error(classed("_LEGACY_ERROR_TEMP_1012"))


def test_catalog_writer_resume(spark, corpus_dir, pipeline_out, tmp_path_factory):
    """S1/S4 catalog write path: run_pipeline(catalog=...) writes all four
    tables via the v2 writeTo API (the built-in session catalog stands in
    for Iceberg — its v1 tables exercise create() plus the documented
    insertInto fallback) and passes the SAME resume contract as the
    parquet-path writer: full rerun is a no-op, a half-truncated
    checkpoint table resumes to full output with no duplicate doc_id."""
    import ocrd_anybaseocr_spark.schema as S

    db = "graft_cat_test"
    loc = str(tmp_path_factory.mktemp("warehouse"))
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        out_dir = str(tmp_path_factory.mktemp("unused"))
        s1 = run_pipeline(spark, corpus_dir, out_dir, n_parts=8, catalog=db)
        assert s1["docs"] > 0
        ext_tbl = f"{db}.extracted_spans"
        full = spark.read.table(ext_tbl).count()
        assert full > 0

        # fully checkpointed -> rerun does no work
        s2 = run_pipeline(spark, corpus_dir, out_dir, n_parts=8, catalog=db)
        assert s2["docs"] == 0

        # mid-corpus failure: keep half the checkpoint rows, rerun
        ck = spark.read.table(f"{db}.checkpoints").toPandas()
        keep = ck.iloc[: len(ck) // 2]
        spark.sql(f"DROP TABLE {db}.checkpoints")
        (spark.createDataFrame(keep, S.CHECKPOINT)
            .writeTo(f"{db}.checkpoints").using("parquet").create())
        s3 = run_pipeline(spark, corpus_dir, out_dir, n_parts=8, catalog=db)
        assert s3["docs"] > 0
        ext = spark.read.table(ext_tbl)
        assert ext.count() == full
        assert ext.select("doc_id").distinct().count() == full
        # catalog output equals the parquet-path output row for row
        def rows(df):
            d = df.drop("part_bucket")
            return d.select(*sorted(d.columns)).orderBy("doc_id").collect()

        want = spark.read.parquet(os.path.join(pipeline_out, "extracted_spans"))
        assert rows(ext) == rows(want)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_catalog_fallback_insert_aligns_columns(spark, tmp_path_factory):
    """The v1 insertInto fallback is POSITIONAL: a caller handing the
    writer a column-reordered frame must still land values under the
    right columns (the writer realigns to the table schema), and a
    non-capability AnalysisException must NOT trigger the fallback
    (ADVICE r3 item 2)."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from ocrd_anybaseocr_spark.operators.pipeline import _CatalogIO

    db = "graft_align_test"
    loc = str(tmp_path_factory.mktemp("warehouse_align"))
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    try:
        io = _CatalogIO(spark, db)
        df = spark.createDataFrame([(1, "a", 0)], "id int, name string, part_bucket int")
        io.overwrite_partitioned(df, "t_align")
        scrambled = spark.createDataFrame(
            [("b", 1, 2)], "name string, part_bucket int, id int"
        )
        io.append(scrambled, "t_align")
        rows = {(r.id, r.name, r.part_bucket) for r in spark.table(f"{db}.t_align").collect()}
        assert rows == {(1, "a", 0), (2, "b", 1)}
        # unrelated analysis error (missing column) surfaces, no silent insert
        with _pytest.raises(AnalysisException):
            io.append(spark.createDataFrame([(9,)], "id int"), "t_align")
        assert spark.table(f"{db}.t_align").count() == 2
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_partial_checkpoint_resume(spark, corpus_dir, tmp_path_factory):
    # simulate a mid-corpus failure: keep only some checkpoint rows, rerun,
    # assert full output with no duplicate doc_id (FIXTURES.md §3.4)
    import shutil

    out_dir = str(tmp_path_factory.mktemp("resume"))
    run_pipeline(spark, corpus_dir, out_dir, n_parts=8)
    full = spark.read.parquet(os.path.join(out_dir, "extracted_spans")).count()

    ck_dir = os.path.join(out_dir, "checkpoints")
    ck = spark.read.parquet(ck_dir).toPandas()
    keep = ck.iloc[: len(ck) // 2]
    shutil.rmtree(ck_dir)
    import ocrd_anybaseocr_spark.schema as S

    spark.createDataFrame(keep, S.CHECKPOINT).write.parquet(ck_dir)

    summary = run_pipeline(spark, corpus_dir, out_dir, n_parts=8)
    assert summary["docs"] > 0
    ext = spark.read.parquet(os.path.join(out_dir, "extracted_spans"))
    assert ext.count() == full
    assert ext.select("doc_id").distinct().count() == full


def test_clean_job_writes_decisions_and_retained_subset(spark, tmp_path_factory):
    """jobs/clean_job.run: decisions cover every input doc, documents_clean
    is exactly the retained subset, and the summary counts reconcile."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import clean_job

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("clean_out"))
    summary = clean_job.run(spark, sf_dir, out)
    dec = spark.read.parquet(os.path.join(out, "clean_decisions"))
    kept = spark.read.parquet(os.path.join(out, "documents_clean"))
    n_docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).count()
    assert summary["docs_in"] == n_docs == dec.count()
    assert summary["docs_retained"] == kept.count() == dec.filter("retained").count()
    assert summary["docs_dropped"] == dec.filter("NOT retained").count()
    retained_ids = {r.doc_id for r in dec.filter("retained").collect()}
    assert {r.doc_id for r in kept.select("doc_id").collect()} == retained_ids

    # near-dedup stage: retained set shrinks only by near-dup non-canonicals
    out2 = str(tmp_path_factory.mktemp("clean_out_nd"))
    s2 = clean_job.run(spark, sf_dir, out2, near_dedup=True)
    kept2 = {r.doc_id for r in spark.read.parquet(
        os.path.join(out2, "documents_clean")).select("doc_id").collect()}
    assert kept2 <= retained_ids
    assert s2["docs_retained"] + s2["docs_dropped_near_dup"] == summary["docs_retained"]
    from ocrd_anybaseocr_spark.operators.dedup import q_dedup_clusters
    cl = {r.doc_id: r.cluster_id for r in q_dedup_clusters(spark, sf_dir).collect()}
    # expected: min RETAINED doc_id per cluster (a cluster whose global
    # canonical was rule-dropped still keeps one member)
    best = {}
    for d in retained_ids:
        c = cl[d]
        best[c] = min(best.get(c, d), d)
    assert kept2 == set(best.values())


def test_clean_job_input_mutation_fails_loudly(spark, tmp_path_factory, monkeypatch):
    """VERDICT r4 item 5: if the input documents table changes between the
    decisions commit and the retention/near-dedup stages (which re-read the
    input dir), the job must raise, not silently diverge. Simulated by
    pointing the decision stage at a TRUNCATED copy of the input — the
    committed decisions then cover a different doc set than the input the
    retention join reads, exactly the mid-run-mutation signature."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import clean_job
    import pytest

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("clean_out_mut"))
    from ocrd_anybaseocr_spark.operators.textstats import q_corpus_clean_filter

    def stale_decisions(spark_, input_dir):
        full = q_corpus_clean_filter(spark_, input_dir)
        mx = full.agg({"doc_id": "max"}).collect()[0][0]
        return full.filter(f"doc_id < {mx}")  # decisions from a smaller doc set

    monkeypatch.setattr(clean_job, "q_corpus_clean_filter", stale_decisions, raising=False)
    monkeypatch.setattr(
        "ocrd_anybaseocr_spark.operators.textstats.q_corpus_clean_filter",
        stale_decisions,
    )
    with pytest.raises(RuntimeError, match="input documents changed"):
        clean_job.run(spark, sf_dir, out)


def test_round_like_spark_adversarial_corpus(spark):
    """Seeded adversarial double corpus vs F.round: random magnitudes
    across exponents, exact decimal 7th-place ties (the HALF_UP boundary),
    negated twins, and subnormal-adjacent tinies — 600 values, repr
    compared (sign of zero included). The materialized pipeline oracle's
    hash gate rides entirely on this equivalence."""
    import numpy as np
    from pyspark.sql import functions as F

    from ocrd_anybaseocr_spark.oracle import round_like_spark

    rng = np.random.RandomState(7)
    vals = []
    vals += [float(m * 10.0 ** e) for m, e in zip(rng.uniform(-1, 1, 200),
                                                  rng.randint(-9, 3, 200))]
    vals += [k * 1e-7 for k in range(-25, 26)]          # exact 7th-place ties
    vals += [k * 5e-7 for k in range(-20, 21)]          # .5-ulp-at-scale ties
    vals += [float(v) for v in rng.standard_normal(100) * 1e-6]
    vals += [-v for v in vals[:100]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r[0] for r in df.select(F.round("x", 6)).collect()]
    want = [round_like_spark(v, 6) for v in vals]
    bad = [(v, g, w) for v, g, w in zip(vals, got, want) if repr(g) != repr(w)]
    assert not bad, bad[:5]


def test_clean_job_pii_scrub_flag(spark, tmp_path_factory):
    """clean_job --pii-scrub: documents_clean carries the redacted text
    (same PII_RULES pass as the pii_scrub query), identical doc set."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import clean_job

    from ocrd_anybaseocr_spark.operators.textstats import PII_RULES

    src = str(tmp_path_factory.mktemp("pii_src"))
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # plant PII into a couple of docs so the scrub is observable
    from pyspark.sql import functions as F

    planted = base.withColumn(
        "text",
        F.concat(F.col("text"), F.lit(" reach me at spam@example.com or 10.1.2.3")),
    )
    planted.write.mode("overwrite").parquet(os.path.join(src, "documents.parquet"))
    out = str(tmp_path_factory.mktemp("pii_out"))
    clean_job.run(spark, src, out, pii_scrub=True)
    kept = spark.read.parquet(os.path.join(out, "documents_clean"))
    assert kept.filter(F.col("text").contains("spam@example.com")).count() == 0
    assert kept.filter(F.col("text").contains("<EMAIL>")).count() > 0
    assert kept.filter(F.col("text").contains("<IP>")).count() > 0
    # without the flag, text is untouched
    out2 = str(tmp_path_factory.mktemp("pii_out2"))
    clean_job.run(spark, src, out2)
    kept2 = spark.read.parquet(os.path.join(out2, "documents_clean"))
    assert kept2.filter(F.col("text").contains("spam@example.com")).count() > 0


def test_clean_job_lm_filter(spark, tmp_path_factory):
    """clean_job --lm-max-bits: a planted gibberish doc (corpus-rare
    tokens, high bits/token) drops at a threshold that keeps typical
    docs; the summary reports the LM-dropped count."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import clean_job

    from ocrd_anybaseocr_spark.operators.textstats import q_lm_cross_entropy
    from pyspark.sql import functions as F

    src = str(tmp_path_factory.mktemp("lm_src"))
    base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mx = base.agg(F.max("doc_id")).collect()[0][0]
    gib_id = mx + 1
    # rule-passing but LM-failing: stopwords keep the C4/Gopher rules
    # happy while every other token is a corpus singleton
    gibberish = " ".join(f"the zzqw{i}x and" for i in range(40))
    planted = base.unionByName(
        spark.createDataFrame(
            [(gib_id, gibberish, "xx", "synthetic", len(gibberish))], base.schema
        )
    )
    planted.write.mode("overwrite").parquet(os.path.join(src, "documents.parquet"))
    # threshold: midway between the corpus's max normal ce and gibberish ce
    ce = {r.doc_id: r.ce_bits for r in q_lm_cross_entropy(spark, src).collect()}
    normal_max = max(v for k, v in ce.items() if k != gib_id)
    assert ce[gib_id] > normal_max
    thr = (normal_max + ce[gib_id]) / 2
    out = str(tmp_path_factory.mktemp("lm_out"))
    summary = clean_job.run(spark, src, out, lm_max_bits=thr)
    kept = spark.read.parquet(os.path.join(out, "documents_clean"))
    assert kept.filter(F.col("doc_id") == gib_id).count() == 0
    assert summary["docs_dropped_lm"] >= 1


def test_ingest_job_stage_order_and_audit(spark, tmp_path_factory):
    """jobs/ingest_job.run: exact dups drop at the Bloom+verify stage,
    near dups at the incremental-MinHash stage (batch x corpus bands
    only), WITHIN-BATCH exact and near duplicates drop to their
    min-doc_id canonical (a batch must not plant its own duplicates in
    the corpus — round-6 review), fresh docs are accepted, and the audit
    reconciles, including the no-false-negative Bloom invariant
    (exact_dup => bloom_hit). An empty batch reports all-zero counts
    instead of crashing on NULL sums."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import ingest_job

    base = " ".join(f"tok{i}" for i in range(99))
    base2 = " ".join(f"nb{i}" for i in range(99))
    selfdup = " ".join(f"sd{i}" for i in range(40))
    corpus_rows = [
        (f"c{i:03d}", f"corpus document {i} " + " ".join(f"w{i}x{j}" for j in range(40)))
        for i in range(30)
    ] + [("c_near", base + " again")]
    batch_rows = [
        ("b_exact", corpus_rows[0][1]),  # byte-identical to c000
        ("b_near", base + " twice"),     # J~0.94 vs c_near (test_minhash_band_cap pair)
        ("b_fresh", " ".join(f"fresh{j} token{j}" for j in range(50))),
        ("b_self1", selfdup),            # within-batch exact pair
        ("b_self2", selfdup),
        ("b_nearself1", base2 + " again"),  # within-batch near pair
        ("b_nearself2", base2 + " twice"),
    ]
    corpus_dir = str(tmp_path_factory.mktemp("ingest_corpus"))
    batch_dir = str(tmp_path_factory.mktemp("ingest_batch"))
    spark.createDataFrame(corpus_rows, ["doc_id", "text"]).write.parquet(
        os.path.join(corpus_dir, "documents.parquet"))
    spark.createDataFrame(batch_rows, ["doc_id", "text"]).write.parquet(
        os.path.join(batch_dir, "documents.parquet"))
    out = str(tmp_path_factory.mktemp("ingest_out"))
    summary = ingest_job.run(spark, corpus_dir, batch_dir, out)
    assert summary["batch_in"] == 7
    assert summary["dropped_exact"] == 1
    assert summary["dropped_exact_in_batch"] == 1
    assert summary["dropped_near_dup"] == 1
    assert summary["dropped_near_dup_in_batch"] == 1
    assert summary["accepted"] == 3
    audit = {r.doc_id: r for r in spark.read.parquet(
        os.path.join(out, "ingest_audit")).collect()}
    assert audit["b_exact"].exact_dup and audit["b_exact"].bloom_hit
    assert audit["b_near"].near_dup and not audit["b_near"].exact_dup
    assert audit["b_fresh"].accepted and not audit["b_fresh"].near_dup
    assert audit["b_self1"].accepted and audit["b_self2"].exact_dup_in_batch
    assert audit["b_nearself1"].accepted and audit["b_nearself2"].near_dup_in_batch
    # Bloom no-false-negatives: every corpus exact dup was flagged
    assert all(r.bloom_hit for r in audit.values() if r.exact_dup)
    acc = spark.read.parquet(os.path.join(out, "documents_accepted"))
    assert {r.doc_id for r in acc.collect()} == {"b_fresh", "b_self1", "b_nearself1"}

    # empty batch: all-zero summary, no NULL-sum crash
    empty_dir = str(tmp_path_factory.mktemp("ingest_empty"))
    spark.createDataFrame([], "doc_id string, text string").write.parquet(
        os.path.join(empty_dir, "documents.parquet"))
    out2 = str(tmp_path_factory.mktemp("ingest_out_empty"))
    s0 = ingest_job.run(spark, corpus_dir, empty_dir, out2)
    assert s0 == {
        "batch_in": 0, "dropped_exact": 0, "dropped_exact_in_batch": 0,
        "dropped_near_dup": 0, "dropped_near_dup_in_batch": 0,
        "bloom_false_positives": 0, "accepted": 0,
    }

def test_curate_job_end_to_end(spark, tmp_path_factory):
    """jobs/curate_job.run: clean → decontaminate → mixture → packed epoch
    plan, every stage committed and reconciling. Pins: (1) planted eval
    docs (verbatim copies of two retained docs) are dropped at the decon
    stage and never reach the epoch plan; (2) per-shard packing integrity
    — positions consecutive from 1, each row's start offset equals the
    exact cumsum of its predecessors, end_seq algebra holds; (3) packed
    copies per doc equal the committed epoch_plan counts; (4) temperature
    weights upsample rarer sources at least as much as dominant ones."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import curate_job

    from ocrd_anybaseocr_spark.operators.textstats import PACK_BLOCK

    sf_dir = "/root/testdata/sf0.001"
    out1 = str(tmp_path_factory.mktemp("curate_base"))
    s1 = curate_job.run(spark, sf_dir, out1, mix="temperature")
    assert s1["docs_retained"] > 0 and s1["packed_sequences"] > 0

    # build an eval set from two RETAINED docs (verbatim → contaminated)
    kept = spark.read.parquet(os.path.join(out1, "documents_clean"))
    planted = [(int(r.doc_id), r.text) for r in kept.select("doc_id", "text").limit(2).collect()]
    eval_dir = str(tmp_path_factory.mktemp("curate_eval"))
    spark.createDataFrame(
        [(100000 + i, t) for i, (_, t) in enumerate(planted)], ["doc_id", "text"]
    ).write.parquet(os.path.join(eval_dir, "documents.parquet"))

    out = str(tmp_path_factory.mktemp("curate_full"))
    s = curate_job.run(spark, sf_dir, out, eval_dir=eval_dir, mix="temperature")
    assert s["docs_dropped_contaminated"] >= 2
    epoch = {r.doc_id: r for r in spark.read.parquet(os.path.join(out, "epoch_plan")).collect()}
    for doc_id, _ in planted:
        assert doc_id not in epoch

    packed = spark.read.parquet(os.path.join(out, "packed_plan")).collect()
    # (3) copies per doc == committed n_copies
    from collections import Counter

    per_doc = Counter(r.doc_id for r in packed)
    for d, r in epoch.items():
        assert per_doc.get(d, 0) == r.n_copies
    # (2) per-shard integrity
    by_shard = {}
    for r in packed:
        by_shard.setdefault(r.shard, []).append(r)
    assert len(by_shard) > 1
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.pos)
        off = 0
        for i, r in enumerate(rows):
            assert r.pos == i + 1
            assert r.start_seq * PACK_BLOCK + r.start_off == off
            assert r.end_seq == (off + r.n_tokens - 1) // PACK_BLOCK
            off += r.n_tokens
    # (4) temperature flattening between the extremes (floor(sqrt(n))
    # granularity can legally invert neighbors at single-digit counts —
    # n=3 → s=1 vs n=4 → s=2 — but never smallest vs largest)
    w = sorted(
        spark.read.parquet(os.path.join(out, "mix_weights")).collect(),
        key=lambda r: r.n_docs,
    )
    assert w[0].weight_ppm >= w[-1].weight_ppm
    assert w[0].n_docs < w[-1].n_docs


def test_index_job_persisted_relations_serve_identically(spark, tmp_path_factory):
    """jobs/index_job.run: the persisted LSH/IVF/PQ relations equal the
    in-session builds row-for-row, the manifest carries the exact derived
    parameters + codebooks, and SERVING from the persisted LSH relation
    (candidates_from_assignments over the parquet) produces the identical
    candidate set to the raw-lineage path."""
    import json as _json
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import index_job

    from ocrd_anybaseocr_spark.operators import similarity as sim

    sf_dir = "/root/testdata/sf0.001"
    out = str(tmp_path_factory.mktemp("ann_index"))
    summary = index_job.run(spark, sf_dir, out)
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n = emb.count()
    assert summary["n_vectors"] == n
    man_rows = spark.read.json(os.path.join(out, "manifest")).collect()
    assert len(man_rows) == 1
    man = _json.loads(man_rows[0].manifest_json)
    assert man["complete"] is True
    assert man["lsh_bits"] == sim.derive_bits(n)
    assert man["ivf_k"] == sim.derive_ivf_k(n)

    def rows(df, *key):
        return sorted(map(tuple, df.collect()))

    persisted_lsh = spark.read.parquet(os.path.join(out, "lsh_index"))
    live_lsh = sim.lsh_assignments(
        emb.select("vec_id", "embedding"), sim.LSH_TABLES, man["lsh_bits"]
    )
    assert rows(persisted_lsh.select("vec_id", "tbl", "bucket")) == rows(
        live_lsh.select("vec_id", "tbl", "bucket")
    )
    assert rows(spark.read.parquet(os.path.join(out, "ivf_index")).select("vec_id", "cell")) == rows(
        sim.ivf_assignments(emb, man["ivf_k"]).select("vec_id", "cell")
    )
    books = [
        [(cid, cent) for cid, cent in book] for book in man["pq_codebooks"]
    ]
    assert rows(
        spark.read.parquet(os.path.join(out, "pq_index")).select("vec_id", "m", "code")
    ) == rows(sim.pq_codes(emb, books).select("vec_id", "m", "code"))
    # serving equivalence: candidate generation from the PERSISTED relation
    cand_persisted = rows(sim.candidates_from_assignments(persisted_lsh))
    cand_live = rows(sim.candidates_from_assignments(live_lsh))
    assert cand_persisted == cand_live and len(cand_persisted) > 0


def test_quarantine_corrupt_blob_does_not_kill_batch(spark, corpus_dir, tmp_path_factory):
    """One corrupt page blob must quarantine as a single row (doc_id,
    media_ref, error) — not kill its Arrow batch task: page_results keeps
    every healthy page including the damaged doc's OTHER pages, the fold
    still emits the doc's structure, checkpoints still reconcile against
    the committed rows, and the summary reports the quarantined count."""
    import pyarrow as pa

    src_docs = pq.read_table(os.path.join(corpus_dir, "documents.parquet"))
    src_blobs = pq.read_table(os.path.join(corpus_dir, "page_blobs.parquet")).to_pylist()
    victim = src_blobs[3]["media_ref"]
    for b in src_blobs:
        if b["media_ref"] == victim:
            b["image"] = b"this is not a png"
    bad_dir = str(tmp_path_factory.mktemp("corrupt_corpus"))
    pq.write_table(src_docs, os.path.join(bad_dir, "documents.parquet"))
    pq.write_table(
        pa.Table.from_pylist(
            src_blobs,
            schema=pq.read_table(os.path.join(corpus_dir, "page_blobs.parquet")).schema,
        ),
        os.path.join(bad_dir, "page_blobs.parquet"),
    )
    out = str(tmp_path_factory.mktemp("quarantine_out"))
    summary = run_pipeline(spark, bad_dir, out, n_parts=8)
    assert summary["quarantined_pages"] == 1
    pr = spark.read.parquet(os.path.join(out, "page_results"))
    ok = pr.filter("error is null")
    assert ok.filter(f"media_ref = '{victim}'").count() == 0
    bad = pr.filter("error is not null").collect()
    assert len(bad) == 1 and bad[0].media_ref == victim and bad[0].error
    assert bad[0].border is None  # kernel fields NULL on the quarantine row
    q = spark.read.parquet(os.path.join(out, "quarantine")).collect()
    assert len(q) == 1 and q[0].media_ref == victim
    # the damaged doc keeps its healthy pages and still folds
    doc = bad[0].doc_id
    n_doc_pages_total = sum(1 for b in src_blobs if b["media_ref"].startswith(doc))
    if n_doc_pages_total > 1:
        assert ok.filter(f"doc_id = '{doc}'").count() == n_doc_pages_total - 1
    st = spark.read.parquet(os.path.join(out, "doc_structure"))
    assert st.filter(f"doc_id = '{doc}'").count() == (1 if n_doc_pages_total > 1 else 0)
    # checkpoint row counts reconcile over ALL committed rows (incl. the
    # quarantined one — it was processed and committed)
    ck = spark.read.parquet(os.path.join(out, "checkpoints")).toPandas()
    assert ck["row_count"].sum() == pr.count()
    # the gated doc-structure query path survives corrupt input too: the
    # fold boundary drops quarantined rows (round-6 review — the sibling
    # page-results filter alone left this path crashing on labels=None)
    from ocrd_anybaseocr_spark.operators.fold import fold_structure
    from ocrd_anybaseocr_spark.operators.pipeline import build_page_results
    from ocrd_anybaseocr_spark.sources.tables import load_corpus, load_table

    d2, b2 = load_corpus(spark, bad_dir)
    st2 = fold_structure(build_page_results(d2, b2, n_parts=8))
    assert st2.filter(f"doc_id = '{doc}'").count() == (1 if n_doc_pages_total > 1 else 0)
    # quarantine freshness: fix the blob, re-run into the same out_dir with
    # resume=False — the stale quarantine row must clear
    good_dir = str(tmp_path_factory.mktemp("fixed_corpus"))
    pq.write_table(src_docs, os.path.join(good_dir, "documents.parquet"))
    pq.write_table(
        pa.Table.from_pylist(
            pq.read_table(os.path.join(corpus_dir, "page_blobs.parquet")).to_pylist(),
            schema=pq.read_table(os.path.join(corpus_dir, "page_blobs.parquet")).schema,
        ),
        os.path.join(good_dir, "page_blobs.parquet"),
    )
    s2 = run_pipeline(spark, good_dir, out, n_parts=8, resume=False)
    assert s2["quarantined_pages"] == 0
    assert spark.read.parquet(os.path.join(out, "quarantine")).count() == 0


def test_catalog_overwrite_full_capability_fallback(spark):
    """_CatalogIO.overwrite_full: the quarantine freshness rewrite must
    work on a catalog that rejects v2 REPLACE TABLE AS SELECT (the session
    catalog raises UNSUPPORTED_FEATURE.TABLE_OPERATION — a different class
    than the v1 insert error) — create, full-replace with EMPTY data
    (the clear-stale-rows case), and exists() all green."""
    from ocrd_anybaseocr_spark.operators.pipeline import _CatalogIO

    io = _CatalogIO(spark, "qtest_ofull")
    schema = "doc_id string, media_ref string, page_no int, error string, part_bucket int"
    io.overwrite_full(
        spark.createDataFrame([("d0", "m0", 0, "boom", 3)], schema), "quarantine"
    )
    assert io.read("quarantine").count() == 1
    io.overwrite_full(spark.createDataFrame([], schema), "quarantine")
    assert io.read("quarantine").count() == 0
    assert io.exists("quarantine")
    spark.sql("DROP TABLE IF EXISTS qtest_ofull.quarantine")
    spark.sql("DROP DATABASE IF EXISTS qtest_ofull")


def test_compact_job_swap_and_clustering(spark, sf_dir, tmp_path_factory):
    """Compaction: a 64-fragment dataset rewrites to the byte-derived
    file count with identical rows; --sort-by range-clusters files
    (disjoint min/max on the sort column); an interrupted-run leftover
    .compact_old is cleaned up; tmp/old dirs gone after the swap."""
    import os

    from jobs.compact_job import dataset_stats, run as compact

    src = str(tmp_path_factory.mktemp("compact")) + "/docs"
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(64).write.parquet(src)
    _, files0 = dataset_stats(spark, src)
    assert files0 == 64
    before = sorted(r.doc_id for r in spark.read.parquet(src).collect())

    stats = compact(spark, src, target_mb=1, sort_by="doc_id")
    after = sorted(r.doc_id for r in spark.read.parquet(src).collect())
    assert after == before
    assert stats["rows"] == len(before)
    assert stats["files_after"] == stats["target_files"] < files0
    assert not os.path.exists(src + ".compact_tmp")
    assert not os.path.exists(src + ".compact_old")

    # range clustering: per-file doc_id ranges must not overlap
    import duckdb

    ranges = duckdb.sql(
        f"SELECT filename, MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM"
        f" read_parquet('{src}/*.parquet', filename=true) GROUP BY filename"
        f" ORDER BY lo"
    ).fetchall()
    for (_, _, hi_prev), (_, lo, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo
