"""The Spark side of one run: a fresh process on ``local[N]``.

Run as ``python -m perfbench.child <config.json>`` with the checkout root
on ``PYTHONPATH``. The child sets up (session plus a first tiny
``process_pages`` job), runs its workload and writes both to the
config's ``result`` path.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from ocrd_anybaseocr_spark.operators.pipeline import process_pages
from ocrd_anybaseocr_spark.sources.tables import load_corpus, load_table, spark_session

from .trace import Tracer


class Run:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.n = cfg["cores"]
        self.tracer = Tracer(cfg["run_id"])
        self.spark = None

    @contextlib.contextmanager
    def call(self, name: str):
        """A span around one call; in a traced run also the job description
        that tags the call's Spark jobs in the event log."""
        sc = self.spark.sparkContext if self.spark is not None else None
        if self.cfg["trace"] and sc is not None:
            sc.setJobDescription(name)
        try:
            with self.tracer.span(name) as rec:
                yield rec
        finally:
            if self.cfg["trace"] and sc is not None:
                sc.setJobDescription(None)

    def setup(self) -> dict:
        with self.call("sources.tables.spark_session"):
            self.spark = spark_session(cores=self.n, shuffle_partitions=max(self.n, 16))
        with self.call("first_udf_job"):
            _, blobs = load_corpus(self.spark, self.cfg["setup_corpus"])
            tiny = blobs.select(F.lit("setup").alias("doc_id"), "media_ref",
                                F.lit(0).alias("page_no"), "image").limit(2)
            process_pages(tiny).write.format("noop").mode("overwrite").save()
        return {name: self.tracer.seconds(name)
                for name in ("sources.tables.spark_session", "first_udf_job")}

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def pages(self) -> dict:
        from ocrd_anybaseocr_spark.operators.pipeline import run_pipeline

        out_root, corpus = self.cfg["out_dir"], self.cfg["corpus"]
        n_parts = self.n * 8
        with self.call("warmup"):
            run_pipeline(self.spark, self.cfg["setup_corpus"], os.path.join(out_root, "warm"),
                         n_parts=n_parts, resume=False)
        calls, last = [], None
        t_end = time.monotonic() + self.cfg["seconds"]
        # start another call only if one more of the average length still
        # ends within --seconds; the first call always runs
        while not calls or (time.monotonic()
                            + statistics.mean(c["wall_s"] for c in calls) <= t_end):
            out = os.path.join(out_root, f"call{len(calls)}")
            with self.call("operators.pipeline.run_pipeline") as rec:
                summary = run_pipeline(self.spark, corpus, out, n_parts=n_parts, resume=False)
            calls.append({"wall_s": rec["end"] - rec["start"], "summary": summary})
            if last is not None:
                shutil.rmtree(last, ignore_errors=True)
            last = out
        result = {"calls": calls, "out_dir": last}
        if self.cfg["trace"]:
            self.pipeline_calls(corpus, last, n_parts)
        return result

    def pipeline_calls(self, corpus: str, committed: str, n_parts: int) -> None:
        """Pipeline layers one call at a time, each to a noop sink."""
        from ocrd_anybaseocr_spark.operators.extract import extract_spans, page_index
        from ocrd_anybaseocr_spark.operators.fold import fold_structure
        from ocrd_anybaseocr_spark.operators.pipeline import build_page_results

        docs, blobs = load_corpus(self.spark, corpus)
        with self.call("sources.tables.load_corpus"):
            self.noop(docs)
            self.noop(blobs)
        with self.call("operators.pipeline.build_page_results"):
            self.noop(build_page_results(docs, blobs, n_parts))
        joined = (page_index(docs).join(blobs.select("media_ref", "image"), "media_ref")
                  .select("doc_id", "media_ref", "page_no", "image")
                  .repartition(n_parts).cache())
        with self.call("cache_fill"):
            joined.count()
        with self.call("operators.pipeline.process_pages"):
            self.noop(process_pages(joined))
        joined.unpersist()
        with self.call("operators.extract.extract_spans"):
            self.noop(extract_spans(docs.select("doc_id", "spans")))
        with self.call("operators.fold.fold_structure"):
            self.noop(fold_structure(self.spark.read.parquet(os.path.join(committed, "page_results"))))

    def queries(self) -> dict:
        from ocrd_anybaseocr_spark.operators.similarity import build_ann_indexes
        from ocrd_anybaseocr_spark.queries import QUERIES

        sf_dir, sink = self.cfg["sf_dir"], self.cfg["out_dir"]
        # a warm session: SQL codegen and the table scan path are paid here,
        # not by whichever query the seed puts first
        with self.call("warmup"):
            self.noop(self.spark.range(100_000).selectExpr("sum(id)"))
            self.noop(load_table(self.spark, sf_dir, "documents").limit(64))
        with self.call("operators.similarity.build_ann_indexes"):
            builds = build_ann_indexes(self.spark, sf_dir)
        rows = []
        with self.call("queries.registry_pass"):
            for name in self.cfg["queries"]:
                fn = QUERIES[name]
                module = fn.__module__.removeprefix("ocrd_anybaseocr_spark.")
                error = None
                with self.call(module), self.tracer.span(f"query:{name}") as rec:
                    try:
                        fn(self.spark, sf_dir).write.mode("overwrite").parquet(
                            os.path.join(sink, name))
                    except Exception as e:  # noqa: BLE001 — counted as a failed query
                        error = f"{type(e).__name__}: {e}"[:500]
                rows.append({"name": name, "module": module, "error": error,
                             "wall_s": rec["end"] - rec["start"]})
        return {"ann_builds": builds, "queries": rows, "out_dir": sink}


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    run = Run(cfg)
    try:
        setup = run.setup()
        body = run.pages() if cfg["workload_kind"] == "pages" else run.queries()
        result = {"setup": setup, **body, "spans": run.tracer.spans}
        tmp = cfg["result"] + ".tmp"
        with open(tmp, "w") as f:
            json.dump(result, f)
        os.replace(tmp, cfg["result"])
        return 0
    finally:
        if run.spark is not None:
            run.spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
