"""The repo's benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload pages_degraded --seed 1 --seconds 10 --trace 0

Workloads (the seed makes the inputs; the program only sees them):

- ``pages_degraded``: ``run_pipeline`` over 98 regular and 2 long-tail
  documents (18 large pages each) at degradation strength 4.0; the seed
  orders and names the documents.
- ``query_registry``: a fixed, module-stratified set of registry queries,
  in seed-shuffled order, in one session over the sf0.01 test tables
  (``perfbench/data``), each to a parquet sink, after ``build_ann_indexes``.

One run is a closed loop with one client. The parent process prepares the
inputs (cached under ``.perfbench/``), then starts one fresh child process
on ``local[N]``, ``N`` being the usable CPU count. The child sets up
(``setup_s``) and measures the workload for ``--seconds``. The parent
checks every output against the oracles outside any timed region and
prints one JSON line. ``--trace 1`` runs that untraced child, then a
second, traced one with the event log and the job tags, then the kernel
replay, and prints the per-layer metrics; ``trace_overhead`` compares the
two children. See perfbench/README.md for every metric and its layer.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from multiprocessing import resource_tracker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench")
# the children of one run, together, get this many seconds, so a stuck
# run still exits within 180 s
CHILDREN_DEADLINE_S = 150
PR_SET_CHILD_SUBREAPER = 36  # <linux/prctl.h>

DEGRADE_STRENGTH = 4.0
OVERSIZED_PAGES = 18  # the middle of the generator's 12-24
SETUP_CORPUS_DOCS = 8

# a fixed, module-stratified sample of the registry that fits one run;
# queries over the image corpus (pipeline_*, media_*, bpe_*) are left out so
# no image kernel runs in this workload
QUERY_SET = (
    "extract_reading_order", "star_join_revenue",  # queries
    "token_windows",  # operators.textstats
    "dedup_simhash", "dedup_clusters",  # operators.dedup
    "ann_pq_adc",  # operators.similarity
)
# "tiny" only makes the benchmark's own tests quick
SIZES = {
    "full": {"regular": 98, "oversized": 2, "replay_pages": 60, "queries": QUERY_SET},
    "tiny": {"regular": 6, "oversized": 0, "replay_pages": 4,
             "queries": ("star_join_revenue", "token_windows", "dedup_clusters", "ann_pq_adc")},
}
QUERY_MODULES = ("queries", "operators.textstats", "operators.dedup", "operators.similarity")
PIPELINE_CALLS = (
    "sources.tables.load_corpus", "operators.pipeline.build_page_results",
    "operators.pipeline.process_pages", "operators.extract.extract_spans",
    "operators.fold.fold_structure",
)
EVENT_TAGS = (("operators.pipeline.run_pipeline",) + PIPELINE_CALLS
              + ("operators.similarity.build_ann_indexes",) + QUERY_MODULES)
PHASES = ("count_docs", "extracted_write", "page_results_write", "metrics_collect",
          "fold_write", "checkpoint_append")
WORKLOADS = {"pages_degraded": "pages", "query_registry": "queries"}
# per-layer metrics of layers a workload never calls; they read 0 there
NOT_ON = {
    "pages": ("queries.", "operators.similarity."),
    "queries": ("png.", "kernels.", "oracle.", "replay.", "operators.pipeline.",
                "sources.tables.load_corpus.", "operators.extract.", "operators.fold."),
}


@contextlib.contextmanager
def phase(name: str):
    """Report on stderr how long one step of the run took."""
    t0 = time.monotonic()
    yield
    print(f"perfbench: {name} took {time.monotonic() - t0:.1f} s", file=sys.stderr)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def child_env(event_log: str | None) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(CACHE, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    env["SPARK_SUBMIT_OPTS"] = f"{env.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={tmp}".strip()
    env.setdefault("SPARK_DRIVER_MEM", "2g")
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    conf = ["spark.ui.showConsoleProgress=false"]
    if event_log:
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{event_log}",
                 "spark.eventLog.compress=false"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    return env


def become_subreaper() -> None:
    """Make every orphan below this process its child. The JVM outlives
    the child that launched it, and PySpark's worker daemon moves to a
    process group of its own, so neither can be waited for otherwise."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> set[int]:
    """Every process below this one, zombies included, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # ended while listed
        children.setdefault(ppid, []).append(int(entry))
    found, todo = set(), [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            found.add(pid)
            todo.append(pid)
    return found


def stop_descendants(keep: frozenset[int] = frozenset()) -> None:
    """Stop every descendant not in ``keep`` and wait until each has
    ended: a few seconds to end on its own, then SIGTERM, then SIGKILL.
    Orphans are this process's children (``become_subreaper``), so
    waiting here also reaps them."""
    for sig, grace in ((None, 5.0), (signal.SIGTERM, 3.0), (signal.SIGKILL, 10.0)):
        left = descendants() - keep
        for pid in left if sig is not None else ():
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, sig)
        deadline = time.monotonic() + grace
        while left:
            for pid in left:
                with contextlib.suppress(ChildProcessError):
                    os.waitpid(pid, os.WNOHANG)
            left = descendants() - keep
            if not left:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    if left:
        raise RuntimeError(f"processes {sorted(left)} outlived SIGKILL")


def reap(proc: subprocess.Popen, timeout: float, keep: frozenset[int]) -> None:
    """Wait up to ``timeout`` for ``proc``, else kill it; then stop
    whatever it started, in its process group or not."""
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    with phase("stopping what the child left"):
        stop_descendants(keep)


def run_child(cfg: dict, run_dir: str, name: str, trace: bool, deadline: float) -> dict:
    """Run one fresh child on ``local[N]`` to its end and return its
    result: setup times, workload outputs and spans. ``trace`` switches on
    the event log and the job tags. A child still running at ``deadline``
    (``time.monotonic()``) is killed."""
    wd = os.path.join(run_dir, name)
    os.makedirs(wd)
    event_log = os.path.join(wd, "eventlog") if trace else None
    if event_log:
        os.makedirs(event_log)
    cfg = {**cfg, "trace": trace, "run_id": f"{os.path.basename(run_dir)}_{name}",
           "out_dir": os.path.join(wd, "out"), "result": os.path.join(wd, "result.json")}
    path = os.path.join(wd, "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    log = os.path.join(run_dir, f"{name}.log")
    # the oracle pool's workers and the like, which outlive the child
    keep = frozenset(descendants())
    with open(log, "w") as f:
        proc = subprocess.Popen([sys.executable, "-m", "perfbench.child", path], cwd=wd,
                                env=child_env(event_log), stdin=subprocess.DEVNULL,
                                stdout=f, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            reap(proc, max(1.0, deadline - time.monotonic()), keep)
        except BaseException:
            reap(proc, 0, keep)
            raise
    if proc.returncode != 0:
        raise RuntimeError(f"child {name} failed; see {log}")
    with open(cfg["result"]) as f:
        return {**json.load(f), "event_log": event_log}


def _log_path() -> str:
    return os.path.join(CACHE, "runs.jsonl")


def _log(record: dict) -> None:
    with open(_log_path(), "a") as f:
        f.write(json.dumps(record) + "\n")


def setup_corpus() -> str:
    from ocrd_anybaseocr_spark.synth import SYNTH_VERSION, generate_corpus

    final = os.path.join(CACHE, "corpora", f"setup_v{SYNTH_VERSION}_{SETUP_CORPUS_DOCS}")
    if not os.path.exists(os.path.join(final, ".complete")):
        tmp = final + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        generate_corpus(tmp, SETUP_CORPUS_DOCS, seed=0, bench=True)
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    return final


def measure(args, kind: str, run_dir: str, inputs_cfg: dict) -> list[dict]:
    """The untraced child's result; in a traced run, then the traced one's."""
    cfg = {"workload_kind": kind, "cores": cores(), "seconds": args.seconds, **inputs_cfg}
    deadline = time.monotonic() + CHILDREN_DEADLINE_S
    results = [run_child(cfg, run_dir, "untraced", False, deadline)]
    if args.trace:
        results.append(run_child(cfg, run_dir, "traced", True, deadline))
    return results


def setup_seconds(result: dict) -> float:
    return sum(result["setup"].values())


def pages_per_sec(result: dict) -> float:
    return statistics.median(c["summary"]["pages"] / c["wall_s"] for c in result["calls"])


def pages_workload(args, run_dir: str, metrics: dict) -> tuple[int, int, list[str]]:
    from perfbench import inputs, oracles, replay

    n = cores()
    size = SIZES[args.size]
    with phase("inputs"):
        base = inputs.page_corpus(CACHE, inputs.PAGES_DATA_SEED, size["regular"],
                                  size["oversized"], OVERSIZED_PAGES, DEGRADE_STRENGTH,
                                  workers=n)
        corpus = inputs.relabeled(CACHE, base, args.seed)
        docs, blobs = inputs.read_corpus(corpus)
    with oracles.OraclePool(n) as pool:
        with phase("oracle pass and start floor"):
            page_results, floor_start = pool.pages(blobs)
        with phase("children"), host_steal(metrics):
            results = measure(args, "pages", run_dir,
                              {"corpus": corpus, "setup_corpus": setup_corpus()})
        with phase("end floor"):
            _, floor_end = pool.pages(blobs)
    attempted = failed = 0
    problems: list[str] = []
    with phase("output checks"):
        expected = oracles.documents(docs, page_results)
        for r in results:
            a, f, p = oracles.check_pages(r["out_dir"], expected)
            attempted, failed, problems = attempted + a, failed + f, problems + p
    metrics.update(items_per_sec=pages_per_sec(results[0]), setup_s=setup_seconds(results[0]))
    record_window(args, metrics, floor_start, floor_end)
    if not args.trace:
        return attempted, failed, problems
    result = results[-1]
    calls = result["calls"]

    def per_call(value) -> float:
        return statistics.median(value(c["summary"], c["wall_s"]) for c in calls)

    pre = "operators.pipeline.run_pipeline"
    udf_ms = per_call(lambda s, _: s["kernel_ms"] / s["pages"])
    metrics[f"{pre}.udf_ms_per_page"] = udf_ms
    metrics[f"{pre}.kernel_util"] = per_call(lambda s, wall: s["kernel_ms"] / 1000.0 / (wall * n))
    metrics[f"{pre}.kernel_floor_ratio"] = udf_ms / (n * 1000.0 / floor_start)
    for ph in PHASES:
        metrics[f"{pre}.{ph}_s"] = per_call(lambda s, _: s["timings"].get(ph, 0.0))
    import pyarrow.parquet as pq

    proc_ms = pq.read_table(os.path.join(result["out_dir"], "page_results"),
                            columns=["proc_ms"]).column("proc_ms").to_pylist()
    metrics["operators.pipeline.proc_ms_p50"] = oracles.percentile(proc_ms, 50)
    metrics["operators.pipeline.proc_ms_p99"] = oracles.percentile(proc_ms, 99)
    metrics["oracle.truth_recovery_ratio"] = oracles.truth_recovery(expected, blobs)
    spans = result["spans"]
    for name in PIPELINE_CALLS:
        metrics[f"{name}.call_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
    # kernel replay over a seeded sample of this run's pages
    pngs = [b["image"] for b in blobs.values()]
    sample = random.Random(args.seed).sample(pngs, min(size["replay_pages"], len(pngs)))
    rep = replay.check_pages(sample)
    for stage, ms in rep["stage_ms_per_page"].items():
        metrics[f"{stage}.ms_per_page"] = ms
    metrics["oracle.process_page.ms_per_page"] = rep["direct_ms_per_page"]
    metrics["replay.sum_over_direct"] = rep["replay_ms_per_page"] / rep["direct_ms_per_page"]
    metrics["kernels.components.runs_per_page"] = rep["runs_per_page"]
    metrics["kernels.components.components_per_page"] = rep["components_per_page"]
    metrics["kernels.binarize.escalated_ratio"] = rep["escalated_ratio"]
    metrics["kernels.deskew.deskewed_ratio"] = rep["deskewed_ratio"]
    attempted += rep["pages"]
    failed += rep["mismatches"]
    if rep["mismatches"]:
        problems.append(f"replay differs from process_page on {rep['mismatches']} pages")
    if abs(metrics["replay.sum_over_direct"] - 1.0) > 0.05:
        failed += 1
        problems.append(f"replayed stages sum to {metrics['replay.sum_over_direct']:.3f}"
                        " of direct process_page time (limit 5%)")
    metrics["trace_overhead"] = metrics["items_per_sec"] / pages_per_sec(result) - 1.0
    # the event-log counts add up over every run_pipeline call; per call,
    # like the phases above
    finish_trace(args, run_dir, result, metrics, {pre: len(calls)})
    return attempted, failed, problems


def queries_workload(args, run_dir: str, metrics: dict) -> tuple[int, int, list[str]]:
    from perfbench import inputs, oracles

    from ocrd_anybaseocr_spark.queries import ORACLE

    sf_dir = inputs.QUERY_TABLES
    with phase("inputs"):
        order = list(SIZES[args.size]["queries"])
        random.Random(args.seed).shuffle(order)
        _, setup_blobs = inputs.read_corpus(setup_corpus())
    with oracles.OraclePool(cores()) as pool:
        with phase("start floor"):
            _, floor_start = pool.pages(setup_blobs, min_seconds=1.0)
        with phase("children"), host_steal(metrics):
            results = measure(args, "queries", run_dir,
                              {"sf_dir": sf_dir, "queries": order,
                               "setup_corpus": setup_corpus()})
        with phase("end floor"):
            _, floor_end = pool.pages(setup_blobs, min_seconds=1.0)
    oracle = oracles.QueryOracle(sf_dir, os.path.join(CACHE, "oracle"))
    attempted, problems = 0, []
    try:
        for result in results:
            for r in result["queries"]:
                attempted += 1
                err = r["error"] or oracles.check_query(
                    os.path.join(result["out_dir"], r["name"]), oracle.answer(ORACLE[r["name"]]))
                if err:
                    problems.append(f"{r['name']}: {err}")
    finally:
        oracle.close()

    def suite_s(result: dict) -> float:
        return sum(r["wall_s"] for r in result["queries"])

    metrics.update(items_per_sec=len(order) / suite_s(results[0]),
                   setup_s=setup_seconds(results[0]))
    record_window(args, metrics, floor_start, floor_end)
    if args.trace:
        result = results[-1]
        rows = result["queries"]
        metrics["queries.suite_s"] = suite_s(result)
        metrics["queries.p50_s"] = statistics.median(r["wall_s"] for r in rows)
        for m in QUERY_MODULES:
            metrics[f"queries.{m}.s"] = sum(r["wall_s"] for r in rows if r["module"] == m)
        b = result["ann_builds"]
        for k in ("emb_count", "lsh", "ivf", "pq"):
            key = "emb_count_s" if k == "emb_count" else f"{k}_build_s"
            metrics[f"operators.similarity.build_ann_indexes.{k}_s"] = b[key]
        metrics["operators.similarity.build_ann_indexes.s"] = sum(
            s["end"] - s["start"] for s in result["spans"]
            if s["name"] == "operators.similarity.build_ann_indexes")
        metrics["trace_overhead"] = suite_s(result) / suite_s(results[0]) - 1.0
        finish_trace(args, run_dir, result, metrics, {})
    return attempted, len(problems), problems[:5]


@contextlib.contextmanager
def host_steal(metrics: dict):
    """Set ``window.steal_ratio``: the share of the host's CPU time, while
    the block ran, that the hypervisor gave to other guests (the ``steal``
    column of /proc/stat). Wall-clock figures of a run with a high share
    measured the neighbours as much as the code."""
    def ticks() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    before = ticks()
    yield
    delta = [b - a for a, b in zip(before, ticks())]
    metrics["window.steal_ratio"] = delta[7] / max(1, sum(delta))


def record_window(args, metrics: dict, floor_start: float, floor_end: float) -> None:
    """Kernel floor at the start and end of the run, flagged when they
    differ by more than the throughput bound: a flagged run measured a
    drifting host, not only the code."""
    bound = next(m["bound"] for m in _spec()["end_to_end"] if m["name"] == "items_per_sec")
    drift = floor_end / floor_start - 1.0
    metrics["kernel_floor.pages_per_sec"] = floor_start
    metrics["kernel_floor.end_drift"] = drift
    metrics["window.flagged"] = float(abs(drift) > bound)
    _log({"workload": args.workload, "size": args.size, "seed": args.seed, "trace": args.trace,
          "time": time.time(), "floor_start": floor_start, "floor_end": floor_end,
          "items_per_sec": metrics["items_per_sec"], "flagged": abs(drift) > bound,
          "steal_ratio": metrics["window.steal_ratio"]})


def finish_trace(args, run_dir: str, result: dict, metrics: dict,
                 calls_per_tag: dict[str, int]) -> None:
    """Setup layers, event-log counts and the span file. The additive
    event-log counts of a tag in ``calls_per_tag`` are divided by its
    number of calls."""
    from perfbench import eventlog, trace

    spans = result["spans"]
    for name in ("sources.tables.spark_session", "first_udf_job"):
        metrics[f"{name}.s"] = result["setup"][name]
    windows = [(s["name"], s["start"] * 1000.0, s["end"] * 1000.0) for s in spans]
    counts = eventlog.summarize(result["event_log"], windows)
    for tag in EVENT_TAGS:
        for field in eventlog.FIELDS:
            value = float(counts.get(tag, {}).get(field, 0))
            if field in eventlog.ADDITIVE:
                value /= calls_per_tag.get(tag, 1)
            metrics[f"spark.{tag}.{field}"] = value
    os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
    trace.write(os.path.join(CACHE, "traces", f"{os.path.basename(run_dir)}.json"), spans,
                {"workload": args.workload, "seed": args.seed, "metrics": metrics,
                 "queries": result.get("queries"), "event_log": counts,
                 "calls_per_tag": calls_per_tag})


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def window_report() -> int:
    """Print each set of consecutive runs of one workload with its first
    and last kernel floor, flagged when they differ by more than the bound."""
    bound = next(m["bound"] for m in _spec()["end_to_end"] if m["name"] == "items_per_sec")
    if not os.path.exists(_log_path()):
        return 0
    with open(_log_path()) as f:
        runs = [json.loads(line) for line in f]
    sets: list[list[dict]] = []
    for r in runs:
        if sets and sets[-1][-1]["workload"] == r["workload"]:
            sets[-1].append(r)
        else:
            sets.append([r])
    for s in sets:
        drift = s[-1]["floor_end"] / s[0]["floor_start"] - 1.0
        print(json.dumps({"workload": s[0]["workload"], "runs": len(s),
                          "floor_start": s[0]["floor_start"], "floor_end": s[-1]["floor_end"],
                          "drift": drift, "flagged": abs(drift) > bound}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full", help=argparse.SUPPRESS)
    ap.add_argument("--window-report", action="store_true",
                    help="summarise the kernel floors of the logged runs and exit")
    args = ap.parse_args(argv)
    # a SIGTERM unwinds like an exception, so the children are reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not os.path.isfile(os.path.join(ROOT, "ocrd_anybaseocr_spark", "__init__.py")):
        print("perfbench: the ocrd_anybaseocr_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    if args.window_report:
        return window_report()
    if not args.workload:
        ap.error("--workload is required")
    become_subreaper()
    try:
        return run(args)
    finally:
        # the spawn pools' semaphore tracker ends once its pipe closes
        resource_tracker._resource_tracker._stop()
        stop_descendants()


def run(args) -> int:
    spec = _spec()
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    # the program's own temp files (e.g. the registry's cached image corpus)
    # stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(CACHE, "tmp")
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(CACHE, "runs", f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    metrics: dict[str, float] = {}
    kind = WORKLOADS[args.workload]
    try:
        body = pages_workload if kind == "pages" else queries_workload
        attempted, failed, problems = body(args, run_dir, metrics)
    except BaseException:
        for name in sorted(os.listdir(run_dir)):
            if name.endswith(".log"):
                with open(os.path.join(run_dir, name)) as f:
                    print(f"perfbench: {name} ends with:\n{f.read()[-3000:]}", file=sys.stderr)
        raise
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    metrics["checks.failed_ratio"] = failed / attempted
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    for m in wanted:
        if m["name"] not in metrics and m["name"].startswith(NOT_ON[kind]):
            metrics[m["name"]] = 0.0
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                       for m in wanted}}
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
