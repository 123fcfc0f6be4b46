"""The measurement scripts around the engine: the sf testdata scale-up
(tools/scale_testdata.py), the per-query harness (bench_extra.py) and the
event-log job timeline (tools/stage_timeline.py)."""

from __future__ import annotations

import importlib.util
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str):
    path = os.path.join(ROOT, "tools", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _normalized_words(text: str) -> set[str]:
    # dedup_exact_normalized's normalization: lowercase, strip [^a-z0-9 ]
    return set(re.sub(r"[^a-z0-9 ]", "", text.lower()).split())


def test_scaled_copies_disjoint_under_normalization(tmp_path):
    """Copy 1 of a scale-up shares no normalized word with copy 0. Words
    that end in a digit, or carry punctuation the normalization deletes,
    are where a suffix that does not survive it collides."""
    src, out = tmp_path / "src", tmp_path / "out"
    src.mkdir()
    out.mkdir()
    texts = ["Alpha beta gamma.", "beta1 Foo~ bar, baz", "delta-2 epsilon 12"]
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()), "text": texts}),
        src / "documents.parquet",
    )
    _tool("scale_testdata").scale_table("documents", str(src), str(out), 2)
    scaled = pq.read_table(out / "documents.parquet").to_pylist()
    assert len(scaled) == 6
    copy0 = set().union(*(_normalized_words(r["text"]) for r in scaled[:3]))
    copy1 = set().union(*(_normalized_words(r["text"]) for r in scaled[3:]))
    assert copy1 and not copy1 & copy0, copy1 & copy0
    assert [r["doc_id"] for r in scaled[3:]] == [10**7 + 1, 10**7 + 2, 10**7 + 3]


def test_bench_extra_sf_of_unparsable_suffix_is_none():
    from bench_extra import sf_of

    assert sf_of("/data/sf0.1") == 0.1
    assert sf_of("/data/sf1/") == 1.0
    assert sf_of("/data/sf0.1_10x") is None
    assert sf_of("/data/testdata") is None


def _task_end(stage: int, run_ms: int) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms}}


def test_stage_timeline_per_job(tmp_path, capsys):
    """One row per job from a rolled event log: offset from the app start,
    wall, task count, summed run time, max and median task time. Job 1
    lists job 0's stage 0 (a reused shuffle map stage, skipped), so its
    row holds only its own stage's tasks; events_10 is read after events_2."""
    app = "local-1"
    part1 = [
        {"Event": "SparkListenerApplicationStart", "App ID": app, "Timestamp": 1_000},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_500,
         "Stage IDs": [0], "Properties": {"spark.job.description": "image"}},
        *(_task_end(0, ms) for ms in (300, 280, 290, 900)),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2_700},
    ]
    part2 = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3_000,
         "Stage IDs": [0, 1], "Properties": {}},
        *(_task_end(1, ms) for ms in (40, 60)),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3_250},
    ]
    d = tmp_path / f"eventlog_v2_{app}"
    d.mkdir()
    (d / f"appstatus_{app}").write_text("")
    for n, events in ((2, part1), (10, part2)):
        (d / f"events_{n}_{app}").write_text("\n".join(json.dumps(e) for e in events) + "\n")

    tool = _tool("stage_timeline")
    rows = tool.timeline(str(tmp_path))
    assert [(r["job"], r["description"]) for r in rows] == [(0, "image"), (1, None)]
    j0, j1 = rows
    assert (j0["offset_s"], j0["wall_s"], j0["tasks"], j0["run_s"]) == (0.5, 1.2, 4, 1.77)
    assert (j0["max_ms"], j0["median_ms"]) == (900, 295)
    assert (j1["offset_s"], j1["wall_s"], j1["tasks"], j1["run_s"]) == (2.0, 0.25, 2, 0.1)
    assert (j1["max_ms"], j1["median_ms"]) == (60, 50)

    assert tool.main([str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == f"app {app}" and out[1].split()[:7] == [
        "job", "offset_s", "wall_s", "tasks", "run_s", "max_ms", "median_ms"]
    assert out[2].split() == ["0", "0.500", "1.200", "4", "1.770", "900", "295", "image"]
    assert out[3].split() == ["1", "2.000", "0.250", "2", "0.100", "60", "50"]
