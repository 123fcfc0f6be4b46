"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The end-to-end cases start Spark (one JVM per run, two in a traced run)
and take a few minutes in all.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_benchmark_json_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                         "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert all(re.match(r"^[A-Za-z0-9_/%.-]{1,16}$", m["unit"])
               for m in SPEC["end_to_end"] + SPEC["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


def _pages(degraded, n_docs=2):
    from ocrd_anybaseocr_spark.synth import generate_doc

    return [b["image"] for i in range(n_docs)
            for b in generate_doc(7, i, bench=True, degraded=degraded)[1]]


@pytest.mark.parametrize("degraded", [False, 4.0])
def test_replay_equals_process_page(degraded):
    from ocrd_anybaseocr_spark.oracle import process_page
    from perfbench.replay import StageClock, check_pages, replay_page

    pngs = _pages(degraded)
    for png in pngs:
        assert replay_page(png, StageClock())[0] == process_page(png)
    rep = check_pages(pngs[:3], reps=1)
    assert rep["mismatches"] == 0
    assert rep["replay_ms_per_page"] > 0


# runs the benchmark below a child subreaper of its own, so every process
# the run leaves behind is re-parented to the harness, which lists them on
# the last line of stderr and then kills them
HARNESS = """
import ctypes, contextlib, json, os, subprocess, sys
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
code = subprocess.run(sys.argv[1:]).returncode
kids = {}
for entry in filter(str.isdigit, os.listdir("/proc")):
    with contextlib.suppress(OSError, IndexError, ValueError):
        with open(f"/proc/{entry}/stat") as f:
            kids.setdefault(int(f.read().rsplit(")", 1)[1].split()[1]), []).append(int(entry))
left, todo = [], [os.getpid()]
while todo:
    for pid in kids.get(todo.pop(), ()):
        left.append(pid)
        todo.append(pid)
for pid in left:
    with contextlib.suppress(ProcessLookupError):
        os.kill(pid, 9)
with contextlib.suppress(ChildProcessError):
    while True:
        os.wait()
print(json.dumps({"left": sorted(left)}), file=sys.stderr)
sys.exit(code)
"""


def _run(*args, cwd=ROOT):
    proc = subprocess.run([sys.executable, "-c", HARNESS, sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)
    assert json.loads(proc.stderr.strip().splitlines()[-1]) == {"left": []}
    return proc


def test_stop_descendants_reaps_an_orphan_in_another_session():
    script = ("import subprocess, sys\n"
              f"sys.path.insert(0, {ROOT!r})\n"
              "from perfbench.run import become_subreaper, descendants, stop_descendants\n"
              "become_subreaper()\n"
              "subprocess.run(['sh', '-c', 'setsid sleep 60 &'], check=True)\n"
              "assert descendants(), 'the orphan was not re-parented'\n"
              "stop_descendants()\n"
              "assert not descendants()\n")
    subprocess.run([sys.executable, "-c", script], check=True, timeout=60)


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_run_prints_every_metric(workload, trace):
    proc = _run("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace,
                "--size", "tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {n: m["unit"] for n, m in out["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted}
    assert all(isinstance(m["value"], (int, float)) for m in out["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
                "--trace", "0", cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
