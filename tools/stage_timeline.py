"""Per-job timeline of an uncompressed Spark event log.

    python tools/stage_timeline.py <event-log-dir>

Prints one row per Spark job, in submission order: its submit offset from
the application start, wall time, task count, summed executor run time,
and the max and median task run time, plus the job description when the
job has one. Per-tag totals (perfbench/eventlog.py) add a job's tasks
into its tag; this view keeps the jobs apart, so a job whose tasks each
run a fraction of a second, yet whose summed run time dwarfs its kernel
time, shows up as a fixed per-task cost.

The path may be one event-log file, a directory of them, or a directory
of rolled logs (``eventlog_v2_<app>/events_<n>_<app>``).
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys


def _natural(path: str) -> list:
    # events_10_<app> after events_2_<app>
    return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", path)]


def _events(path: str):
    if os.path.isfile(path):
        paths = [path]
    else:
        paths = [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    for p in sorted(paths, key=_natural):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    yield json.loads(line)


def timeline(path: str) -> list[dict]:
    """One dict per job: app, job, description, offset_s, wall_s, tasks,
    run_s, max_ms, median_ms. A stage counts for the first job that lists
    it: a later job lists a stage it reuses, but only skips it."""
    app, app_start = None, {}
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    runs: dict[tuple, list[int]] = {}
    for ev in _events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerApplicationStart":
            app = ev.get("App ID")
            app_start[app] = ev.get("Timestamp", 0)
        elif kind == "SparkListenerJobStart":
            key = (app, ev["Job ID"])
            jobs[key] = {"app": app, "job": ev["Job ID"],
                         "description": (ev.get("Properties") or {}).get("spark.job.description"),
                         "submit_ms": ev.get("Submission Time", 0), "end_ms": None}
            runs[key] = []
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault((app, sid), key)
        elif kind == "SparkListenerJobEnd":
            if (app, ev["Job ID"]) in jobs:
                jobs[(app, ev["Job ID"])]["end_ms"] = ev.get("Completion Time")
        elif kind == "SparkListenerTaskEnd":
            key = stage_job.get((app, ev["Stage ID"]))
            if key is not None:
                runs[key].append((ev.get("Task Metrics") or {}).get("Executor Run Time", 0))
    for j in jobs.values():  # a log cut before its ApplicationStart
        app_start.setdefault(j["app"], j["submit_ms"])
    rows = []
    for key in sorted(jobs, key=lambda k: (app_start[k[0]], str(k[0]), jobs[k]["submit_ms"], k[1])):
        j, run = jobs[key], runs[key]
        rows.append({
            "app": j["app"], "job": j["job"], "description": j["description"],
            "offset_s": (j["submit_ms"] - app_start[j["app"]]) / 1000,
            "wall_s": None if j["end_ms"] is None else (j["end_ms"] - j["submit_ms"]) / 1000,
            "tasks": len(run),
            "run_s": sum(run) / 1000,
            "max_ms": max(run, default=0),
            "median_ms": statistics.median(run) if run else 0,
        })
    return rows


def render(rows: list[dict]) -> str:
    head = f"{'job':>5} {'offset_s':>9} {'wall_s':>8} {'tasks':>6} {'run_s':>8} " \
           f"{'max_ms':>8} {'median_ms':>9}  description"
    lines, app = [], object()
    for r in rows:
        if r["app"] != app:
            app = r["app"]
            lines += [f"app {app}", head]
        wall = "-" if r["wall_s"] is None else f"{r['wall_s']:.3f}"
        lines.append(
            f"{r['job']:>5} {r['offset_s']:>9.3f} {wall:>8} {r['tasks']:>6} {r['run_s']:>8.3f} "
            f"{r['max_ms']:>8} {r['median_ms']:>9.0f}  {r['description'] or ''}"
        )
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("usage: python tools/stage_timeline.py <event-log-dir>", file=sys.stderr)
        return 2
    print(render(timeline(argv[0])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
