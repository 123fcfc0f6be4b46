"""Per-tag totals from an uncompressed Spark event log.

A stage belongs to the tag in its ``spark.job.description`` property. A
stage without one (jobs submitted from threads that do not inherit the
description) belongs to the tag whose call window, in epoch
milliseconds, contains the stage's submission time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

FIELDS = ("shuffle_write_bytes", "spill_bytes", "tasks", "task_skew")
# the fields that add up over every stage of a tag
ADDITIVE = ("shuffle_write_bytes", "spill_bytes", "tasks")


def _tag_at(windows: list[tuple[str, float, float]], t_ms: float) -> str | None:
    # innermost window wins: the latest start that still contains t
    best = None
    for tag, lo, hi in windows:
        if lo <= t_ms <= hi and (best is None or lo >= best[1]):
            best = (tag, lo)
    return best[0] if best else None


def summarize(log_dir: str, windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """{tag: {shuffle_write_bytes, spill_bytes, tasks, task_skew}}.
    ``task_skew`` is max ÷ median task run time in the tag's stage with
    the most total task time."""
    stage_tag: dict[int, str | None] = {}
    stage_submit: dict[int, float] = {}
    tasks: dict[int, list[tuple[int, int, int]]] = defaultdict(list)
    # Spark writes either one file per application or a directory of
    # rolled files (eventlog_v2_<app>/events_<n>_<app>)
    paths = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
             if os.path.isfile(p)]
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_tag[sid] = (ev.get("Properties") or {}).get("spark.job.description")
                    stage_submit[sid] = ev["Stage Info"].get("Submission Time", 0)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    shuffle = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    tasks[ev["Stage ID"]].append((m.get("Executor Run Time", 0), shuffle, spill))
    out: dict[str, dict] = {}
    per_tag_stages: dict[str, list[list[tuple[int, int, int]]]] = defaultdict(list)
    for sid, rows in tasks.items():
        tag = stage_tag.get(sid) or _tag_at(windows, stage_submit.get(sid, 0))
        if tag is not None:
            per_tag_stages[tag].append(rows)
    for tag, stages in per_tag_stages.items():
        heaviest = max(stages, key=lambda rows: sum(r[0] for r in rows))
        run = [r[0] for r in heaviest]
        med = statistics.median(run)
        out[tag] = {
            "shuffle_write_bytes": sum(r[1] for rows in stages for r in rows),
            "spill_bytes": sum(r[2] for rows in stages for r in rows),
            "tasks": sum(len(rows) for rows in stages),
            "task_skew": max(run) / med if med > 0 else 1.0,
        }
    return out
