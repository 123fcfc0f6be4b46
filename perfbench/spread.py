"""Run the benchmark on several seeds and report each end-to-end metric's
median and spread (interquartile range as a share of the median).

    python3 perfbench/spread.py --workload pages_degraded --seeds 1-10

Each run is a separate ``perfbench/run.py`` process, started with the
``command`` and ``run_seconds`` of BENCHMARK.json. A spread above a third
of the metric's bound means the benchmark is not steady enough to resolve
a change of that size.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.Popen(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        try:
            stdout, stderr = proc.communicate()
        except BaseException:
            proc.terminate()  # the run reaps its own children on SIGTERM
            proc.wait()
            raise
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(stderr[-3000:], file=sys.stderr)
            return 1
        out = json.loads(stdout.strip().splitlines()[-1])
        for name, m in out["metrics"].items():
            values[name].append(m["value"])
        print(json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": out["correct"],
                          **{k: v["value"] for k, v in out["metrics"].items()}}), flush=True)
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (med, med, med)
        share = (q3 - q1) / med
        print(json.dumps({"metric": m["name"], "n": len(v), "median": med, "iqr_share": share,
                          "bound": m["bound"], "steady": share < m["bound"] / 3}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
