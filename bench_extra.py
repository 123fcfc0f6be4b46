"""Per-query isolation harness (guide §1.4) — bench.py is FROZEN for
measurement, so noop-sink isolation runs live here.

Usage: python bench_extra.py [--reps N] [name ...]

Times each named query (default: all registered) with the exact bench.py
methodology — same session config, same warmup, `.write.format("noop")`
sink — but in ONE dedicated session per invocation so a single query (or
a small set) can be measured without the other 114 sharing the window.
Each rep re-invokes the query fn; the session-shared relations
(sources.session_cache) behave as in the real bench (first rep pays a
shared relation's build). Use `--fresh-caches` to clear them between reps
instead.

Prints one JSON line: {"queries": {name: [rep0_s, rep1_s, ...]}, "sf": ...}
"""
from __future__ import annotations

import json
import os
import re
import sys
import time


def sf_of(sf_dir: str) -> float | None:
    """Scale factor from a testdata dir name: ``.../sf0.1`` → 0.1. A name
    whose suffix does not parse (the ``sf0.1_10x`` scale-ups of
    tools/scale_testdata.py) reports None instead of raising after every
    measurement has finished."""
    m = re.search(r"sf(\d+(?:\.\d+)?)$", sf_dir.rstrip("/"))
    return float(m.group(1)) if m else None


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    fresh = "--fresh-caches" in args
    if fresh:
        args.remove("--fresh-caches")

    from ocrd_anybaseocr_spark.queries import QUERIES
    from ocrd_anybaseocr_spark.sources import session_cache
    from ocrd_anybaseocr_spark.sources.tables import load_table, spark_session

    names = args or list(QUERIES)
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = spark_session(cores=cpus, shuffle_partitions=max(cpus, 16))
    spark.range(100000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    load_table(spark, sf_dir, "documents").limit(64).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, list[float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        ts: list[float] = []
        for r in range(reps):
            if fresh and r > 0:
                session_cache.clear()
            t0 = time.monotonic()
            QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.monotonic() - t0, 3))
        out[name] = ts
    spark.stop()
    print(json.dumps({"queries": out, "sf": sf_of(sf_dir)}))


if __name__ == "__main__":
    main()
