"""Physical-plan audit across the whole query surface.

    python tools/plan_audit.py [sf_dir] [--write]

For every registered query: exchange count (minus reuses), join operator
kinds, whether any aggregate is partial (map-side combine), and red
flags (CartesianProduct, row-at-a-time Python eval). `--write` rewrites
PLAN_AUDIT.md with the table; without it the table prints.

A query whose plan reads a localCheckpointed relation (a session-shared
entry of sources.session_cache, or a checkpoint inside the query) shows
the TRUNCATED plan — an ExistingRDD scan — by design; the raw-builder
shapes for those are asserted in tests/test_plans.py instead (CLAUDE.md
invariant). Such a row is marked "cached" rather than audited as if the
scan were the lineage.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# NOTE on BroadcastNestedLoopJoin: every BNLJ in this surface is a
# broadcast SCALAR ATTACH (crossJoin of a 1-row aggregate: totals, maxes,
# derived thresholds) or a documented bounded probe (<= a few hundred
# rows: histogram bin probe, brute-force query side). The bnlj column is
# informational; CARTESIAN and ROW_PYTHON are the never-allowed flags,
# and the no-cartesian/no-BNLJ-on-big-sides invariants are enforced
# per-family in tests/test_plans.py.


def audit(spark, sf_dir: str) -> list[dict]:
    from ocrd_anybaseocr_spark.plans import count_exchanges, explain_str
    from ocrd_anybaseocr_spark.queries import QUERIES

    rows = []
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, sf_dir)
        plan = explain_str(df)
        joins = sorted(
            set(re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
                           r"|BroadcastNestedLoopJoin|CartesianProduct)", plan))
        )
        flags = []
        if "CartesianProduct" in joins:
            flags.append("CARTESIAN")
        if "BatchEvalPython" in plan:
            flags.append("ROW_PYTHON")
        rows.append(
            {
                "query": name,
                "cached": "ExistingRDD" in plan,
                "exchanges": count_exchanges(df),
                "joins": ",".join(
                    j.replace("Join", "")
                    for j in joins
                    if j != "BroadcastNestedLoopJoin"
                ) or "-",
                "bnlj": "BroadcastNestedLoopJoin" in joins,
                "partial_agg": "partial" in plan.lower(),
                "pushed": "PushedFilters: [" in plan
                and "PushedFilters: []" not in plan,
                "flags": ",".join(flags) or "-",
            }
        )
    return rows


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    write = "--write" in sys.argv

    from ocrd_anybaseocr_spark.sources.tables import spark_session

    spark = spark_session(cores=8, shuffle_partitions=8)
    rows = audit(spark, sf_dir)

    lines = [
        "# PLAN_AUDIT — physical-plan survey of every registered query",
        "",
        "Generated by `python tools/plan_audit.py <sf_dir> --write` over "
        f"`{os.path.basename(os.path.normpath(sf_dir))}`. "
        "`cached` = the physical plan reads a localCheckpointed relation "
        "(an `ExistingRDD` scan), so the visible plan is truncated there "
        "(the raw builder's shape is asserted in tests/test_plans.py). "
        "`scalar-attach bnlj` = the plan contains a "
        "BroadcastNestedLoopJoin, which in this surface is always a "
        "broadcast 1-row scalar attach or a documented bounded probe. "
        "Flags CARTESIAN / ROW_PYTHON must never appear.",
        "",
        "| query | cached | exchanges | joins | scalar-attach bnlj | partial agg | pushed filters | flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    n_flagged = 0
    for r in rows:
        if r["flags"] != "-":
            n_flagged += 1
        lines.append(
            f"| {r['query']} | {'y' if r['cached'] else ''} | {r['exchanges']}"
            f" | {r['joins']} | {'y' if r['bnlj'] else ''}"
            f" | {'y' if r['partial_agg'] else ''}"
            f" | {'y' if r['pushed'] else ''} | {r['flags']} |"
        )
    lines.append("")
    lines.append(f"Queries: {len(rows)}; flagged: {n_flagged}.")
    out = "\n".join(lines) + "\n"
    if write:
        with open("PLAN_AUDIT.md", "w") as f:
            f.write(out)
        print(f"PLAN_AUDIT.md written: {len(rows)} queries, {n_flagged} flagged")
    else:
        print(out)


if __name__ == "__main__":
    main()
