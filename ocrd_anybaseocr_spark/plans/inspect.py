"""Physical-plan inspection helpers.

The reference has no optimizer (SURVEY.md §4) — Catalyst is ours for free,
but only if the plans actually keep the shapes we designed for: narrow
extraction (zero exchanges), pushed-down scan filters, broadcast dims.
count_exchanges makes the shuffle count assertable — by the plan audit
(tools/plan_audit.py) and by tests — so a regression in plan shape fails
CI, not a 100 TB run.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle) operators in the physical plan.
    BroadcastExchange is excluded — broadcasting a dim is the point."""
    plan = explain_str(df, "simple")
    return len(re.findall(r"(?<!Broadcast)Exchange (?!SinglePartition)", plan))

