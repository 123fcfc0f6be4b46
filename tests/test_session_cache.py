"""The session-relation registry (sources.session_cache): build once per
(session, name, key), checkpoint DataFrames, keep other values as they
are, drop a stopped session's entries, rebuild after clear()."""

from __future__ import annotations

import types

from pyspark.sql import functions as F

from ocrd_anybaseocr_spark.plans import count_exchanges, explain_str
from ocrd_anybaseocr_spark.sources import session_cache


def _session(app_id: str):
    """Stands in for a SparkSession: shared() reads only spark.app.id."""
    return types.SimpleNamespace(
        conf=types.SimpleNamespace(get=lambda k, default=None: app_id)
    )


def _counting_build():
    """A build whose n-th call returns a fresh [n]."""
    calls = [0]

    def build():
        calls[0] += 1
        return [calls[0]]

    return build


def test_same_name_and_key_build_once():
    s = _session("app-1")
    build = _counting_build()
    first = session_cache.shared("rel", s, ("dir",), build)
    assert session_cache.shared("rel", s, ("dir",), build) is first
    assert first == [1]


def test_different_key_or_name_builds_again():
    s = _session("app-1")
    build = _counting_build()
    a = session_cache.shared("rel", s, ("dir", 1), build)
    b = session_cache.shared("rel", s, ("dir", 2), build)
    c = session_cache.shared("other", s, ("dir", 1), build)
    assert (a, b, c) == ([1], [2], [3])
    assert session_cache.shared("rel", s, ("dir", 1), build) is a


def test_non_dataframe_value_is_stored_as_is():
    s = _session("app-1")
    value = ([("a", "b")], 42)
    assert session_cache.shared("merges", s, ("corpus",), lambda: value) is value


def test_dataframe_is_served_checkpointed(spark):
    raw = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    assert count_exchanges(raw) >= 1
    got = session_cache.shared("counts", spark, ("range",), lambda: raw)
    assert count_exchanges(got) == 0
    assert "ExistingRDD" in explain_str(got, "simple")
    assert sorted(r["count"] for r in got.collect()) == [142] + [143] * 6
    assert session_cache.shared("counts", spark, ("range",), lambda: raw) is got


def test_other_app_entries_dropped_on_next_miss():
    old, new = _session("app-old"), _session("app-new")
    build = _counting_build()
    first = session_cache.shared("rel", old, ("dir",), build)
    session_cache.shared("other", new, ("dir",), build)  # a miss under another app id
    again = session_cache.shared("rel", old, ("dir",), build)
    assert again is not first and again == [3]
    assert session_cache.shared("rel", old, ("dir",), build) is again


def test_clear_forces_rebuild():
    s = _session("app-1")
    build = _counting_build()
    session_cache.shared("rel", s, ("dir",), build)
    session_cache.clear()
    assert session_cache.shared("rel", s, ("dir",), build) == [2]
