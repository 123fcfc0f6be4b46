"""The one registry of the engine's build-once, serve-many relations.

A relation that several queries consume (the verified near-dup pairs, the
ANN indexes, the BPE merge table, ...) is built once per session and
parameters and served from here. A DataFrame is eagerly localCheckpointed,
so every consumer (and every side of a self-join) reads materialized rows
instead of re-running the lineage; any other value (a count, a centroid
list, a merge table) is stored as it is.

Entries key on spark.app.id: a stopped session's entries can never be hit
again, so the first miss under another app id drops them. Their checkpoint
blocks are left to Spark's ContextCleaner. An entry goes stale if the data
behind its key changes within one session; a caller that does that (tests)
calls clear().
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ENTRIES: dict[tuple, object] = {}


def shared(name: str, spark, key: tuple, build):
    """build() once per (session, name, *key); later calls return the same
    object."""
    app = spark.conf.get("spark.app.id", "?")
    k = (app, name, *key)
    if k not in _ENTRIES:
        for old in [o for o in _ENTRIES if o[0] != app]:
            del _ENTRIES[old]
        value = build()
        if isinstance(value, DataFrame):
            value = value.localCheckpoint(eager=True)
        _ENTRIES[k] = value
    return _ENTRIES[k]


def clear() -> None:
    """Drop every entry, so the next shared() call rebuilds."""
    _ENTRIES.clear()
