"""Session artifacts: everything the catalog and restore paths build once per
SparkSession and reuse — prepared query plans, pinned tables and metadata
frames, gram and band tables, ANN indexes, registered temp views, the
bucketed-layout manifest and footer-derived gate decisions.

Entries are keyed on (applicationId, kind, key).  A SparkContext stopped
and restarted in the same process gets a new applicationId; the first
access from it drops every entry of the old one, whose storage died with
its context, so nothing is unpersisted through it.

Staleness contract: there is NO file-modification check.  Parquet under a
queried sf_dir is treated as immutable for the session's lifetime (true for
the testdata tiers and for any versioned layout, where rewrites land in new
directories).  A writer that rewrites files under a queried path in place
calls ``release(spark)`` afterwards; that drops every entry the session
built, so each artifact, and every plan built on one, is rebuilt from the
new files on next use.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# Per-kind entry caps; oldest-inserted entries are evicted (and unpersisted)
# first.  They guard long-lived sessions that touch many sf_dirs; an evicted
# entry costs a rebuild, never a wrong result.
# - plan: ~90 queries × a handful of sf_dirs.
# - meta: ~8 metadata kinds + the records pin + up to 10 hot-table pins per
#   sf_dir, so ~6 concurrently-hot sf_dirs; each pin is under the 256 MB
#   hot-table gate.
# - gram: the gram arrays and the sized band table per sf_dir.
# - ann: two ANN index tags per sf_dir.
_CAPS = {"plan": 1024, "meta": 128, "gram": 8, "ann": 8}

# applicationId → {(kind, key): value}.  Holds at most the one live
# application: a process runs one SparkContext at a time.
_SESSIONS: dict[str, dict[tuple[str, Hashable], Any]] = {}


def _entries(spark: SparkSession) -> dict[tuple[str, Hashable], Any]:
    app = spark.sparkContext.applicationId
    if app not in _SESSIONS:
        _SESSIONS.clear()  # entries of stopped contexts
        _SESSIONS[app] = {}
    return _SESSIONS[app]


def _held(value: Any) -> tuple:
    return tuple(value.values()) if isinstance(value, dict) else (value,)


def _drop(spark: SparkSession | None, store: dict, slots: list) -> None:
    """Pop ``slots`` and free what they held: unpersist each DataFrame (the
    value itself, or the values of a dict entry such as an ANN index) that
    no remaining entry still holds — a query plan can be a pinned frame
    itself — and drop the registered temp view of a ``view`` entry."""
    gone = [(slot, store.pop(slot)) for slot in slots]
    kept = {id(v) for value in store.values() for v in _held(value)}
    for (kind, key), value in gone:
        for v in _held(value):
            if isinstance(v, DataFrame) and v.is_cached and id(v) not in kept:
                try:
                    v.unpersist()
                except Exception:
                    pass  # context already stopped; nothing left to free
        if kind == "view" and spark is not None:
            try:
                spark.catalog.dropTempView(key)
            except Exception:
                pass  # session stopping concurrently; nothing to drop


def get_or_build(
    spark: SparkSession, kind: str, key: Hashable, build: Callable[[], Any]
) -> Any:
    """The session's ``(kind, key)`` entry, built by ``build()`` on first
    use.  A build that raises stores nothing."""
    store = _entries(spark)
    slot = (kind, key)
    if slot not in store:
        cap = _CAPS.get(kind)
        if cap is not None:
            same = [s for s in store if s[0] == kind]
            _drop(spark, store, same[: max(0, len(same) - cap + 1)])
        store[slot] = build()
    return store[slot]


def entries(spark: SparkSession, kind: str) -> dict[Hashable, Any]:
    """Snapshot of the session's ``kind`` entries, key → value, oldest
    first.  Reading builds nothing."""
    return {k: v for (kd, k), v in _entries(spark).items() if kd == kind}


def release(
    spark: SparkSession | None = None, kind: str | None = None, key: Hashable = None
) -> None:
    """Drop and free the session's entries (every session's when ``spark``
    is None), narrowed to one ``kind`` and, with it, one ``key``."""
    if spark is None:
        sessions = list(_SESSIONS.values())
    else:
        sessions = [_entries(spark)]
    for store in sessions:
        _drop(spark, store, [
            s for s in store
            if (kind is None or s[0] == kind) and (key is None or s[1] == key)
        ])
