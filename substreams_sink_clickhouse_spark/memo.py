"""The engine's one session-scoped cache layer.

Each cache is a named namespace.  ``per_session`` entries key on
``(applicationId, sessionUUID)``, so a ``newSession()`` child never
sees its parent's; ``per_app`` entries key on ``applicationId``.  One
SparkContext runs per process, so an insert drops every other
application's entries.  A namespace holds at most ``MAX_ENTRIES``,
oldest dropped first, and a dropped persisted frame is unpersisted.
"""

from __future__ import annotations

import threading
import weakref
from collections.abc import Callable
from typing import Any

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

#: Entries per namespace; above the registry's 315 entries, so a gate
#: run at one data dir keeps every prepared plan.
MAX_ENTRIES = 1024

_NAMESPACES: dict[str, dict[tuple, Any]] = {}

#: Held to iterate or change a namespace: the benchmark's warm-up
#: builds plans from several threads.
_LOCK = threading.Lock()

#: Session -> (applicationId, sessionUUID), read once: the two py4j
#: reads cost ~1.5 ms per lookup (4-core box).  Weak keys, so no id is
#: ever reused.
_SCOPES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def namespace(name: str) -> dict[tuple, Any]:
    """The live mapping of ``name``; a key popped there is rebuilt."""
    return _NAMESPACES.setdefault(name, {})


def _scope(spark: SparkSession) -> tuple[str, str]:
    if spark not in _SCOPES:
        _SCOPES[spark] = (spark.sparkContext.applicationId, spark._jsparkSession.sessionUUID())
    return _SCOPES[spark]


def per_session(spark: SparkSession, name: str, key: tuple, build: Callable[[], Any]) -> Any:
    """This session's value under ``key``, built on a miss."""
    return _get(name, _scope(spark) + key, build)


def per_app(spark: SparkSession, name: str, key: tuple, build: Callable[[], Any]) -> Any:
    """This application's value under ``key``, built on a miss."""
    return _get(name, _scope(spark)[:1] + key, build)


def put(spark: SparkSession, name: str, key: tuple, value: Any) -> None:
    """Replace this session's entry under ``key``."""
    full = _scope(spark) + key
    with _LOCK:
        entries = namespace(name)
        dropped = [entries.pop(full)] if full in entries else []
        dropped += _insert(entries, full, value)
    _release(v for v in dropped if v is not value)


def clear(name: str) -> None:
    """Drop every entry of ``name``, unpersisting persisted frames."""
    with _LOCK:
        dropped = list(namespace(name).values())
        namespace(name).clear()
    _release(dropped)


def _get(name: str, full: tuple, build: Callable[[], Any]) -> Any:
    entries = namespace(name)
    try:
        return entries[full]
    except KeyError:
        pass
    value = build()  # outside the lock: a build may use other namespaces
    with _LOCK:
        if full in entries:
            # another thread built it first: keep theirs, and leave ours
            # persisted (one plan persisted twice shares one cache entry)
            return entries[full]
        dropped = _insert(entries, full, value)
    _release(dropped)
    return value


def _insert(entries: dict[tuple, Any], full: tuple, value: Any) -> list[Any]:
    stale = [k for k in entries if k[0] != full[0]]
    excess = len(entries) - len(stale) + 1 - MAX_ENTRIES
    stale += [k for k in entries if k[0] == full[0]][: max(excess, 0)]
    entries[full] = value
    return [entries.pop(k) for k in stale]


def _release(values) -> None:
    for value in values:
        if isinstance(value, DataFrame) and value.is_cached:
            try:
                value.unpersist()
            except Py4JError:
                pass  # its context is stopped, and its blocks with it
