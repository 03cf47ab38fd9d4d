"""Query scopes: what a registered query leaves on its session, and
when it is released.

A query's build may persist intermediates (``track``) and, under the
scale flag, overwrite session confs (its ``scale_confs``). Both must
outlive the query callable: its DataFrame is lazy, the caller collects
after it returns, and AQE/broadcast confs are read at execution time.

So each thread has at most one open scope. The registry wrapper opens
it when a query starts (``open_scope``); it closes when the next
registered query starts on the same thread, or when that thread calls
``clear_materialized()``. Closing unpersists what the query tracked and
restores the conf values it overwrote. Threads never close each
other's scopes, so several threads may run queries on one session.
A thread that does not go on to another query (a service worker, a
foreachBatch callback) calls ``clear_materialized()`` once the result
is consumed.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class _Scope:
    frames: list[DataFrame] = field(default_factory=list)
    spark: SparkSession | None = None
    saved: dict[str, str | None] = field(default_factory=dict)


# thread id -> that thread's open scope
_LIVE: dict[int, _Scope] = {}


def track(df: DataFrame) -> DataFrame:
    """Record an already-persisted DataFrame in this thread's scope."""
    _LIVE.setdefault(threading.get_ident(), _Scope()).frames.append(df)
    return df


def open_scope(spark: SparkSession, confs: dict[str, str]) -> None:
    """Close this thread's scope and open a new one that sets ``confs``
    on ``spark``. Closing sets each key back to what
    ``spark.conf.get(k, None)`` read here: a key that read as None was
    never set and is unset again, which leaves its default in force."""
    clear_materialized()
    saved = {k: spark.conf.get(k, None) for k in confs}
    _LIVE[threading.get_ident()] = _Scope(spark=spark, saved=saved)
    for k, v in confs.items():
        spark.conf.set(k, v)


def clear_materialized() -> int:
    """Close this thread's scope; returns how many tracked frames were
    unpersisted. Errors from a stopped session are swallowed."""
    scope = _LIVE.pop(threading.get_ident(), None)
    if scope is None:
        return 0
    n = 0
    for df in scope.frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    for k, v in scope.saved.items():
        try:
            if v is None:
                scope.spark.conf.unset(k)
            else:
                scope.spark.conf.set(k, v)
        except Exception:
            pass
    return n
