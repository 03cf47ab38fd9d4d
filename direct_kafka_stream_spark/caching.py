"""Query scopes: everything a registered query leaves behind, and when
it is released.

A query's build may leave state that must outlive the query callable:
its DataFrame is lazy, the caller collects after it returns, and
AQE/broadcast confs are read at execution time. The scope owns it all:

- frames it persisted or local-checkpointed (``track``);
- directories it wrote to (``scratch_dir``);
- anything else it registers a close action for (``on_close``), such
  as catalog tables;
- under the scale flag, the session confs it overwrote (``open_scope``).

Each thread has at most one open scope. The registry wrapper opens it
when a query starts (``open_scope``); it closes when the next
registered query starts on the same thread, or when that thread calls
``clear_materialized()``. Closing runs the scope's close actions in
reverse order of acquisition. Threads never close each other's scopes,
so several threads may run queries on one session. A thread that does
not go on to another query (a service worker, a foreachBatch callback)
calls ``clear_materialized()`` once the result is consumed.

Scratch directories live under ``/tmp/dks_spark_scratch/<pid>``, which
nothing sweeps while that process lives; the first ``scratch_root()``
call in a process removes the roots that dead processes left behind.
"""

from __future__ import annotations

import contextlib
import functools
import os
import pathlib
import shutil
import threading
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_SCRATCH = pathlib.Path("/tmp/dks_spark_scratch")


@dataclass
class _Scope:
    """A thread's open scope. Its close actions run last-in first-out;
    each carries the tracked frame it releases, or None."""

    actions: list[tuple[Callable[[], object], DataFrame | None]] = field(
        default_factory=list
    )

    @property
    def frames(self) -> list[DataFrame]:
        return [df for _, df in self.actions if df is not None]


# thread id -> that thread's open scope
_LIVE: dict[int, _Scope] = {}


def _push(fn: Callable[[], object], df: DataFrame | None = None) -> None:
    _LIVE.setdefault(threading.get_ident(), _Scope()).actions.append((fn, df))


def on_close(fn: Callable[[], object]) -> None:
    """Run ``fn`` when this thread's scope closes."""
    _push(fn)


def _release(df: DataFrame) -> None:
    df.unpersist()
    try:
        # unpersist() leaves a local checkpoint's RDD pinned (its plan is
        # a LogicalRDD over it); RDD.unpersist would also log a WARN
        rdd = df._jdf.queryExecution().logical().rdd()
        rdd.sparkContext().unpersistRDD(rdd.id(), False)
    except Exception:
        pass  # not a local checkpoint, or no JVM (Spark Connect)


def track(df: DataFrame) -> DataFrame:
    """Record an already-persisted or local-checkpointed DataFrame in
    this thread's scope."""
    _push(functools.partial(_release, df), df)
    return df


@functools.cache
def _sweep_dead_roots(base: pathlib.Path) -> None:
    """Remove the ``<pid>`` roots under ``base`` whose process is dead;
    cached, so it runs once per process. Other entries are left alone."""
    try:
        roots = [p for p in base.iterdir() if p.name.isdigit()]
    except OSError:
        return
    for p in roots:
        try:
            os.kill(int(p.name), 0)
        except ProcessLookupError:
            shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # alive, but not ours (EPERM)


def scratch_root() -> pathlib.Path:
    """This process's scratch root."""
    _sweep_dead_roots(_SCRATCH)
    return _SCRATCH / str(os.getpid())


def scratch_dir(tag: str) -> str:
    """A fresh directory under this process's scratch root, removed
    when this thread's scope closes."""
    path = scratch_root() / f"{tag}_{uuid.uuid4().hex[:12]}"
    path.mkdir(parents=True)
    on_close(functools.partial(shutil.rmtree, path, ignore_errors=True))
    return str(path)


def _set_confs(
    spark: SparkSession, confs: dict[str, str]
) -> list[Callable[[], object]]:
    """Set ``confs`` on ``spark``; return the actions that set each key
    back to what ``spark.conf.get(k, None)`` read here. A key that read
    as None was never set and is unset again, which leaves its default
    in force."""
    undo = []
    for k, v in confs.items():
        old = spark.conf.get(k, None)
        if old is None:
            undo.append(functools.partial(spark.conf.unset, k))
        else:
            undo.append(functools.partial(spark.conf.set, k, old))
        spark.conf.set(k, v)
    return undo


def open_scope(spark: SparkSession, confs: dict[str, str]) -> None:
    """Close this thread's scope and open a new one that sets ``confs``
    on ``spark`` until it closes."""
    clear_materialized()
    for fn in _set_confs(spark, confs):
        on_close(fn)


@contextlib.contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the ``with`` block only."""
    undo = _set_confs(spark, confs)
    try:
        yield
    finally:
        for fn in reversed(undo):
            fn()


def clear_materialized() -> int:
    """Close this thread's scope; returns how many tracked frames were
    released. Errors from a stopped session are swallowed."""
    freed = 0
    for fn, df in reversed(_LIVE.pop(threading.get_ident(), _Scope()).actions):
        try:
            fn()
        except Exception:
            continue
        freed += df is not None
    return freed
