"""Tracing for ``--trace 1`` runs: spans around the calls into each
layer of the package, plus Spark's own counters.

* ``Tracer`` records spans (name, start, end, parent, op id) in memory.
* ``Tracer.install`` rebinds the package's public ``io.load_table``,
  ``io.spread_scan``, ``caching.track`` and ``caching.clear_materialized``
  in every module of the package that imported them by name, so calls
  made from inside operators are seen too. ``uninstall`` restores them.
* ``catalyst_phases`` reads ``QueryExecution.tracker()`` phase times.
* ``read_event_log`` parses the local Spark event log after the run for
  job, stage and task counters (CPU, GC, shuffle, spill).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import sys
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from stats import Span

PKG = "direct_kafka_stream_spark"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.counters: dict[str, float] = {
            "load_table.calls": 0,
            "load_table.hits": 0,
            "spread_scan.calls": 0,
            "spread_scan.repartitioned": 0,
            "persists": 0,
            "freed": 0,
        }
        self._last_df: dict[tuple, object] = {}
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s = self.spans[sid]
            self.spans[sid] = Span(s.id, s.name, s.start, time.perf_counter(), s.parent, s.op)

    # -- wrappers ----------------------------------------------------------

    def _wrap_load_table(self, orig: Callable) -> Callable:
        def load_table(spark, sf_dir, name):
            with self.span("io.load_table"):
                df = orig(spark, sf_dir, name)
            key = (sf_dir, name)
            self.counters["load_table.calls"] += 1
            if self._last_df.get(key) is df:
                self.counters["load_table.hits"] += 1
            self._last_df[key] = df
            return df

        return load_table

    def _wrap_spread_scan(self, orig: Callable) -> Callable:
        def spread_scan(df, key):
            with self.span("io.spread_scan"):
                out = orig(df, key)
            self.counters["spread_scan.calls"] += 1
            if out is not df:
                self.counters["spread_scan.repartitioned"] += 1
            return out

        return spread_scan

    def _wrap_track(self, orig: Callable) -> Callable:
        def track(df):
            self.counters["persists"] += 1
            return orig(df)

        return track

    def _wrap_clear(self, orig: Callable) -> Callable:
        def clear_materialized():
            with self.span("caching.clear"):
                n = orig()
            self.counters["freed"] += n
            return n

        return clear_materialized

    def install(self) -> None:
        from direct_kafka_stream_spark import caching, io

        targets = [
            (io.load_table, self._wrap_load_table),
            (io.spread_scan, self._wrap_spread_scan),
            (caching.track, self._wrap_track),
            (caching.clear_materialized, self._wrap_clear),
        ]
        mods = [m for n, m in list(sys.modules.items()) if n.split(".")[0] == PKG and m]
        for orig, make in targets:
            wrapper = make(orig)
            for mod in mods:
                for attr, val in list(vars(mod).items()):
                    if val is orig:
                        setattr(mod, attr, wrapper)
                        self._restore.append((mod, attr, orig))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._restore):
            setattr(mod, attr, orig)
        self._restore.clear()


def catalyst_phases(df) -> dict[str, float]:
    """Force the DataFrame's physical plan and return the analysis,
    optimization and planning times (ms) its QueryExecution tracked."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


@dataclass
class JobRecord:
    job_id: int
    group: str
    submit_ms: int
    stages: set[int] = field(default_factory=set)


@dataclass
class EventLog:
    jobs: list[JobRecord]
    stages_run: set[int]
    tasks_by_stage: dict[int, list[dict]]

    def totals(self, keep: Callable[[JobRecord], bool]) -> dict[str, float]:
        jobs = [j for j in self.jobs if keep(j)]
        stages = set().union(*(j.stages for j in jobs)) & self.stages_run
        tasks = [t for s in stages for t in self.tasks_by_stage.get(s, ())]
        out = {"jobs": len(jobs), "stages": len(stages), "tasks": len(tasks)}
        out.update(
            cpu_s=sum(t.get("Executor CPU Time", 0) for t in tasks) / 1e9,
            run_s=sum(t.get("Executor Run Time", 0) for t in tasks) / 1e3,
            gc_s=sum(t.get("JVM GC Time", 0) for t in tasks) / 1e3,
            shuffle_read_bytes=sum(
                t.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                + t.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
                for t in tasks
            ),
            shuffle_write_bytes=sum(
                t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                for t in tasks
            ),
            spill_bytes=sum(
                t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0)
                for t in tasks
            ),
        )
        return out


def read_event_log(log_dir: str) -> EventLog:
    """Parse the newest (uncompressed) event log under ``log_dir``: the
    measured session's. Job and stage ids restart with every
    SparkContext, so logs of earlier set-ups are not mixed in."""
    jobs: list[JobRecord] = []
    stages_run: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(f"{log_dir}/*"), key=os.path.getmtime)[-1:]:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        JobRecord(
                            ev["Job ID"],
                            props.get("spark.jobGroup.id") or "",
                            ev.get("Submission Time", 0),
                            set(ev.get("Stage IDs", [])),
                        )
                    )
                elif kind == "SparkListenerStageSubmitted":
                    stages_run.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
    return EventLog(jobs, stages_run, tasks)
