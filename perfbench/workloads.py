"""The benchmark's workloads.

``batch_mix``: ten TPC-H queries plus the LLM containment-dedup query,
run as a closed loop with one client over seeded fixture tables, in a
seed-shuffled order. Every query is built through the registry
(``QUERIES[name].spark``), executed by collecting its result to the
client, and checked once per run against its DuckDB oracle, untimed.

``stream_dedup``: the restart-and-catch-up scenario. In set-up, the
pipeline ``file_stream → dedup_streaming → run_foreach_batch`` (Arrow
collect + one parquet file per batch, checkpoint) makes its first run
over a few history files and stops; a backlog then lands while it is
down. The measured run restarts it from the same checkpoint, drains the
backlog, and ingests the files an open-loop generator lands at a fixed
rate. The committed event ids must equal the generated distinct ids
exactly.

A workload object has ``prepare(i)`` / ``warm(spark)`` (one set-up),
``measure(spark, tracer, cpu)`` (``tracer`` is None in untraced runs;
``cpu`` a ``procfs.CpuMeter``), and then reports ``e2e_metrics()`` or
``layer_metrics(tracer, event_log)`` as ``{name: (value, unit)}``.
"""

from __future__ import annotations

import datetime as dt
import os
import pathlib
import random
import shutil
import sys
import threading
import time

import datagen
import stats

# Ten TPC-H shapes: scan-filter-aggregate (1, 6), multi-way joins (3, 5,
# 9), semi/anti joins (4, 21), outer join (13), correlated and IN
# subqueries (17, 18). Each first run in a session pays its own codegen;
# all 22 would not fit the run budget.
TPCH = tuple(f"q_tpch_q{i}" for i in (1, 3, 4, 5, 6, 9, 13, 17, 18, 21))
DEDUP = ("q_containment_dedup",)
SF = 0.002  # TPC-H scale of the generated tables (lineitem 12k rows)
N_DOCS = 500
WARM_QUERY = "q_tpch_q6"

STREAM_INTERVAL_S = 0.25  # one file every 0.25 s ...
STREAM_ROWS_PER_FILE = 1000  # ... = 4,000 rows/s, below saturation
STREAM_HISTORY_FILES = 8  # read by the first run, in set-up
# landed while the pipeline is down, as a 40 s outage at the steady rate
# would: large enough that the catch-up is mostly processing, not the
# fixed cost of one trigger
STREAM_BACKLOG_FILES = 160
STREAM_STEADY_MIN_S = 4.0  # steady ingest after catch-up, at least
STREAM_DRAIN_TIMEOUT_S = 45.0  # slack past --seconds before giving up
STREAM_MAX_LATE_S = 1.0  # generator later than this = run invalid
# a reported tail percentile needs at least this many samples beyond it
MIN_BEYOND = 10

# per-layer metrics every workload reports; a layer the workload does
# not touch reads 0
LAYER_UNITS = {
    "io.load_table.calls": "count",
    "io.load_table.s": "s",
    "io.load_table.hit_frac": "ratio",
    "io.spread_scan.calls": "count",
    "io.spread_scan.repartitioned_frac": "ratio",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "caching.persists": "count",
    "caching.clear_s": "s",
    "caching.freed": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "tasks.cpu_s": "s",
    "tasks.run_s": "s",
    "tasks.gc_s": "s",
    "tasks.shuffle_read_bytes": "bytes",
    "tasks.shuffle_write_bytes": "bytes",
    "tasks.spill_bytes": "bytes",
    "sources.latestOffset_ms": "ms",
    "sources.getBatch_ms": "ms",
    "sources.lag_files": "count",
    "streaming.triggers": "count",
    "streaming.trigger_ms": "ms",
    "streaming.addBatch_ms": "ms",
    "streaming.queryPlanning_ms": "ms",
    "streaming.walCommit_ms": "ms",
    "streaming.commitOffsets_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.sink_batch_ms": "ms",
    "streaming.restart_first_batch_s": "s",
    "streaming.catchup_rows_per_s": "rows/s",
    "streaming.file_latency_mean_s": "s",
    "jvm_peak_rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.span_coverage_min": "ratio",
}


def _layers(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    unknown = set(values) - set(LAYER_UNITS)
    if unknown:
        raise KeyError(f"unregistered layer metrics {sorted(unknown)}")
    return {k: (float(values.get(k, 0.0)), u) for k, u in LAYER_UNITS.items()}


def _task_layers(evlog, keep) -> dict[str, float]:
    t = evlog.totals(keep)
    out = {f"scheduler.{k}": t[k] for k in ("jobs", "stages", "tasks")}
    for k in ("cpu_s", "run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        out[f"tasks.{k}"] = t[k]
    return out


class BatchMix:
    queries = TPCH + DEDUP

    def __init__(self, work: pathlib.Path, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.data = ""
        self.walls: list[tuple[str, float]] = []
        self.passes: list[float] = []
        self.pass_cpus: list[float] = []
        self.attempted = self.failed = 0
        self.mismatches: list[str] = []
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.coverage: list[float] = []
        self.rows: dict[str, int] = {}

    def prepare(self, i: int) -> None:
        d = self.work / f"data{i}"
        self.rows = datagen.write_fixture(str(d), self.seed, SF, N_DOCS)
        self.data = str(d)

    def warm(self, spark) -> None:
        from direct_kafka_stream_spark import QUERIES, caching

        QUERIES[WARM_QUERY].spark(spark, self.data).toPandas()
        caching.clear_materialized()

    def _oracle(self):
        import duckdb

        from direct_kafka_stream_spark import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return con

    def _check(self, con, name: str, pdf) -> bool:
        from check_oracle import normalize

        from direct_kafka_stream_spark import QUERIES

        odf = con.sql(QUERIES[name].oracle).df()
        return (
            sorted(pdf.columns) == sorted(odf.columns)
            and len(pdf) == len(odf)
            and normalize(pdf) == normalize(odf)
        )

    def n_passes(self) -> int:
        # one pass is ~12 s; --seconds buys whole passes
        return max(1, round(self.seconds / 15))

    def measure(self, spark, tracer, cpu) -> None:
        from direct_kafka_stream_spark import QUERIES, caching

        sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "scripts"))
        con = self._oracle()
        sc = spark.sparkContext
        order = list(self.queries)
        random.Random(self.seed).shuffle(order)
        checked: set[str] = set()
        for p in range(self.n_passes()):
            pass_s = pass_cpu_s = 0.0
            for name in order:
                self.attempted += 1
                try:
                    cpu0 = cpu.read()
                    if tracer is None:
                        t0 = time.perf_counter()
                        df = QUERIES[name].spark(spark, self.data)
                        pdf = df.toPandas()
                        wall = time.perf_counter() - t0
                    else:
                        wall, pdf = self._traced_query(spark, sc, tracer, name, p)
                    pass_cpu_s += cpu.read() - cpu0
                    pass_s += wall
                    self.walls.append((name, wall))
                    if name not in checked:
                        checked.add(name)
                        if not self._check(con, name, pdf):
                            self.failed += 1
                            self.mismatches.append(name)
                except Exception as e:  # counted, the run goes on
                    print(f"perfbench: {name} failed: {e!r}"[:2000], file=sys.stderr)
                    self.failed += 1
                    self.mismatches.append(name)
                finally:
                    caching.clear_materialized()
            self.passes.append(pass_s)
            self.pass_cpus.append(pass_cpu_s)

    def _traced_query(self, spark, sc, tracer, name, p):
        from direct_kafka_stream_spark import QUERIES
        from tracing import catalyst_phases

        tracer.op = f"{p}:{name}"
        group = f"pb:{p}:{name}"
        with tracer.span("query"):
            qid = len(tracer.spans) - 1
            t0 = time.perf_counter()
            sc.setJobGroup(f"{group}:build", name)
            with tracer.span("registry.build"):
                df = QUERIES[name].spark(spark, self.data)
            with tracer.span("catalyst"):
                for k, v in catalyst_phases(df).items():
                    self.catalyst[k] += v
            sc.setJobGroup(f"{group}:exec", name)
            with tracer.span("scheduler"):
                pdf = df.toPandas()
            wall = time.perf_counter() - t0
        sc.setJobGroup("pb:idle", "")
        self.coverage.append(stats.child_coverage(tracer.spans, qid))
        return wall, pdf

    def e2e_metrics(self) -> dict[str, tuple[float, str]]:
        return {"pass_cpu_s": (stats.median(self.pass_cpus), "s")}

    def layer_metrics(self, tracer, evlog) -> dict[str, tuple[float, str]]:
        # self-times: build time excludes the io and caching calls inside
        # it, which are reported on their own
        totals = stats.layer_self_totals(tracer.spans)
        c = tracer.counters
        v = {
            "io.load_table.calls": c["load_table.calls"],
            "io.load_table.s": totals.get("io.load_table", 0.0),
            "io.load_table.hit_frac": c["load_table.hits"] / max(1, c["load_table.calls"]),
            "io.spread_scan.calls": c["spread_scan.calls"],
            "io.spread_scan.repartitioned_frac": c["spread_scan.repartitioned"]
            / max(1, c["spread_scan.calls"]),
            "registry.build_s": totals.get("registry.build", 0.0),
            "registry.build_jobs": evlog.totals(lambda j: j.group.endswith(":build"))["jobs"],
            "caching.persists": c["persists"],
            "caching.clear_s": totals.get("caching.clear", 0.0),
            "caching.freed": c["freed"],
            "catalyst.analysis_ms": self.catalyst["analysis"],
            "catalyst.optimization_ms": self.catalyst["optimization"],
            "catalyst.planning_ms": self.catalyst["planning"],
            "trace.pass_s": stats.median(self.passes),
            "trace.span_coverage_min": min(self.coverage, default=0.0),
        }
        v.update(_task_layers(evlog, lambda j: j.group.startswith("pb:") and j.group != "pb:idle"))
        return _layers(v)

    def identity(self) -> dict:
        return {
            "sf": SF,
            "tables_rows": self.rows,
            "queries": list(self.queries),
            "passes": len(self.passes),
            "pass_wall_s": self.passes,
            "pass_cpu_s": self.pass_cpus,
            "latency_samples": len(self.walls),
            "latency_tail": stats.highest_tail([w for _, w in self.walls], MIN_BEYOND),
            "mismatches": self.mismatches,
            "walls": [(n, round(w, 3)) for n, w in self.walls],
        }


class _Sink:
    """The pipeline's foreachBatch function: collects each micro-batch
    (Arrow) and writes it as one parquet file named by batch id, so a
    replayed batch overwrites its own output (idempotent), and records
    which generated files (by their ``ts`` stamp) the batch holds."""

    def __init__(self, out: str, gen: datagen.EventFileGenerator):
        self.out, self.gen = out, gen
        self.files_of_batch: dict[int, dict[int, int]] = {}
        self.sink_ms: list[float] = []
        self.lag: list[tuple[float, int]] = []  # (time, files landed - committed)
        self.lock = threading.Lock()

    def committed_files(self) -> set[int]:
        with self.lock:
            return {f for fs in self.files_of_batch.values() for f in fs}

    def __call__(self, batch_df, batch_id: int) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        now = time.time()
        lag = stats.lag_at(self.gen.landed_at, len(self.committed_files()), now)
        self.lag.append((now, lag))
        table = batch_df.toArrow()
        # one file per batch id: a replayed batch overwrites its own file
        pq.write_table(table, f"{self.out}/batch-{batch_id:06d}.parquet")
        ts = table.column("ts")
        ts = ts.cast(pa.timestamp("us", tz=ts.type.tz)).cast(pa.int64())
        us, counts = np.unique(ts.to_numpy(), return_counts=True)
        files = {self._file_index(int(u)): int(c) for u, c in zip(us, counts)}
        with self.lock:
            self.files_of_batch[batch_id] = files
        self.sink_ms.append((time.perf_counter() - t0) * 1e3)

    def _file_index(self, us: int) -> int:
        return self.gen.file_of_us.get(us, -1)


def _commit_time(progress) -> float:
    """Epoch seconds at which a trigger ended (its batch committed)."""
    start = dt.datetime.strptime(progress.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=dt.timezone.utc).timestamp()
    return start + progress.durationMs.get("triggerExecution", 0) / 1e3


class StreamDedup:
    def __init__(self, work: pathlib.Path, seed: int, seconds: int):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.attempted = self.failed = 0
        self.notes: list[str] = []

    def _dirs(self, tag: str) -> dict[str, str]:
        d = {k: str(self.work / tag / k) for k in ("landing", "staging", "ckpt", "out")}
        shutil.rmtree(self.work / tag, ignore_errors=True)
        for k in ("landing", "staging", "out"):
            os.makedirs(d[k])
        return d

    def _start(self, spark, d: dict, sink: _Sink, available_now: bool):
        from direct_kafka_stream_spark.sources.files import events_schema, file_stream
        from direct_kafka_stream_spark.streaming.pipeline import run_foreach_batch
        from direct_kafka_stream_spark.streaming.transforms import dedup_streaming

        events = file_stream(spark, d["landing"], events_schema())
        return run_foreach_batch(dedup_streaming(events), sink, d["ckpt"], available_now)

    def prepare(self, i: int) -> None:
        self.d = d = self._dirs(f"setup{i}")
        self.gen = datagen.EventFileGenerator(
            d["landing"], d["staging"], self.seed, STREAM_ROWS_PER_FILE, STREAM_INTERVAL_S
        )
        self.sink = _Sink(d["out"], self.gen)
        for k in range(STREAM_HISTORY_FILES):
            self.gen.land(k, time.time())

    def warm(self, spark) -> None:
        """The pipeline's first run, over the history files, then the
        outage: the backlog lands while it is down."""
        q = self._start(spark, self.d, self.sink, True)
        if not q.awaitTermination(STREAM_DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError("first run of the stream did not finish")
        for k in range(STREAM_HISTORY_FILES, STREAM_HISTORY_FILES + STREAM_BACKLOG_FILES):
            self.gen.land(k, time.time())

    def measure(self, spark, tracer, cpu) -> None:
        """Restart from the last set-up's checkpoint, drain the backlog,
        then ingest the open-loop generator's files until ``seconds``."""
        gen, sink = self.gen, self.sink
        self.backlog = set(range(STREAM_HISTORY_FILES, gen.landed))
        self.t_start = t_start = time.time()
        self.deadline = t_start + self.seconds + STREAM_DRAIN_TIMEOUT_S
        gen.start_at(t_start)
        cpu.exclude_thread(gen.native_id)
        q = None
        try:
            cpu0 = cpu.read()
            q = self._start(spark, self.d, sink, False)
            self._wait(lambda: self.backlog <= sink.committed_files())
            self.catchup_cpu_s = cpu.read() - cpu0
            end = max(t_start + self.seconds, time.time() + STREAM_STEADY_MIN_S)
            time.sleep(max(0.0, end - time.time()))
            gen.stop()
            self._wait(lambda: len(sink.committed_files()) >= gen.landed)
            time.sleep(0.5)  # let the last trigger report its progress
            self.progress = list(q.recentProgress)
        finally:
            gen.stop()
            if q is not None:
                q.stop()
        if gen.error:
            raise gen.error
        self._check(self.d["out"])

    def _wait(self, done) -> None:
        """Poll until ``done()``; every wait of the run shares one
        deadline, so a stuck pipeline ends the run (its uncommitted
        files then fail the check) instead of hanging it."""
        while not done() and time.time() < self.deadline:
            time.sleep(0.01)

    def _check(self, out: str) -> None:
        """Committed event ids must be exactly the generated distinct
        ids: none lost, none twice, across the restart."""
        import duckdb
        import numpy as np

        got = duckdb.sql(
            f"SELECT event_id FROM read_parquet('{out}/*.parquet')"
        ).fetchnumpy()["event_id"]
        ids, counts = np.unique(got, return_counts=True)
        count_of = dict(zip(ids.tolist(), counts.tolist()))
        expected = 0
        for new in self.gen.new_ids:
            self.attempted += 1
            expected += len(new)
            if any(count_of.get(int(x)) != 1 for x in new):
                self.failed += 1
        if len(got) != expected:  # rows that belong to no generated file
            self.failed += 1
            self.notes.append(f"{len(got)} rows committed, {expected} expected")

    def _timeline(self):
        """Catch-up time and rows, the restart's first commit, and the
        per-file latencies of the steady phase (files due after the
        backlog was committed)."""
        commits = {p.batchId: _commit_time(p) for p in self.progress}
        batch_of: dict[int, int] = {}
        for b in sorted(self.sink.files_of_batch):
            for f in self.sink.files_of_batch[b]:
                batch_of.setdefault(f, b)
        ends = [commits[batch_of[f]] for f in self.backlog if batch_of.get(f) in commits]
        caught = max(ends, default=self.t_start)
        rows = sum(
            self.sink.files_of_batch[batch_of[f]].get(f, 0) for f in self.backlog if f in batch_of
        )
        first = min(commits.values(), default=self.t_start)
        steady = [
            f for f in range(STREAM_HISTORY_FILES + STREAM_BACKLOG_FILES, self.gen.landed)
            if self.gen.due[f] >= caught
        ]
        lat = stats.file_latencies(self.gen.due, batch_of, commits, steady)
        return caught - self.t_start, rows, first - self.t_start, caught, lat

    def e2e_metrics(self) -> dict[str, tuple[float, str]]:
        catchup_s, _, _, _, _ = self._timeline()
        return {"pass_cpu_s": (self.catchup_cpu_s, "s")}

    def layer_metrics(self, tracer, evlog) -> dict[str, tuple[float, str]]:
        catchup_s, rows, first, caught, lat = self._timeline()
        steady = [p for p in self.progress if p.numInputRows > 0 and _commit_time(p) > caught]

        def med(key):
            xs = [p.durationMs.get(key, 0) for p in steady]
            return stats.median(xs) if xs else 0.0

        ops = [p.stateOperators[0] for p in steady if p.stateOperators]
        lags = [n for t, n in self.sink.lag if t >= caught]
        v = {
            "sources.latestOffset_ms": med("latestOffset"),
            "sources.getBatch_ms": med("getBatch"),
            "sources.lag_files": stats.median(lags) if lags else 0.0,
            "streaming.triggers": len([p for p in self.progress if p.numInputRows > 0]),
            "streaming.trigger_ms": med("triggerExecution"),
            "streaming.addBatch_ms": med("addBatch"),
            "streaming.queryPlanning_ms": med("queryPlanning"),
            "streaming.walCommit_ms": med("walCommit"),
            "streaming.commitOffsets_ms": med("commitOffsets"),
            "streaming.state_rows": max((o.numRowsTotal for o in ops), default=0),
            "streaming.state_mem_bytes": max((o.memoryUsedBytes for o in ops), default=0),
            "streaming.state_commit_ms": stats.median([o.commitTimeMs for o in ops]) if ops else 0.0,
            "streaming.sink_batch_ms": stats.median(self.sink.sink_ms),
            "streaming.restart_first_batch_s": first,
            "streaming.catchup_rows_per_s": rows / max(1e-9, catchup_s),
            "streaming.file_latency_mean_s": stats.mean(lat) if lat else 0.0,
            "trace.pass_s": catchup_s,
        }
        v.update(_task_layers(evlog, lambda j: j.submit_ms >= self.t_start * 1e3))
        return _layers(v)

    def identity(self) -> dict:
        late = self.gen.max_lateness_s(STREAM_HISTORY_FILES + STREAM_BACKLOG_FILES)
        catchup_s, rows, _, _, lat = self._timeline()
        return {
            "files_landed": self.gen.landed,
            "rows_per_file": STREAM_ROWS_PER_FILE,
            "interval_s": STREAM_INTERVAL_S,
            "backlog_files": len(self.backlog),
            "backlog_rows_committed": rows,
            "catchup_wall_s": catchup_s,
            "catchup_cpu_s": self.catchup_cpu_s,
            "latency_samples": len(lat),
            "latency_mean_s": stats.mean(lat) if lat else None,
            "latency_tail": stats.highest_tail(lat, MIN_BEYOND),
            "generator_max_late_s": late,
            "valid": late <= STREAM_MAX_LATE_S,
            "notes": self.notes,
        }


WORKLOADS = {"batch_mix": BatchMix, "stream_dedup": StreamDedup}
