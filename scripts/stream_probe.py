#!/usr/bin/env python3
"""Stream-recovery probes at scale.

Every narrative drives the same stateful stream: the events fixture
staged as N parquet files (``sources.files.stage_events``), streamed
one file per micro-batch into ``event_type_totals`` (groupBy
event_type -> count + exact sum) and drained with availableNow. Each
audit raises on violation; each run prints one JSON line. Results are
tracked in SCALE.md.

restart SFDIR [n_a n_b]
    Graceful stop -> resume. Drain the first n_a files, add the
    remaining n_b, and resume from the same checkpoint (the narrative
    of tests/test_stream_machinery.py::
    test_restarted_stream_ledger_and_state_stay_consistent, over a
    scale-dir fixture). Audits:
      - the offset/commit ledger accepts (``read_stream_ledger``),
        phase-A files are in batches < n_a and phase-B files in
        batches >= n_a, nothing reprocessed;
      - LIVE state == batch aggregate of A ∪ B;
      - state time-traveled to batch n_a - 1 == batch aggregate of A.
    Also reports the JVM's reaped-child CPU per micro-batch: the shell
    commands the checkpoint's file system forks.

kill SFDIR [n_files] [--rocksdb]
    Outage (reference README.md:160-176): a WORKER process (own Python
    driver and JVM, new process group) runs the drain. The parent polls
    the checkpoint and SIGKILLs the worker's process group the moment
    the offset log is ahead of the commit log with >= 1 batch committed
    (a batch genuinely in flight, not the first), snapshots that
    batch's offsets/<N> entry, and resumes from the same checkpoint in
    its own session. Audits:
      - offsets/<N> is byte-identical after the resume: the engine
        replayed the planned batch rather than re-planning it;
      - ``read_stream_ledger`` accepts, the killed batch is committed
        and every staged file is in exactly one batch;
      - LIVE state == batch aggregate, and its counts sum to the input
        rows;
      - the state files are the provider's: .changelog for RocksDB
        with changelog checkpointing (--rocksdb, set in the worker and
        the resuming session), .delta for the default provider.
    A worker that drains before a kill window is caught is discarded
    and the attempt retried with a fresh checkpoint (up to 5, recorded).

state SFDIR [SFDIR...]
    State-store footprint as the input scales, on both providers: wall
    time, micro-batches, state bytes (total and per batch), reaped-child
    CPU per batch, input rows and sink rows. Sink rows must stay
    |event_types| at every scale: state and sink are key-bounded, only
    the scan is row-linear.

worker SRC CKPT [--rocksdb]
    The driver that ``kill`` spawns and kills.
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

_ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))

from pyspark.sql import functions as F

from direct_kafka_stream_spark import get_session
from direct_kafka_stream_spark.caching import session_confs
from direct_kafka_stream_spark.exprs import DEC
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.sources.files import (
    PROVIDER_CONF,
    ROCKSDB_PROVIDER,
    event_type_totals,
    events_schema,
    file_stream,
    stage_events,
)
from direct_kafka_stream_spark.streaming.checkpoint import (
    log_ids,
    read_state,
    read_stream_ledger,
)
from direct_kafka_stream_spark.streaming.pipeline import drain

_ROCKSDB = {PROVIDER_CONF: ROCKSDB_PROVIDER}
_ROCKSDB_CHANGELOG = {
    **_ROCKSDB,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}
_DRAIN_TIMEOUT_S = 1800.0


def _du(path: pathlib.Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _jvm_child_cpu_s(spark) -> float:
    """CPU seconds of the session JVM's reaped children so far
    (``cutime + cstime`` of ``/proc/<jvm>/stat``): the processes Hadoop
    forks, such as ``chmod`` and ``readlink`` on the local file system."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[13]) + int(fields[14])) / os.sysconf("SC_CLK_TCK")


def _drain(spark, src: str, ckpt: str, sink: str | None = None) -> float:
    """Drain the stateful aggregate over ``src`` from ``ckpt`` into the
    noop sink, or into the memory sink named ``sink``; returns wall
    seconds (recovery included when the checkpoint exists)."""
    agg = event_type_totals(
        file_stream(spark, src, events_schema(), max_files_per_trigger=1)
    )
    if sink is None:
        writer = agg.writeStream.format("noop").outputMode("update")
    else:
        writer = agg.writeStream.format("memory").queryName(sink).outputMode("complete")
    t0 = time.perf_counter()
    drain(writer, ckpt, timeout_s=_DRAIN_TIMEOUT_S)
    return round(time.perf_counter() - t0, 2)


def _batch_state(spark, paths: list[str]) -> dict:
    """The aggregate's state computed batch-side over ``paths``, in the
    shape ``read_state`` returns: {event_type: (count, decimal sum)}."""
    return {
        r.event_type: (r.n, r.s)
        for r in spark.read.schema(events_schema())
        .parquet(*paths)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast(DEC)).alias("s"))
        .collect()
    }


def _staged_files(spark, sf_dir: str, n_files: int) -> tuple[str, list[pathlib.Path]]:
    src = stage_events(spark, sf_dir, n_files)
    files = sorted(pathlib.Path(src).glob("part-*.parquet"))
    assert len(files) == n_files, files
    return src, files


# ---------------------------------------------------------------------------
# restart
# ---------------------------------------------------------------------------


def restart(spark, sf_dir: str, n_a: int = 4, n_b: int = 4) -> dict:
    n_rows = load_table(spark, sf_dir, "events").count()
    _, files = _staged_files(spark, sf_dir, n_a + n_b)
    scratch = pathlib.Path(tempfile.mkdtemp(prefix="dks_restartprobe_"))
    try:
        # reveal the staged files to the source in two phases
        src = scratch / "src"
        src.mkdir()
        ckpt = str(scratch / "ckpt")
        for f in files[:n_a]:
            shutil.copy(f, src / f.name)
        child0 = _jvm_child_cpu_s(spark)
        wall_a = _drain(spark, str(src), ckpt)
        for f in files[n_a:]:
            shutil.copy(f, src / f.name)
        wall_resume = _drain(spark, str(src), ckpt)
        child_cpu = _jvm_child_cpu_s(spark) - child0

        # --- audit 1: offset/commit ledger across the restart ---
        ledger = read_stream_ledger(ckpt)
        n_batches = len(ledger["batches"])
        by_file = {p.rsplit("/", 1)[-1]: b for p, b in ledger["files"].items()}
        a_names = {f.name for f in files[:n_a]}
        for fname, batch in by_file.items():
            ok = batch < n_a if fname in a_names else batch >= n_a
            if not ok:
                raise RuntimeError(
                    f"{fname} in batch {batch} crosses the restart boundary"
                )
        if len(by_file) != n_a + n_b:
            raise RuntimeError(f"ledger files {len(by_file)} != {n_a + n_b}")

        # --- audit 2: live state == batch aggregate of A ∪ B ---
        live = read_state(spark, ckpt, "event_type")
        full = _batch_state(spark, [str(src)])
        if live != full:
            raise RuntimeError(f"live state != batch agg: {live} vs {full}")

        # --- audit 3: time-traveled state at the pre-restart batch ---
        at_a = read_state(spark, ckpt, "event_type", batch_id=n_a - 1)
        only_a = _batch_state(spark, [str(src / f.name) for f in files[:n_a]])
        if at_a != only_a:
            raise RuntimeError(
                f"batch {n_a - 1} state != phase-A agg: {at_a} vs {only_a}"
            )

        return {
            "sf_dir": sf_dir,
            "input_rows": n_rows,
            "n_files": [n_a, n_b],
            "n_batches": n_batches,
            "wall_a_s": wall_a,
            "wall_resume_s": wall_resume,
            "child_cpu_s_per_batch": round(child_cpu / max(n_batches, 1), 4),
            "ledger_entries": n_batches,
            "ledger_bytes": _du(pathlib.Path(ckpt) / "offsets")
            + _du(pathlib.Path(ckpt) / "commits"),
            "state_bytes": _du(pathlib.Path(ckpt) / "state"),
            "n_state_keys": len(live),
            "audits": "ledger+live-state+time-travel all green",
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# kill
# ---------------------------------------------------------------------------


def worker(src: str, ckpt: str, rocksdb: bool) -> None:
    """The victim driver: runs the drain until killed. One that
    finishes exits, and the parent retries with a fresh checkpoint."""
    spark = get_session("stream-probe-worker")
    with session_confs(spark, _ROCKSDB_CHANGELOG if rocksdb else {}):
        _drain(spark, src, ckpt)


def _spawn_worker(src: str, ckpt: str, rocksdb: bool) -> subprocess.Popen:
    cmd = [sys.executable, os.path.abspath(__file__), "worker", src, ckpt]
    if rocksdb:
        cmd.append("--rocksdb")
    # new session => new process group, so killpg takes the JVM down
    # with the Python driver — a real outage, no shutdown hooks
    return subprocess.Popen(
        cmd,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        start_new_session=True,
        cwd=str(_ROOT),
    )


def _kill_mid_batch(
    proc: subprocess.Popen, ckpt: str, timeout_s: float
) -> dict | None:
    """Poll the logs; SIGKILL the worker's process group the moment a
    batch is in flight (offsets ahead of commits) with >=1 batch
    already committed. Returns the at-kill snapshot, or None if the
    worker exited (drained) before a window was caught."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if proc.poll() is not None:
            return None
        offs = log_ids(f"{ckpt}/offsets")
        coms = log_ids(f"{ckpt}/commits")
        if offs and coms and offs[-1] > coms[-1]:
            in_flight = offs[-1]
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                return None  # drained and exited between poll and kill
            proc.wait(timeout=30)
            # post-mortem: HDFSMetadataLog writes via temp+rename, so
            # the visible entry is complete; snapshot it for the
            # byte-identical replay audit
            wal = pathlib.Path(ckpt, "offsets", str(in_flight)).read_bytes()
            return {
                "killed_batch": in_flight,
                "n_offsets_at_kill": len(log_ids(f"{ckpt}/offsets")),
                "n_commits_at_kill": len(log_ids(f"{ckpt}/commits")),
                "wal_bytes": wal,
            }
        time.sleep(0.002)
    os.killpg(proc.pid, signal.SIGKILL)
    proc.wait(timeout=30)
    raise TimeoutError(f"worker neither drained nor opened a window in {timeout_s}s")


def kill(
    spark, sf_dir: str, n_files: int = 8, rocksdb: bool = False, attempts: int = 5
) -> dict:
    n_rows = load_table(spark, sf_dir, "events").count()
    src, _ = _staged_files(spark, sf_dir, n_files)
    scratch = pathlib.Path(tempfile.mkdtemp(prefix="dks_killprobe_"))
    try:
        snap = None
        for attempt in range(1, attempts + 1):
            ckpt = str(scratch / f"ckpt{attempt}")
            t0 = time.perf_counter()
            snap = _kill_mid_batch(_spawn_worker(src, ckpt, rocksdb), ckpt, 600.0)
            wall_kill = round(time.perf_counter() - t0, 2)
            if snap is not None:
                break
        if snap is None:
            raise RuntimeError(
                f"worker drained before any kill window in {attempts} attempts"
            )
        # resume from the same checkpoint in THIS (fresh) driver
        with session_confs(spark, _ROCKSDB_CHANGELOG if rocksdb else {}):
            wall_resume = _drain(spark, src, ckpt)
            live = read_state(spark, ckpt, "event_type")

        # --- audit 1: the killed batch was REPLAYED, not re-planned ---
        killed = snap["killed_batch"]
        if pathlib.Path(ckpt, "offsets", str(killed)).read_bytes() != snap["wal_bytes"]:
            raise RuntimeError(f"offsets/{killed} rewritten across the restart")

        # --- audit 2: full exactly-once ledger ---
        ledger = read_stream_ledger(ckpt)
        if killed not in ledger["commits"]:
            raise RuntimeError(f"killed batch {killed} never committed")
        if len(ledger["files"]) != n_files:
            raise RuntimeError(
                f"ledger maps {len(ledger['files'])} files, staged {n_files}"
            )

        # --- audit 3: live state == batch aggregate, full recount ---
        batch = _batch_state(spark, [src])
        if live != batch:
            raise RuntimeError(f"live state != batch agg: {live} vs {batch}")
        if sum(n for n, _ in live.values()) != n_rows:
            raise RuntimeError("state recount != input rows")

        # --- audit 4: the requested provider actually held the state ---
        # Without it the --rocksdb claim would rest on a session conf
        # nobody verified.
        exts = {
            p.suffix
            for p in pathlib.Path(ckpt, "state").rglob("*")
            if p.is_file() and p.suffix in (".delta", ".changelog")
        }
        want, reject = (".changelog", ".delta") if rocksdb else (".delta", ".changelog")
        if want not in exts or reject in exts:
            raise RuntimeError(
                f"state layout {sorted(exts)} does not match provider "
                f"{'rocksdb' if rocksdb else 'default'}"
            )

        return {
            "sf_dir": sf_dir,
            "input_rows": n_rows,
            "n_files": n_files,
            "provider": "rocksdb+changelog" if rocksdb else "hdfs(default)",
            "attempts": attempt,
            "killed_batch": killed,
            "n_offsets_at_kill": snap["n_offsets_at_kill"],
            "n_commits_at_kill": snap["n_commits_at_kill"],
            "n_batches": len(ledger["batches"]),
            "wall_to_kill_s": wall_kill,
            "wall_resume_s": wall_resume,
            "state_bytes": _du(pathlib.Path(ckpt) / "state"),
            "n_state_keys": len(live),
            "audits": "wal-replay+ledger+live-state+recount+provider-layout all green",
        }
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# ---------------------------------------------------------------------------
# state
# ---------------------------------------------------------------------------


def state(spark, sf_dir: str, provider: str, n_files: int = 4) -> dict:
    n_rows = load_table(spark, sf_dir, "events").count()
    src, _ = _staged_files(spark, sf_dir, n_files)
    scratch = pathlib.Path(tempfile.mkdtemp(prefix="dks_stateprobe_"))
    name = f"stateprobe_{uuid.uuid4().hex[:10]}"
    ckpt = scratch / "ckpt"
    try:
        child0 = _jvm_child_cpu_s(spark)
        with session_confs(spark, _ROCKSDB if provider == "rocksdb" else {}):
            wall = _drain(spark, src, str(ckpt), sink=name)
        child_cpu = _jvm_child_cpu_s(spark) - child0
        sink_rows = spark.table(name).count()
        n_batches = len(log_ids(str(ckpt / "offsets")))
        state_bytes = _du(ckpt / "state")
        return {
            "sf_dir": sf_dir,
            "provider": provider,
            "input_rows": n_rows,
            "n_batches": n_batches,
            "wall_s": wall,
            "state_bytes": state_bytes,
            "state_bytes_per_batch": round(state_bytes / max(n_batches, 1)),
            "child_cpu_s_per_batch": round(child_cpu / max(n_batches, 1), 4),
            "sink_rows": sink_rows,
        }
    finally:
        spark.catalog.dropTempView(name)
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    ap = argparse.ArgumentParser(description="stream-recovery probes")
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("restart", help="graceful stop -> resume")
    p.add_argument("sf_dir")
    p.add_argument("n_a", type=int, nargs="?", default=4)
    p.add_argument("n_b", type=int, nargs="?", default=4)
    p = sub.add_parser("kill", help="SIGKILL mid-batch -> resume")
    p.add_argument("sf_dir")
    p.add_argument("n_files", type=int, nargs="?", default=8)
    p.add_argument("--rocksdb", action="store_true")
    p = sub.add_parser("state", help="state-store footprint on both providers")
    p.add_argument("sf_dirs", nargs="+")
    p = sub.add_parser("worker", help="the driver kill spawns (internal)")
    p.add_argument("src")
    p.add_argument("ckpt")
    p.add_argument("--rocksdb", action="store_true")
    args = ap.parse_args()

    if args.cmd == "worker":
        worker(args.src, args.ckpt, args.rocksdb)
        return
    spark = get_session(f"stream-probe-{args.cmd}")
    if args.cmd == "restart":
        rows = [restart(spark, args.sf_dir, args.n_a, args.n_b)]
    elif args.cmd == "kill":
        rows = [kill(spark, args.sf_dir, args.n_files, rocksdb=args.rocksdb)]
    else:
        rows = (
            state(spark, d, provider)
            for d in args.sf_dirs
            for provider in ("hdfs", "rocksdb")
        )
    for row in rows:
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
