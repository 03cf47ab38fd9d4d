#!/usr/bin/env python3
"""Benchmark harness: runs every registered query once at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "counts": {...}, "sf": ..., "cpus": ..., "spark_version": ..., "git_sha": ...}

Each query is built once under job group ``<name>:build`` and written
once to the noop sink (full execution, no driver collect) under
``<name>:exec``. ``queries`` holds the single-shot wall seconds of
build plus write (-1 on error); ``counts`` holds, per query and phase,
what a local Spark event log records for that group: jobs, stages,
tasks, task CPU ms, shuffle read and write bytes and spill bytes. The
counts, not the wall time, decide whether a query regressed
(BENCH_NOTES.md). One SparkSession is reused — at this scale JVM
startup would otherwise dominate.
"""

from __future__ import annotations

import json
import os
import pathlib
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE / "perfbench"))

from tracing import read_event_log  # noqa: E402  (perfbench/tracing.py)

from direct_kafka_stream_spark import QUERIES, TABLES, get_session, load_table  # noqa: E402
from direct_kafka_stream_spark.caching import clear_materialized  # noqa: E402
from direct_kafka_stream_spark.session import jvm_cpus, session_cores  # noqa: E402

PHASES = ("build", "exec")
WARM_GROUP = "bench:warm"


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_queries(spark, sf_dir: str, queries) -> dict[str, float]:
    """Build each query once under job group ``<name>:build`` and write
    it once under ``<name>:exec``; returns wall seconds per query, -1
    for a query that raised. A failure is reported and the run goes on."""
    sc = spark.sparkContext
    times: dict[str, float] = {}
    for name, q in queries.items():
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{name}:build", name)
            df = q.spark(spark, sf_dir)
            sc.setJobGroup(f"{name}:exec", name)
            materialize(df)
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # a failed query must not end the run
            times[name] = -1.0
            print(f"# BENCH ERROR {name}: {type(e).__name__}: {e}", file=sys.stderr)
        finally:
            clear_materialized()
    sc.setLocalProperty("spark.jobGroup.id", None)
    return times


def query_counts(evlog, names) -> dict[str, dict[str, dict[str, float]]]:
    """Per query and phase, the event-log totals of the jobs run under
    job group ``<name>:<phase>``."""

    def counts(group: str) -> dict[str, float]:
        t = evlog.totals(lambda j: j.group == group)
        return {
            "jobs": t["jobs"],
            "stages": t["stages"],
            "tasks": t["tasks"],
            "cpu_ms": round(t["cpu_s"] * 1e3, 1),
            "shuffle_read_bytes": t["shuffle_read_bytes"],
            "shuffle_write_bytes": t["shuffle_write_bytes"],
            "spill_bytes": t["spill_bytes"],
        }

    return {n: {ph: counts(f"{n}:{ph}") for ph in PHASES} for n in names}


def unattributed_jobs(evlog, names) -> int:
    """Jobs under no query's group and not the warm-up's: a stream's
    micro-batches, which run on the stream's own thread and group."""
    known = {f"{n}:{ph}" for n in names for ph in PHASES} | {WARM_GROUP}
    return evlog.totals(lambda j: j.group not in known)["jobs"]


def git_sha(repo: pathlib.Path) -> str | None:
    """HEAD of ``repo`` when it is the root of a git checkout, else None
    (git would otherwise report an enclosing checkout's HEAD)."""
    if not (repo / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(repo), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def artifact_identity(spark, repo: pathlib.Path) -> dict:
    """What a bench artifact must record to be read against another:
    the session's real task slots, the processor count its JVM sized
    its JIT and GC threads by, the Spark version and the code."""
    return {
        "cpus": session_cores(spark),
        "jvm_cpus": jvm_cpus(spark),
        "spark_version": spark.version,
        "git_sha": git_sha(repo),
    }


def warm_up(spark, sf_dir: str) -> None:
    """Load every fixture table (a table's first load runs a one-task
    parquet schema job), warm the JVM and start the Arrow Python worker
    pool, so that one-time setup does not land on whichever query runs
    first and a query's counts do not depend on the registry order."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("double")
    def _warm(s):
        return s * 1.0

    spark.sparkContext.setJobGroup(WARM_GROUP, WARM_GROUP)
    for t in TABLES:
        load_table(spark, sf_dir, t)
    materialize(QUERIES["q_scan"].spark(spark, sf_dir).limit(1))
    materialize(
        spark.range(0, 1024, 1, int(spark.sparkContext.defaultParallelism))
        .select(_warm(F.col("id").cast("double")).alias("x"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(pathlib.Path(sf_dir).name.replace("sf", "") or 0.1)
    except ValueError:  # non-sf<N> dir name — keep the one-JSON-line contract
        sf = -1.0

    # A local, uncompressed event log of this session only, read back
    # after the session stops (as perfbench/run.py does for --trace 1).
    log_dir = tempfile.mkdtemp(prefix="bench-eventlog-")
    try:
        confs = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={pathlib.Path(log_dir).as_uri()}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"{shlex.join(confs)} {os.environ.get('PYSPARK_SUBMIT_ARGS', 'pyspark-shell')}"
        )
        spark = get_session("bench")
        warm_up(spark, sf_dir)
        times = run_queries(spark, sf_dir, QUERIES)
        identity = artifact_identity(spark, HERE)
        spark.stop()
        evlog = read_event_log(log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)

    payload = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(t for t in times.values() if t >= 0), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        **identity,
        "n_queries": len(times),
        "counts": query_counts(evlog, times),
        "unattributed_jobs": unattributed_jobs(evlog, times),
    }

    # The driver's BENCH_r0N.json keeps only a tail window of
    # `queries`, so the FULL payload also goes to a tracked repo file,
    # named by round (newest CORRECTNESS artifact + 1, i.e. the round
    # being built) and core count. Only the driver's sf (0.1) writes
    # it — a local smoke run must not clobber the tracked artifact.
    if sf == 0.1:
        rounds = [
            int(p.stem.split("_r")[1])
            for p in HERE.glob("CORRECTNESS_r*.json")
            if p.stem.split("_r")[1].isdigit()
        ]
        rnd = (max(rounds) if rounds else 0) + 1
        try:
            (HERE / f"BENCH_FULL_r{rnd:02d}_c{identity['cpus']}.json").write_text(
                json.dumps(payload, indent=1) + "\n"
            )
        except OSError:
            pass  # the artifact write is best-effort; the contract line below is not

    print(json.dumps(payload))


if __name__ == "__main__":
    main()
