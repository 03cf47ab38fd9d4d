#!/usr/bin/env python3
"""Benchmark harness: runs every registered query once at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "counts": {...}, "sf": ..., "cpus": ..., "spark_version": ..., "git_sha": ...}

Each query is built once under job group ``<name>:build`` and executed
once (full execution, no driver collect; ``plans.inspect.execute``)
under ``<name>:exec``. ``queries`` holds the single-shot wall seconds
of build plus execution (-1 on error); ``counts`` holds, per query and
phase, what Spark's status store records for that group
(``plans.inspect.group_counts``): jobs, stages, tasks, task CPU ms,
shuffle read and write bytes and spill bytes. The counts, not the wall
time, decide whether a query regressed (BENCH_NOTES.md). One
SparkSession is reused — at this scale JVM startup would otherwise
dominate.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from direct_kafka_stream_spark import QUERIES, TABLES, get_session, load_table  # noqa: E402
from direct_kafka_stream_spark.caching import clear_materialized  # noqa: E402
from direct_kafka_stream_spark.plans.inspect import execute, group_counts  # noqa: E402
from direct_kafka_stream_spark.session import jvm_cpus, session_cores  # noqa: E402

PHASES = ("build", "exec")
WARM_GROUP = "bench:warm"


def run_queries(spark, sf_dir: str, queries) -> tuple[dict, dict, int]:
    """Build each query once under job group ``<name>:build`` and
    execute it once under ``<name>:exec``. Returns wall seconds per
    query (-1 for a query that raised), its counts per phase, and the
    jobs that ran under no query's group since the warm-up began. A
    failure is reported and the run goes on."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    job_ids = list(tracker.getJobIdsForGroup(WARM_GROUP))
    times: dict[str, float] = {}
    counts: dict[str, dict[str, dict[str, float]]] = {}
    for name, q in queries.items():
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{name}:build", name)
            df = q.spark(spark, sf_dir)
            sc.setJobGroup(f"{name}:exec", name)
            execute(df)
            times[name] = round(time.perf_counter() - t0, 3)
        except Exception as e:  # a failed query must not end the run
            times[name] = -1.0
            print(f"# BENCH ERROR {name}: {type(e).__name__}: {e}", file=sys.stderr)
        finally:
            clear_materialized()
        # read now: the status store keeps only the newest 1,000 jobs
        counts[name] = {ph: group_counts(spark, f"{name}:{ph}") for ph in PHASES}
        job_ids += [j for ph in PHASES for j in tracker.getJobIdsForGroup(f"{name}:{ph}")]
    sc.setLocalProperty("spark.jobGroup.id", None)
    return times, counts, unattributed_jobs(job_ids)


def unattributed_jobs(job_ids) -> int:
    """Jobs under no query's group and not the warm-up's: a stream's
    micro-batches, which run on the stream's own thread and group. Job
    ids are dense per SparkContext, so these are the gaps in the span
    of the known groups' ids."""
    return max(job_ids, default=-1) - min(job_ids, default=0) + 1 - len(job_ids)


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
    execute(QUERIES["q_scan"].spark(spark, sf_dir).limit(1))
    execute(
        spark.range(0, 1024, 1, int(spark.sparkContext.defaultParallelism))
        .select(_warm(F.col("id").cast("double")).alias("x"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(pathlib.Path(sf_dir).name.replace("sf", "") or 0.1)
    except ValueError:  # non-sf<N> dir name — keep the one-JSON-line contract
        sf = -1.0

    spark = get_session("bench")
    warm_up(spark, sf_dir)
    times, counts, unattributed = run_queries(spark, sf_dir, QUERIES)
    identity = artifact_identity(spark, HERE)
    spark.stop()

    payload = {
        "metric": "total_query_wall_seconds",
        "value": round(sum(t for t in times.values() if t >= 0), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        **identity,
        "n_queries": len(times),
        "counts": counts,
        "unattributed_jobs": unattributed,
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
