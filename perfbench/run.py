#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch_mix,stream_dedup} \\
        --seed N --seconds S --trace {0,1}

Runs one workload against the package in this checkout, checks its
outputs, and prints as the last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it is the run's identity stamp (versions, parallelism,
seed, source hash, generator lateness, ...).

Everything the run writes (inputs, Spark local dirs, checkpoints, the
event log, JVM temp files) lives under a fresh ``.perfbench_work/``
directory of the checkout and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pathlib
import platform
import shlex
import shutil
import subprocess
import sys
import time
import traceback

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = ROOT / "direct_kafka_stream_spark"
ORACLE_SCRIPT = ROOT / "scripts" / "check_oracle.py"

# two task slots: the fixture-sized inputs do not need more, and a run
# that leaves cores free is steadier on a machine shared with other work
CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"
# set-ups per run; setup_s is the median of their CPU seconds (see
# procfs.py for why CPU, not wall, time)
SETUPS = 3


def _isolate(work: pathlib.Path, traced: bool) -> None:
    """Point every writer (Spark, the JVM, Python temp files) inside
    ``work`` and pin the session shape."""
    for sub in ("tmp", "spark-local", "warehouse", "eventlog"):
        (work / sub).mkdir(parents=True)
    for var in ("SPARK_GRAFT_SCALE", "SPARK_GRAFT_UI", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        SPARK_GRAFT_WAREHOUSE=str(work / "warehouse"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    submit = []
    if traced:
        submit = [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={(work / 'eventlog').as_uri()}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _source_sha() -> str:
    h = hashlib.sha256()
    for p in sorted(PKG.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():  # git would search the parent dirs
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def _stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not PKG.is_dir() or not ORACLE_SCRIPT.is_file():
        print(f"perfbench: package or oracle script missing under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    traced = bool(args.trace)
    spark = None
    try:
        _isolate(work, traced)
        from pyspark import SparkContext

        import procfs
        from direct_kafka_stream_spark import caching, get_session
        from tracing import Tracer, read_event_log

        _log("imported")
        def cpu_meter():
            gw = SparkContext._gateway
            return procfs.CpuMeter(gw.proc.pid if gw else None)

        wl = workloads.WORKLOADS[args.workload](work, args.seed, args.seconds)
        setup_cpu_s, setup_wall_s, session_s = [], [], []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            c0, t0 = cpu_meter().read(), time.perf_counter()
            wl.prepare(i)
            t1 = time.perf_counter()
            spark = get_session("perfbench")
            t2 = time.perf_counter()
            wl.warm(spark)
            setup_wall_s.append(time.perf_counter() - t0)
            setup_cpu_s.append(cpu_meter().read() - c0)
            session_s.append(t2 - t1)

        _log(f"set-ups {[round(x, 2) for x in setup_wall_s]} s")
        tracer = Tracer() if traced else None
        if tracer:
            tracer.install()
        try:
            wl.measure(spark, tracer, cpu_meter())
        finally:
            if tracer:
                tracer.uninstall()

        _log("measured")
        # isolation: nothing of the run may stay pinned
        leaked = len(caching._LIVE) + spark.sparkContext._jsc.getPersistentRDDs().size()
        jvm_pid = SparkContext._gateway.proc.pid
        rss_mb = procfs.peak_rss_mb(jvm_pid)
        identity = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "traced": traced,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "git_sha": _git_sha(),
            "source_sha": _source_sha(),
            "leaked_persists": leaked,
            "setup_wall_s": setup_wall_s,
            "setup_cpu_s": setup_cpu_s,
        }
        _stop_jvm(spark)
        spark = None

        _log("stopped")
        evlog = read_event_log(str(work / "eventlog")) if traced else None
        identity.update(wl.identity())
        failed = wl.failed + (1 if leaked else 0)
        attempted = wl.attempted + 1  # the leak check
        if traced:
            metrics = wl.layer_metrics(tracer, evlog)
            metrics["session.get_session_s"] = (stats.median(session_s), "s")
            metrics["jvm_peak_rss_mb"] = (rss_mb, "MB")
        else:
            metrics = wl.e2e_metrics()
            metrics["setup_s"] = (stats.median(setup_cpu_s), "s")
        identity["failed_frac"] = failed / attempted
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop_jvm(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass
    print(json.dumps({"identity": identity}, sort_keys=True))
    print(json.dumps(result))
    return 0


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
