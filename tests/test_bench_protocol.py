"""Unit tests for bench.py's one-pass protocol: each query is built and
written once under its own job groups, and the local event log's jobs
are attributed to queries by those groups. Driven with fakes and a
synthetic event log, so no SparkSession is involved."""

from __future__ import annotations

import pathlib
import sys
from types import SimpleNamespace

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import bench
from bench import artifact_identity, query_counts, unattributed_jobs
from tracing import EventLog, JobRecord  # perfbench/tracing.py, on the path via bench

_SRC = (pathlib.Path(__file__).resolve().parent.parent / "bench.py").read_text()


class _Context:
    """SparkContext stand-in that records the job group in force."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value


def _run(monkeypatch, failing=()):
    """run_queries over three fake queries: (times, [(query, group) per
    build], [(query, group) per write])."""
    spark = SimpleNamespace(sparkContext=_Context())
    built, written = [], []

    def fake(name):
        def build(s, sf_dir):
            built.append((name, s.sparkContext.group))
            if name in failing:
                raise ValueError("boom")
            return name

        return SimpleNamespace(spark=build)

    monkeypatch.setattr(bench, "materialize", lambda df: written.append((df, spark.sparkContext.group)))
    times = bench.run_queries(spark, "sf", {n: fake(n) for n in ("qa", "qb", "qc")})
    assert spark.sparkContext.group is None  # the last group does not outlive the run
    return times, built, written


def test_each_query_is_built_and_written_once_under_its_groups(monkeypatch):
    times, built, written = _run(monkeypatch)
    assert built == [("qa", "qa:build"), ("qb", "qb:build"), ("qc", "qc:build")]
    assert written == [("qa", "qa:exec"), ("qb", "qb:exec"), ("qc", "qc:exec")]
    assert sorted(times) == ["qa", "qb", "qc"] and min(times.values()) >= 0


def test_failed_query_is_recorded_and_the_run_goes_on(monkeypatch, capsys):
    """A query that raises gets -1, which the total leaves out, and the
    queries after it still run."""
    times, built, written = _run(monkeypatch, failing={"qb"})
    assert times["qb"] == -1.0
    assert [n for n, _ in built] == ["qa", "qb", "qc"]
    assert [n for n, _ in written] == ["qa", "qc"]
    assert "# BENCH ERROR qb: ValueError: boom" in capsys.readouterr().err
    assert "sum(t for t in times.values() if t >= 0)" in _SRC


def test_build_and_exec_jobs_land_on_their_query():
    """Each query's build and exec counts hold exactly the jobs of its
    own two groups; skipped stages are not counted; the warm-up's jobs
    are nobody's, and a stream's micro-batch job is left unattributed."""
    cpu = "Executor CPU Time"  # ns
    log = EventLog(
        jobs=[
            JobRecord(0, "bench:warm", 0, {0}),
            JobRecord(1, "qa:build", 1, {1}),
            JobRecord(2, "qa:exec", 2, {2, 3}),  # stage 3 skipped: its shuffle is reused
            JobRecord(3, "qa:exec", 3, {4}),
            JobRecord(4, "qb:exec", 4, {5}),
            JobRecord(5, "3f1c0d2e-stream-run-id", 5, {6}),
        ],
        stages_run={0, 1, 2, 4, 5, 6},
        tasks_by_stage={
            0: [{cpu: 9_000_000}],
            1: [{cpu: 2_000_000}],
            2: [{cpu: 1_000_000, "Shuffle Write Metrics": {"Shuffle Bytes Written": 300}}] * 2,
            3: [{cpu: 7_000_000}],
            4: [
                {
                    cpu: 500_000,
                    "Shuffle Read Metrics": {"Local Bytes Read": 200, "Remote Bytes Read": 100},
                    "Memory Bytes Spilled": 40,
                    "Disk Bytes Spilled": 2,
                }
            ],
            5: [{cpu: 4_000_000}],
            6: [{cpu: 8_000_000}],
        },
    )
    counts = query_counts(log, ["qa", "qb"])
    zero = dict(shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0)
    assert counts == {
        "qa": {
            "build": dict(jobs=1, stages=1, tasks=1, cpu_ms=2.0, **zero),
            "exec": dict(
                jobs=2, stages=2, tasks=3, cpu_ms=2.5,
                shuffle_read_bytes=300, shuffle_write_bytes=600, spill_bytes=42,
            ),
        },
        "qb": {
            "build": dict(jobs=0, stages=0, tasks=0, cpu_ms=0.0, **zero),
            "exec": dict(jobs=1, stages=1, tasks=1, cpu_ms=4.0, **zero),
        },
    }
    assert unattributed_jobs(log, ["qa", "qb"]) == 1


def test_artifact_schema_fields_unchanged():
    """The payload keeps the one-line contract keys and the identity
    fields, and records every query's counts."""
    for key in ('"metric"', '"value"', '"unit"', '"queries"', '"sf"', "**identity,"):
        assert key in _SRC
    assert '"counts": query_counts(evlog, times)' in _SRC


def test_artifact_records_cores_spark_version_and_sha(tmp_path):
    """An artifact states the session's real core count, its JVM's
    processor count, the Spark version and the git sha (None outside a
    git checkout)."""
    runtime = SimpleNamespace(availableProcessors=lambda: 6)
    jvm = SimpleNamespace(
        java=SimpleNamespace(lang=SimpleNamespace(Runtime=SimpleNamespace(getRuntime=lambda: runtime)))
    )
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=8, _jvm=jvm), version="4.1.2"
    )
    assert artifact_identity(spark, tmp_path) == {
        "cpus": 8,
        "jvm_cpus": 6,
        "spark_version": "4.1.2",
        "git_sha": None,
    }
    assert "**identity," in _SRC  # spread into the written payload
