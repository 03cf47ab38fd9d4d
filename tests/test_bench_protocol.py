"""Tests of bench.py's one-pass protocol: each query is built and
executed once under its own job groups, and each group's counts come
from Spark's status store (``plans.inspect.group_counts``). The
protocol is driven with fakes; the counter runs on the test session."""

from __future__ import annotations

import pathlib
import sys
from types import SimpleNamespace

from pyspark.sql import functions as F

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import bench
from bench import artifact_identity
from direct_kafka_stream_spark.plans.inspect import execute, group_counts

_SRC = (pathlib.Path(__file__).resolve().parent.parent / "bench.py").read_text()

# job ids per group as the fake status tracker reports them: job 3 ran
# under no known group (a stream's micro-batch)
_JOBS = {"bench:warm": [0, 1], "qa:build": [2], "qa:exec": [4, 5], "qc:exec": [6]}


class _Context:
    """SparkContext stand-in that records the job group in force."""

    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.group = value

    def statusTracker(self):
        return SimpleNamespace(getJobIdsForGroup=lambda g: list(_JOBS.get(g, [])))


def _run(monkeypatch, failing=()):
    """run_queries over three fake queries: (times, counts, unattributed
    jobs, [(query, group) per build], [(query, group) per execution])."""
    spark = SimpleNamespace(sparkContext=_Context())
    built, executed = [], []

    def fake(name):
        def build(s, sf_dir):
            built.append((name, s.sparkContext.group))
            if name in failing:
                raise ValueError("boom")
            return name

        return SimpleNamespace(spark=build)

    monkeypatch.setattr(bench, "execute", lambda df: executed.append((df, spark.sparkContext.group)))
    monkeypatch.setattr(bench, "group_counts", lambda s, group: group)
    times, counts, unattributed = bench.run_queries(
        spark, "sf", {n: fake(n) for n in ("qa", "qb", "qc")}
    )
    assert spark.sparkContext.group is None  # the last group does not outlive the run
    return times, counts, unattributed, built, executed


def test_each_query_is_built_and_executed_once_under_its_groups(monkeypatch):
    """Each query's counts are read from its own two groups, and a job
    under no known group (here job 3) is left unattributed; the
    warm-up's jobs are nobody's."""
    times, counts, unattributed, built, executed = _run(monkeypatch)
    assert built == [("qa", "qa:build"), ("qb", "qb:build"), ("qc", "qc:build")]
    assert executed == [("qa", "qa:exec"), ("qb", "qb:exec"), ("qc", "qc:exec")]
    assert sorted(times) == ["qa", "qb", "qc"] and min(times.values()) >= 0
    assert counts == {n: {"build": f"{n}:build", "exec": f"{n}:exec"} for n in times}
    assert unattributed == 1


def test_failed_query_is_recorded_and_the_run_goes_on(monkeypatch, capsys):
    """A query that raises gets -1, which the total leaves out, and the
    queries after it still run."""
    times, counts, _, built, executed = _run(monkeypatch, failing={"qb"})
    assert times["qb"] == -1.0
    assert [n for n, _ in built] == ["qa", "qb", "qc"]
    assert [n for n, _ in executed] == ["qa", "qc"]
    assert sorted(counts) == ["qa", "qb", "qc"]  # a failed query still has counts
    assert "# BENCH ERROR qb: ValueError: boom" in capsys.readouterr().err
    assert "sum(t for t in times.values() if t >= 0)" in _SRC


def test_build_and_exec_jobs_land_on_their_query(spark):
    """On a live session: each group's counts hold exactly its own jobs;
    a second execution of one frame reuses the first one's shuffle and
    its skipped map stage is not counted; a group that ran no job gives
    all zeros; a one-shuffle aggregate reads what it wrote. Repeated,
    because a read straight after the action must not race the
    listener bus."""
    sc = spark.sparkContext
    keys = [
        "jobs", "stages", "tasks", "cpu_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    ]
    try:
        for i in range(3):
            df = spark.range(0, 4000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count()
            first, again, idle = (f"bench-test-{i}:{g}" for g in ("first", "again", "idle"))
            sc.setJobGroup(first, first)
            execute(df)
            sc.setJobGroup(again, again)
            execute(df)
            sc.setJobGroup(idle, idle)
            one, two, zero = (group_counts(spark, g) for g in (first, again, idle))
            assert list(one) == keys
            # map stage + result stage: one shuffle, written then read
            assert (one["jobs"], one["stages"]) == (2, 2)
            assert one["shuffle_write_bytes"] == one["shuffle_read_bytes"] > 0
            assert one["tasks"] >= 5 and one["cpu_ms"] > 0
            # the map stage is skipped: only the result stage ran
            assert (two["jobs"], two["stages"], two["shuffle_write_bytes"]) == (1, 1, 0)
            assert two["shuffle_read_bytes"] == one["shuffle_read_bytes"]
            assert zero == dict.fromkeys(keys, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_artifact_schema_fields_unchanged():
    """The payload keeps the one-line contract keys and the identity
    fields, and records every query's counts."""
    for key in ('"metric"', '"value"', '"unit"', '"queries"', '"sf"', "**identity,"):
        assert key in _SRC
    assert "times, counts, unattributed = run_queries(spark, sf_dir, QUERIES)" in _SRC
    assert '"counts": counts,' in _SRC


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
