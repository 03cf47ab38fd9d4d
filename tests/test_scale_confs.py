"""Per-query scale_confs hints (round-11 directive #3): the probe-passed
100x session knobs ship WITH the query in the registry, are applied by
the wrapper only when the scale flag is set, and never leak into the
sf0.1 bench/correctness path."""

from __future__ import annotations

import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from direct_kafka_stream_spark import QUERIES
from direct_kafka_stream_spark.caching import clear_materialized

_HERE = pathlib.Path(__file__).resolve().parent.parent


def test_pair_generators_carry_probe_passed_confs():
    """The two queries whose 100x completion depends on session knobs
    (SCALE.md round 10) declare exactly those knobs."""
    ss = dict(QUERIES["q_setsim_prefix"].scale_confs)
    assert ss == {
        "spark.sql.shuffle.partitions": "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    }
    cd = dict(QUERIES["q_containment_dedup"].scale_confs)
    assert cd == {
        "spark.sql.shuffle.partitions": "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.autoBroadcastJoinThreshold": "268435456",
    }


def test_scale_confs_applied_only_under_flag(monkeypatch, spark, sf_dir):
    """Flag unset: building the query leaves the session conf alone.
    Flag set: the wrapper applies the query's hints at plan-build time,
    and closing the query's scope takes them off again."""
    monkeypatch.delenv("SPARK_GRAFT_SCALE", raising=False)
    clear_materialized()
    before = spark.conf.get("spark.sql.shuffle.partitions")
    QUERIES["q_setsim_prefix"].spark(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    monkeypatch.setenv("SPARK_GRAFT_SCALE", "1")
    try:
        QUERIES["q_setsim_prefix"].spark(spark, sf_dir)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "1024"
        assert (
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            == "16m"
        )
    finally:
        clear_materialized()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_scale_flag_env_parsing(monkeypatch):
    from direct_kafka_stream_spark.session import scale_flag_set

    for off in ("", "0", "false", "no", "off", "FALSE", "No", "OFF"):
        monkeypatch.setenv("SPARK_GRAFT_SCALE", off)
        assert not scale_flag_set(), off
    monkeypatch.delenv("SPARK_GRAFT_SCALE")
    assert not scale_flag_set()
    for on in ("1", "true", "yes"):
        monkeypatch.setenv("SPARK_GRAFT_SCALE", on)
        assert scale_flag_set(), on


def test_bench_path_never_sets_scale_flag():
    """The sf0.1 bench numbers must measure the UNTUNED small-scale
    plans: bench.py must not set SPARK_GRAFT_SCALE (scale_probe.py
    `run` is the only in-repo setter)."""
    assert "SPARK_GRAFT_SCALE" not in (_HERE / "bench.py").read_text()
    probe = (_HERE / "scripts" / "scale_probe.py").read_text()
    assert 'os.environ["SPARK_GRAFT_SCALE"] = "1"' in probe


def test_scale_confs_are_runtime_settable(spark):
    """Every declared hint must be settable on a LIVE session (static
    confs would silently no-op in the registry wrapper)."""
    for q in QUERIES.values():
        for k, v in q.scale_confs:
            old = spark.conf.get(k)
            spark.conf.set(k, v)  # raises for static/unknown confs
            spark.conf.set(k, old)


def test_probe_run_restores_session_confs(monkeypatch, spark, capsys):
    """Integration: scale_probe.run_queries applies a query's hints for
    its runs (recorded in the output row) and restores the session's
    prior conf values afterwards — multi-query probes must not
    cross-tune. Runs for real at sf0.001 (seconds)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "scale_probe_it", _HERE / "scripts" / "scale_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    monkeypatch.delenv("SPARK_GRAFT_SCALE", raising=False)
    fixture_before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    # Baseline AS THE PROBE SEES IT: get_session on an existing session
    # applies its runtime-settable builder configs (Spark 4 getOrCreate
    # semantics — shuffle partitions goes to the env-derived default),
    # so capture the post-get_session values, exactly what run_queries'
    # own snapshot sees before the first query applies its hints.
    from direct_kafka_stream_spark import get_session

    probe_session = get_session("scale-probe-run")
    before = {
        k: probe_session.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    assert before["spark.sql.shuffle.partitions"] != "1024"
    try:
        mod.run_queries(
            "/root/testdata/sf0.001",
            ["q_containment_dedup"],
            timeout_s=600.0,
            disk_floor_gb=1.0,
        )
    finally:
        monkeypatch.delenv("SPARK_GRAFT_SCALE", raising=False)
    out = capsys.readouterr().out
    assert '"scale_confs_applied"' in out
    assert '"spark.sql.shuffle.partitions": "1024"' in out
    # one row per query, counted as bench.py counts it, with the final
    # plan of that same (single) execution
    (row,) = [json.loads(l) for l in out.splitlines() if '"query"' in l]
    keys = [
        "jobs", "stages", "tasks", "cpu_ms",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    ]
    assert sorted(row["counts"]) == ["build", "exec"]
    assert all(list(c) == keys for c in row["counts"].values())
    assert row["counts"]["exec"]["jobs"] > 0
    assert row["plan"]["aqe_final"] == 1
    assert "raw" not in row and "shuffle" not in row
    for k, v in before.items():
        assert spark.conf.get(k) == v, f"{k} not restored"
    # undo the probe-session retune so the shared test session keeps
    # the conftest fixture's values for whatever runs after this test
    for k, v in fixture_before.items():
        spark.conf.set(k, v)


def test_query_scope_restores_scale_confs(monkeypatch, spark, sf_dir, tmp_path):
    """Under the scale flag a query's hints stay on the session through
    the caller's materialization, and its scope restores the prior
    values when it closes: when the thread's next query starts, on
    ``clear_materialized()``, and after a build that raised. A
    Spark-defined key that was never set is left at its default."""
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    keys = (
        "spark.sql.shuffle.partitions",
        advisory,
        "spark.sql.autoBroadcastJoinThreshold",
    )
    clear_materialized()
    spark.conf.unset(advisory)
    default_advisory = spark.conf.get(advisory)
    before = {k: spark.conf.get(k, None) for k in keys}
    monkeypatch.setenv("SPARK_GRAFT_SCALE", "1")

    def assert_restored():
        assert {k: spark.conf.get(k, None) for k in keys} == before
        assert spark.conf.get(advisory) == default_advisory

    df = QUERIES["q_containment_dedup"].spark(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1024"
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == "268435456"
    assert spark.conf.get(advisory) == "16m"
    QUERIES["q_scan"].spark(spark, sf_dir)
    assert_restored()

    QUERIES["q_containment_dedup"].spark(spark, sf_dir)
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1024"
    clear_materialized()
    assert_restored()

    with pytest.raises(Exception):
        QUERIES["q_containment_dedup"].spark(spark, str(tmp_path / "missing"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == "1024"
    QUERIES["q_scan"].spark(spark, sf_dir)
    assert_restored()
    clear_materialized()


def test_probe_run_restores_scale_env(monkeypatch, spark, capsys):
    """run_queries must leave the process env as it found it: an
    in-process caller would silently inherit the scale flag, and a
    web-UI switch the probe once set made every later session in the
    process start the UI."""
    import importlib.util
    import os as _os

    spec = importlib.util.spec_from_file_location(
        "scale_probe_env_it", _HERE / "scripts" / "scale_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    monkeypatch.delenv("SPARK_GRAFT_SCALE", raising=False)
    env = dict(_os.environ)
    mod.run_queries(
        "/root/testdata/sf0.001", ["q_scan"], timeout_s=300.0, disk_floor_gb=1.0
    )
    assert dict(_os.environ) == env
    capsys.readouterr()

    monkeypatch.setenv("SPARK_GRAFT_SCALE", "0")
    mod.run_queries(
        "/root/testdata/sf0.001",
        ["q_scan"],
        timeout_s=300.0,
        disk_floor_gb=1.0,
        use_scale_confs=False,
    )
    assert _os.environ.get("SPARK_GRAFT_SCALE") == "0"
    capsys.readouterr()
