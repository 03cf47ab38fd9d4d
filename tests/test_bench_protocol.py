"""Unit tests for bench.py's sweep-adjudication protocol (round-11
directive #4): the band rule fired for real exactly once (round 10,
BENCH_NOTES.md) — these drive the now-pure `adjudicate_sweeps` on
synthetic sweep dicts so the self-heal path is pinned without paying a
bench run. No SparkSession involved."""

from __future__ import annotations

import json
import pathlib
import sys
from types import SimpleNamespace

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from bench import adjudicate_sweeps, artifact_identity, prior_quiet_mins, sweep_total


def test_agreeing_sweeps_no_extra_run():
    """Totals within 1.2x: no violation, no third sweep, per-query min."""
    calls = []
    s1 = {"qa": 1.0, "qb": 2.0}
    s2 = {"qa": 1.1, "qb": 1.8}
    times, violated, used = adjudicate_sweeps(
        [s1, s2], extra_sweep=lambda: calls.append(1) or {}
    )
    assert not violated
    assert calls == []
    assert used == [s1, s2]
    assert times == {"qa": 1.0, "qb": 1.8}


def test_band_violation_triggers_exactly_one_extra_sweep():
    """Totals 3.1/6.0 disagree >1.2x: violation recorded, extra_sweep
    called ONCE, per-query min taken across all THREE sweeps."""
    calls = []

    def third():
        calls.append(1)
        return {"qa": 0.9, "qb": 2.5}

    times, violated, used = adjudicate_sweeps(
        [{"qa": 1.0, "qb": 2.1}, {"qa": 3.0, "qb": 3.0}], extra_sweep=third
    )
    assert violated
    assert calls == [1]
    assert len(used) == 3
    assert times == {"qa": 0.9, "qb": 2.1}


def test_errors_excluded_from_totals_and_min():
    """A -1 (BENCH ERROR) row is excluded from the sweep total (so one
    erroring query can't fake a band violation) and from the per-query
    min (one good measurement wins); all-error stays -1."""
    s1 = {"qa": -1.0, "qb": 2.0, "qc": -1.0}
    s2 = {"qa": 0.2, "qb": 2.1, "qc": -1.0}
    assert sweep_total(s1) == 2.0
    times, violated, _ = adjudicate_sweeps([s1, s2], extra_sweep=lambda: {})
    assert not violated  # totals 2.0 vs 2.3 — inside the band
    assert times == {"qa": 0.2, "qb": 2.0, "qc": -1.0}


def test_single_sweep_passes_through():
    """sweeps=1 (SPARK_GRAFT_BENCH_SWEEPS=1): no band check possible."""
    times, violated, used = adjudicate_sweeps(
        [{"qa": 1.0}], extra_sweep=lambda: (_ for _ in ()).throw(AssertionError)
    )
    assert not violated and len(used) == 1 and times == {"qa": 1.0}


def test_violation_without_extra_sweep_still_records():
    """extra_sweep=None (a caller that only wants adjudication): the
    violation is still recorded and the min is over the given sweeps."""
    times, violated, used = adjudicate_sweeps(
        [{"qa": 1.0}, {"qa": 2.0}], extra_sweep=None
    )
    assert violated and len(used) == 2 and times == {"qa": 1.0}


def test_artifact_schema_fields_unchanged():
    """The artifact keys the judge's adjudication reads must survive the
    refactor — band_violated + sweep_totals still written by main()."""
    src = (pathlib.Path(__file__).resolve().parent.parent / "bench.py").read_text()
    assert '"band_violated": band_violated' in src
    assert '"sweep_totals"' in src
    assert "adjudicate_sweeps(" in src

def test_union_of_keys_across_sweeps():
    """A query present only in a LATER sweep (e.g. the self-heal third
    sweep after a partial first one) must appear in the artifact, not
    be silently dropped by iterating sweep[0]'s keys only."""
    s1 = {"qa": 1.0, "qc": 2.0}
    s2 = {"qa": 1.1, "qb": 0.5, "qc": 1.8}
    times, violated, _ = adjudicate_sweeps([s1, s2], extra_sweep=None)
    assert not violated  # totals 3.0 vs 3.4 — inside the band
    assert times == {"qa": 1.0, "qb": 0.5, "qc": 1.8}


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
    src = (pathlib.Path(__file__).resolve().parent.parent / "bench.py").read_text()
    assert "**identity," in src  # spread into the written payload


def test_quiet_window_prior_keyed_by_sf_and_cpus(tmp_path):
    """The quiet-window lookup takes the newest artifact at the same sf
    AND core count; an artifact without a core count never matches."""

    def write(rnd, **fields):
        (tmp_path / f"BENCH_FULL_r{rnd:02d}.json").write_text(json.dumps(fields))

    write(11, sf=0.1, cpus=32, queries={"qa": 1.0})
    write(12, sf=0.1, cpus=8, queries={"qa": 4.0})
    write(13, sf=0.1, queries={"qa": 9.0})  # legacy: no core count
    write(14, sf=0.01, cpus=32, queries={"qa": 0.1})
    assert prior_quiet_mins(tmp_path, 0.1, 32) == {"qa": 1.0}
    assert prior_quiet_mins(tmp_path, 0.1, 8) == {"qa": 4.0}
    assert prior_quiet_mins(tmp_path, 0.1, 4) == {}
