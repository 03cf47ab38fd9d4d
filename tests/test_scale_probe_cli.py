"""Arg-parse pins for scripts/scale_probe.py (round-10 ADVICE fixes):
no SparkSession is built — materialize/run_queries are stubbed out."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest

_ROOT = pathlib.Path(__file__).resolve().parent.parent


def _load():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", _ROOT / "scripts" / "scale_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture()
def probe(monkeypatch):
    mod = _load()
    calls = {}
    monkeypatch.setattr(
        mod, "materialize", lambda out, n, only=None: calls.update(
            materialize=(out, n, only)
        )
    )
    monkeypatch.setattr(
        mod,
        "run_queries",
        lambda sf, names, t, d, conf, scale=True: calls.update(
            run=(sf, names, t, d, conf, scale)
        ),
    )
    return mod, calls


def _main(mod, monkeypatch, argv):
    monkeypatch.setattr(sys, "argv", ["scale_probe.py", *argv])
    mod.main()


def test_materialize_table_names_without_count(probe, monkeypatch):
    """`materialize out events` must parse as N=10 + tables, not die in
    int('events')."""
    mod, calls = probe
    _main(mod, monkeypatch, ["materialize", "/tmp/out", "events"])
    assert calls["materialize"] == ("/tmp/out", 10, ["events"])


def test_materialize_count_then_tables(probe, monkeypatch):
    mod, calls = probe
    _main(mod, monkeypatch, ["materialize", "/tmp/out", "100", "documents"])
    assert calls["materialize"] == ("/tmp/out", 100, ["documents"])


def test_conf_without_equals_is_an_error(probe, monkeypatch):
    """`--conf advisory16m` must raise, not become a silent empty-value
    conf."""
    mod, calls = probe
    with pytest.raises(SystemExit, match="K=V"):
        _main(mod, monkeypatch, ["--conf", "advisory16m", "run", "/tmp/x", "q"])
    assert "run" not in calls


def test_no_scale_confs_flag(probe, monkeypatch):
    mod, calls = probe
    _main(mod, monkeypatch, ["--no-scale-confs", "run", "/tmp/x", "qa", "qb"])
    sf, names, _, _, conf, scale = calls["run"]
    assert (sf, names, conf, scale) == ("/tmp/x", ["qa", "qb"], {}, False)


def test_run_defaults_apply_registry_scale_confs(probe, monkeypatch):
    mod, calls = probe
    _main(mod, monkeypatch, ["run", "/tmp/x", "qa"])
    assert calls["run"][5] is True


@pytest.mark.parametrize(
    "argv", [["plans", "/tmp/x", "qa"], ["shapes", "10"], ["10"], []]
)
def test_removed_subcommands_are_usage_errors(probe, monkeypatch, argv):
    """`plans` (now part of `run`), `shapes` and a bare count are gone:
    each exits with the usage line and runs nothing."""
    mod, calls = probe
    with pytest.raises(SystemExit, match="usage"):
        _main(mod, monkeypatch, argv)
    assert calls == {}
