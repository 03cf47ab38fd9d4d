"""Stream recovery narratives of scripts/stream_probe.py, driven for
real: the graceful restart, the SIGKILL-mid-batch outage, and the
RocksDB-provider outage cell.

``kill`` SIGKILLs a separate worker driver process (own JVM) with a
batch verifiably in flight (offset WAL ahead of the commit log), then
resumes the stream from the same checkpoint in the test session and
runs the full exactly-once audit — WAL replay byte-identity, ledger
contiguity/no-uncommitted-batch/no-double-processing, live state ==
batch aggregate, state recount, and provider-layout evidence.
``restart`` stops the stream gracefully between two phases of input
and audits the ledger's phase boundary, the live state and the state
time-traveled to the last pre-restart batch. This is the reference's
war story (reference README.md:160-176) — the outage its ZK
begin-offset ledger existed to bound, at-least-once there,
exactly-once here."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

_HERE = pathlib.Path(__file__).resolve().parent.parent


def _probe_mod():
    spec = importlib.util.spec_from_file_location(
        "stream_probe_test", _HERE / "scripts" / "stream_probe.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_sigkill_mid_batch_recovery_sf01(spark):
    """Directive #2 acceptance: hard-kill recovery green at sf0.1 —
    the driver-scale fixture, 10k+ rows across 6 single-file batches.
    The probe raises on any audit violation; assertions here pin the
    kill really landed mid-batch (intent ahead of completion at kill
    time) and the killed batch was replayed to completion."""
    out = _probe_mod().kill(spark, "/root/testdata/sf0.1", n_files=6)
    assert out["n_offsets_at_kill"] == out["n_commits_at_kill"] + 1
    assert 1 <= out["killed_batch"] < out["n_batches"]
    assert out["n_batches"] == 6
    assert out["attempts"] <= 5
    assert out["provider"] == "hdfs(default)"
    assert "all green" in out["audits"]


def test_sigkill_recovery_rocksdb_changelog(spark):
    """Directive #5: the RocksDB provider with changelog checkpointing
    crossed with the outage machinery — worker, resume, and statestore
    reader all on RocksDB; the probe's provider-layout audit proves
    the state actually lived in changelog files (not silently the
    default provider). sf0.001 keeps the cell fast; the provider swap
    is config, not data-scale, behavior."""
    out = _probe_mod().kill(
        spark, "/root/testdata/sf0.001", n_files=6, rocksdb=True
    )
    assert out["provider"] == "rocksdb+changelog"
    assert out["n_offsets_at_kill"] == out["n_commits_at_kill"] + 1
    assert "all green" in out["audits"]


def test_graceful_restart_audits_green(spark):
    """Stop -> add input -> resume from the same checkpoint: the ledger
    puts the first n_a files in batches < n_a and the rest after, the
    live state equals the batch aggregate of all input, and the state
    at batch n_a - 1 equals the aggregate of the first phase alone.
    The probe raises on any violation."""
    out = _probe_mod().restart(spark, "/root/testdata/sf0.001", n_a=2, n_b=2)
    assert out["audits"] == "ledger+live-state+time-travel all green"
    assert out["n_batches"] == 4
    assert out["ledger_entries"] == 4
    assert out["n_state_keys"] > 0
