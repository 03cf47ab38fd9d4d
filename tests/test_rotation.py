"""The oracle-aware LRV correctness rotation (round-11 directive #1).

Two halves: pure-function tests for the demotion logic on synthetic
dicts, and a sync pin that fails whenever an oracle text is edited
without re-running scripts/update_oracle_ledger.py — which is the
mechanism that keeps the rotation honest."""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry
from direct_kafka_stream_spark import QUERIES

_HERE = pathlib.Path(__file__).resolve().parent.parent


def test_effective_green_demotes_changed_oracles():
    """A green row earned under a DIFFERENT oracle text (hash mismatch,
    or since_round newer than the green) counts as never-verified."""
    hashes = {"a": "h1", "b": "h2", "c": "h3", "d": "h4", "e": "h5"}
    newest = {"a": 9, "b": 9, "c": 9, "e": 4}
    ledger = {
        "a": {"hash": "h1", "since_round": 1},  # stable oracle, green r9
        "b": {"hash": "h1", "since_round": 1},  # ledger hash stale → edited
        "c": {"hash": "h3", "since_round": 10},  # text newer than green r9
        "d": {"hash": "h4", "since_round": 1},  # never driver-green
        # e: absent from ledger entirely → treated as brand-new
    }
    got = entry._effective_green(newest, ledger, hashes)
    assert got == {"a": 9, "b": 0, "c": 0, "d": 0, "e": 0}


def test_effective_green_keeps_green_when_text_unchanged():
    """since_round == green round still counts (the text took effect in
    the same round the driver verified it)."""
    got = entry._effective_green(
        {"x": 10},
        {"x": {"hash": "hx", "since_round": 10}},
        {"x": "hx"},
    )
    assert got == {"x": 10}


def test_ordered_names_fronts_oracle_changed_queries():
    """End-to-end over the real artifacts, round-state-independent:
    EVERY query whose effective green round is 0 (never verified, or
    oracle changed since its newest green — e.g. the round-10
    bounded-error rewrites until the driver re-samples them) must sort
    ahead of EVERY query with a surviving green row, so the driver's
    bounded prefix always samples the unverified set first."""
    names = entry._ordered_names()
    effective = entry._effective_green(
        entry._newest_green_round(),
        entry._load_oracle_ledger(),
        {n: entry._oracle_hash(q.oracle) for n, q in QUERIES.items()},
    )
    demoted = [n for n in names if effective[n] == 0]
    if demoted:
        last_demoted = max(names.index(n) for n in demoted)
        first_stable = min(
            (names.index(n) for n in names if effective[n] > 0), default=len(names)
        )
        assert last_demoted < first_stable, (
            f"demoted query sorted after a stably-green one: "
            f"{names[last_demoted]} vs {names[first_stable]}"
        )
    # ties broken by name (stable, independent of module layout)
    assert sorted(names, key=lambda n: (effective[n], n)) == names


def test_oracle_ledger_is_synced_to_registry():
    """Every registered query has a ledger entry whose hash matches its
    CURRENT oracle text, and the ledger carries no orphans. Editing an
    oracle without running scripts/update_oracle_ledger.py fails here —
    that re-run is what stamps the new since_round and fronts the query
    in the next driver sample."""
    ledger = json.loads((_HERE / "ORACLE_LEDGER.json").read_text())["queries"]
    stale = [
        n
        for n, q in QUERIES.items()
        if n not in ledger or ledger[n]["hash"] != entry._oracle_hash(q.oracle)
    ]
    orphans = [n for n in ledger if n not in QUERIES]
    assert not stale, f"run scripts/update_oracle_ledger.py — stale: {stale[:5]}"
    assert not orphans, f"orphaned ledger entries: {orphans[:5]}"
    assert all(
        isinstance(e["since_round"], int) and e["since_round"] >= 1
        for e in ledger.values()
    )


def test_ledger_missing_degrades_to_registry_order(monkeypatch):
    """A missing/unreadable ledger must demote EVERYTHING (every name
    ties at round 0, so plain name order), never crash the driver
    contract."""
    monkeypatch.setattr(entry, "_load_oracle_ledger", lambda: {})
    names = entry._ordered_names()
    assert names == sorted(QUERIES)


def test_ledger_malformed_content_never_crashes(tmp_path, monkeypatch):
    """Structurally malformed-but-parseable ledger JSON (non-object
    root, non-dict queries, non-dict entry) must degrade — dropped
    entries count as oracle-changed — because _load_oracle_ledger sits
    on the driver's queries()/oracle_sql() entry path."""
    for content in ("null", "[]", '{"queries": null}', '{"queries": []}'):
        (tmp_path / "ORACLE_LEDGER.json").write_text(content)
        monkeypatch.setattr(entry, "_HERE", tmp_path)
        assert entry._load_oracle_ledger() == {}
    (tmp_path / "ORACLE_LEDGER.json").write_text(
        '{"queries": {"q_bad": "h1", "q_ok": {"hash": "h2", "since_round": 3}}}'
    )
    assert entry._load_oracle_ledger() == {
        "q_ok": {"hash": "h2", "since_round": 3}
    }
    # and a non-dict VALUE that slipped through historical files would
    # demote, not crash, inside _effective_green via the dict filter
    monkeypatch.undo()
    assert entry._ordered_names()  # real ledger still loads
