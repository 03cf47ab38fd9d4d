"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over ``direct_kafka_stream_spark.registry`` — every
implemented operator from SURVEY.md §2 is a named Query there with a
Spark callable and (where SQL-expressible) a DuckDB oracle string.
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import sys
from collections.abc import Callable

_HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(_HERE))

from pyspark.sql import DataFrame, SparkSession

from direct_kafka_stream_spark import QUERIES, flagship


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (q_join_multiway, TPC-H-Q5 shape) on sf0.001."""
    return flagship(spark, "/root/testdata/sf0.001")


def _newest_green_round() -> dict[str, int]:
    """For each query name, the NEWEST round whose CORRECTNESS_r*.json
    shows it green (hash_match, or a declared no-oracle rows-only check
    that ran). Never-checked or never-green names are absent."""
    newest: dict[str, int] = {}
    for p in sorted(_HERE.glob("CORRECTNESS_r*.json")):
        stem = p.stem.split("_r")[-1]
        if not stem.isdigit():
            continue
        rnd = int(stem)
        try:
            rows = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("hash_match") is True or (
                row.get("err") == "no_oracle" and row.get("spark_rows") is not None
            ):
                newest[name] = max(rnd, newest.get(name, 0))
    return newest


def _oracle_hash(text: str | None) -> str:
    """Stable 12-hex digest of an oracle SQL text ('' for no-oracle)."""
    return hashlib.sha256((text or "").encode()).hexdigest()[:12]


def _load_oracle_ledger() -> dict[str, dict]:
    """ORACLE_LEDGER.json: per query, the hash of its oracle text and
    the round that text took effect (scripts/update_oracle_ledger.py).
    Missing, unreadable, or STRUCTURALLY malformed ledger content
    degrades to {} / entry-drop — every affected query then counts as
    oracle-changed, i.e. plain registry order; this is the driver's
    entry path, so it must never crash on a bad file."""
    try:
        data = json.loads((_HERE / "ORACLE_LEDGER.json").read_text())
        queries = data.get("queries", {}) if isinstance(data, dict) else {}
        return {
            n: e for n, e in queries.items() if isinstance(e, dict)
        } if isinstance(queries, dict) else {}
    except (OSError, ValueError):
        return {}


def _effective_green(
    newest: dict[str, int],
    ledger: dict[str, dict],
    hashes: dict[str, str],
) -> dict[str, int]:
    """Newest green round per name, DEMOTED to 0 (never-verified) when
    the oracle text changed since that green round: a green row earned
    under a different oracle does not verify the current gate (the
    round-10 rows-only→bounded-error upgrades would otherwise wait ~7
    rounds behind their stale greens). Pure — unit-tested on synthetic
    dicts in tests/test_rotation.py."""
    out: dict[str, int] = {}
    for name, h in hashes.items():
        green = newest.get(name, 0)
        ent = ledger.get(name)
        if (
            ent is None  # never stamped — treat as brand-new oracle
            or ent.get("hash") != h  # ledger stale: oracle edited since stamp
            or ent.get("since_round", 0) > green  # text newer than the green
        ):
            green = 0
        out[name] = green
    return out


def _ordered_names() -> list[str]:
    """Query names, LEAST-RECENTLY-VERIFIED first: the correctness
    driver checks a bounded prefix of this order per round. Names with
    no green row from any prior round — or whose ORACLE TEXT changed
    since their newest green row (ORACLE_LEDGER.json) — sort to the very
    front (round 0); after that, the names whose newest green row is
    oldest — so once the ledger is closed, the driver re-validates the
    whole registry on a rolling ~8-round cycle instead of re-checking
    the same prefix forever. Ties break by name, so neither module
    layout nor import order moves the rotation."""
    newest = _newest_green_round()
    effective = _effective_green(
        newest,
        _load_oracle_ledger(),
        {n: _oracle_hash(q.oracle) for n, q in QUERIES.items()},
    )
    return sorted(QUERIES, key=lambda n: (effective.get(n, 0), n))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each call opens a query scope on the calling thread (``caching``):
    everything the query leaves behind — persists, local checkpoints,
    scratch directories, catalog tables and, under the scale flag, its
    scale confs — lasts until the thread starts its next query or calls
    ``clear_materialized()``. Threads do not release each other's
    state, so queries may run concurrently on one session; but SQL-form
    queries register fixture temp views by bare table name (matching
    the oracle's view names), so concurrent threads must read the same
    ``sf_dir``, and under the scale flag they share the session's confs
    (give each thread ``spark.newSession()``)."""
    return {name: QUERIES[name].spark for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable query — since
    round 10 that is ALL of them (the two approx sketches carry
    bounded-error `within_bound` oracles; the rows-only fallback clause
    below is kept for the driver contract but currently unused)."""
    return {
        name: QUERIES[name].oracle for name in _ordered_names() if QUERIES[name].oracle
    }
