"""The persist ledger (``caching``): every eager persist an operator
makes is tracked, so ``clear_materialized()`` — called by the registry
wrapper when the next query starts — leaves nothing pinned."""

from __future__ import annotations

import ast
import pathlib

from direct_kafka_stream_spark import QUERIES
from direct_kafka_stream_spark.caching import clear_materialized

from tests.conftest import SF_DIR

OPERATORS = (
    pathlib.Path(__file__).resolve().parent.parent
    / "direct_kafka_stream_spark"
    / "operators"
)


def _untracked_persists(src: str) -> list[int]:
    """Line numbers of ``.persist()`` calls not wrapped in ``track(...)``."""
    tree = ast.parse(src)
    tracked = {
        id(arg)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "track"
        for arg in node.args
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "persist"
        and id(node) not in tracked
    ]


def test_detector_flags_untracked_persist():
    assert _untracked_persists("x = df.persist()\ny = track(df.persist())\n") == [1]


def test_every_operator_persist_is_tracked():
    untracked = {
        f"{p.name}:{line}"
        for p in sorted(OPERATORS.glob("*.py"))
        for line in _untracked_persists(p.read_text())
    }
    assert not untracked, sorted(untracked)


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_clear_materialized_frees_setsim_prefix_persists(spark):
    clear_materialized()
    before = _persistent_rdd_ids(spark)
    QUERIES["q_setsim_prefix"].spark(spark, SF_DIR).collect()
    assert _persistent_rdd_ids(spark) - before, "the query persisted nothing"
    clear_materialized()
    assert _persistent_rdd_ids(spark) <= before
