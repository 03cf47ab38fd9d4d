"""Central query registry: every operator the engine implements is a
named ``Query`` with (a) a Spark callable ``(spark, sf_dir) -> DataFrame``
and (b) an equivalent DuckDB oracle SQL string (or ``None`` for ops that
are not SQL-expressible — those get a weaker rows-only check).

This is the engine's coverage ledger for SURVEY.md §2: the verify
driver, the pytest suite, and bench.py all iterate this one dict.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from direct_kafka_stream_spark.caching import open_scope
from direct_kafka_stream_spark.session import scale_flag_set, tune_session


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the fixture views, or None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())
    # Probe-passed session confs this query needs AT SCALE (SCALE.md /
    # docs/TUNING.md): applied only when the scale flag is set
    # (SPARK_GRAFT_SCALE env, or scripts/scale_probe.py `run`), NEVER on
    # the sf0.1 bench/correctness path. Runtime-settable confs only.
    scale_confs: tuple[tuple[str, str], ...] = field(default=())


QUERIES: dict[str, Query] = {}

# Registered queries whose build runs Spark jobs, and why. Every other
# build only plans: its work runs when the caller consumes the result
# (tests/test_caching.py checks the jobs each build runs against this).
# The frame such a build returns is the tail of a computation that has
# already run, so a plan census of it describes only that tail.
BUILD_RUNS_JOBS = {
    # convergence loops
    "q_dedup_components": "label propagation collects a label sum per round",
    "q_dup_cluster_stats": "builds q_dedup_components",
    "q_dedup_keep_best": "builds q_dedup_components",
    "q_modularity": "label propagation collects a label sum per round",
    "q_kcore": "a lazy local checkpoint still runs its AQE shuffle stages",
    # model fits: the model is a driver-side value
    "q_kmeans_train": "collects the seed centers and each round's centers",
    "q_kcenter_coreset": "collects each next center",
    "q_ml_linreg": "collects feature statistics and fits the model",
    "q_pca_power": "collects the Gram matrix for driver-side iteration",
    "q_markov_stationary": "collects the transition matrix for driver-side iteration",
    # staging writes: the query reads what it wrote
    "q_bucket_join": "writes the bucketed tables it joins",
    "q_partition_prune": "writes the partitioned table it prunes",
    # streams the build runs to completion, then reads back
    "q_stream_rocksdb": "collects the memory sink",
    "q_stream_listener": "counts the memory sink",
    "q_stream_offset_log": "counts the parquet sink",
    "q_stream_state_reader": "reads the state store",
    "q_stream_pyds_write": "writes through a Python streaming sink",
}


def query(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    scale_confs: dict[str, str] | None = None,
):
    """Decorator registering a query implementation.

    The wrapped callable receives (spark, sf_dir); we defensively apply
    runtime session tuning first so results don't depend on the caller's
    session configuration (timezone, Arrow, NTZ inference).

    It then opens the query's scope on this thread (``caching``), which
    closes the thread's previous query's scope, and makes ``spark`` the
    JVM's active session on this thread. ``scale_confs`` ships a
    query's probe-passed 100x session knobs with the query itself, so a
    cluster job gets the working plan without reading SCALE.md: when
    the scale flag is set (SPARK_GRAFT_SCALE), the scope applies them
    and restores the overwritten values when it closes.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            hints = dict(scale_confs) if scale_confs and scale_flag_set() else {}
            open_scope(spark, hints)
            # a py4j thread starts with no active JVM session, and then
            # a Python data source registered on spark is not found
            jvm = getattr(spark, "_jvm", None)  # None on Spark Connect
            if jvm is not None:
                jvm.SparkSession.setActiveSession(spark._jsparkSession)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        if name in QUERIES:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = Query(
            name=name,
            spark=wrapped,
            oracle=oracle.strip() if oracle else None,
            doc=(fn.__doc__ or "").strip(),
            tags=tuple(tags),
            scale_confs=tuple(sorted((scale_confs or {}).items())),
        )
        return wrapped

    return deco

