from __future__ import annotations

import dataclasses
import pathlib
import sys
import threading

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from direct_kafka_stream_spark import QUERIES, TABLES, caching, get_session, load_table
from direct_kafka_stream_spark.plans import inspect
from direct_kafka_stream_spark.registry import BUILD_RUNS_JOBS
from scripts.check_oracle import check, connect

SF_DIR = "/root/testdata/sf0.001"
SHUFFLE_PARTITIONS = 8


@pytest.fixture(scope="session")
def spark():
    return get_session("tests", shuffle_partitions=SHUFFLE_PARTITIONS)


# Frames a loop reads only through its checkpoints' lineage, which no
# plan walk sees, by the columns of the frame. q_dup_cluster_stats and
# q_dedup_keep_best build q_dedup_components, and its edges with it.
_LOOP_INPUTS = {
    "q_dedup_components": ["src", "dst"],
    "q_dup_cluster_stats": ["src", "dst"],
    "q_dedup_keep_best": ["src", "dst"],
    "q_kcore": ["a", "b"],
}


def _caches(spark, frames) -> list:
    """(frame, its cache's builder) for the frames in the session's
    cache; local checkpoints are not in it."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    found = [(f, cm.lookupCachedData(f._jdf)) for f in frames]
    return [
        (f, c.get().cachedRepresentation().cacheBuilder())
        for f, c in found
        if c.nonEmpty()
    ]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _cache_scans(ident, plan, key: int) -> int:
    """``InMemoryTableScanExec`` nodes over the cache whose builder has
    identity hash ``key`` in a physical plan, not counting below a
    reused exchange or subquery."""
    kind = plan.getClass().getSimpleName()
    if kind in ("ReusedExchangeExec", "ReusedSubqueryExec"):
        return 0
    if kind == "AdaptiveSparkPlanExec":
        kids = [plan.executedPlan()]
    elif kind.endswith("QueryStageExec"):
        kids = [plan.plan()]
    else:
        kids = _seq(plan.children()) + _seq(plan.subqueries())
    here = kind == "InMemoryTableScanExec" and ident(plan.relation().cacheBuilder()) == key
    return here + sum(_cache_scans(ident, k, key) for k in kids)


@dataclasses.dataclass
class QueryRecord:
    """What the registry pass saw of one query. A field stays None when
    the query raised before the pass reached it."""

    build_jobs: int | None = None
    windows: list[str] | None = None
    # None for BUILD_RUNS_JOBS: their frame is only the tail of a
    # computation that has already run
    expand: bool | None = None
    # tracked persist's columns -> its reads in the final plan of the
    # query's execution and in the query's other cached plans
    reads: dict[tuple, int] | None = None
    # "OK", what differs from the oracle, or "ERROR: ..." if the query
    # raised, as scripts/check_oracle.py prints it
    status: str | None = None


def run_registry_pass(spark, queries, sf_dir: str) -> dict[str, QueryRecord]:
    """Build, plan, execute and oracle-check each query of ``queries``
    once, in order, with its scope open until its record is complete. A
    query that raises gets its error recorded and the pass goes on."""
    for t in TABLES:
        load_table(spark, sf_dir, t)
    con = connect(sf_dir)
    sc = spark.sparkContext
    ident = spark._jvm.System.identityHashCode
    records = {}
    for name, q in queries.items():
        r = records[name] = QueryRecord()
        try:
            sc.setJobGroup(f"build:{name}", name)
            df = q.spark(spark, sf_dir)
            r.build_jobs = len(sc.statusTracker().getJobIdsForGroup(f"build:{name}"))
            scope = caching._LIVE.get(threading.get_ident())
            caches = _caches(spark, scope.frames if scope else [])
            r.windows = inspect.unpartitioned_windows(
                df._jdf.queryExecution().optimizedPlan().toString()
            )
            if name not in BUILD_RUNS_JOBS:
                r.expand = "Expand" in inspect.physical_plan(df)
            r.status = check(q, df, con)
            final = df._jdf.queryExecution().executedPlan()
            r.reads = {}
            for f, builder in caches:
                if f.columns == _LOOP_INPUTS.get(name):
                    continue
                key = ident(builder)
                plans = [final] + [b.cachedPlan() for _, b in caches if ident(b) != key]
                r.reads[tuple(f.columns)] = sum(_cache_scans(ident, p, key) for p in plans)
        except Exception as e:
            r.status = f"ERROR: {type(e).__name__}: {e}"
        finally:
            caching.clear_materialized()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)
    return records


@pytest.fixture(scope="session")
def registry_pass(spark):
    """The one registry-wide sweep: every registered query built,
    planned, executed and checked against its DuckDB oracle once at
    sf0.001 (about 4 minutes on 4 cores). Tests read its records
    instead of rebuilding the registry."""
    # a later test file must not see a session another test re-tuned
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(SHUFFLE_PARTITIONS)
    return run_registry_pass(spark, QUERIES, SF_DIR)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sim_graph():
    """(edges, sims): the bucketed similarity graph replicated in pure
    Python with Spark's exact fold order (sequential double adds) —
    the independent reference for every graph operator test."""
    import collections
    import math

    import duckdb

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM '{SF_DIR}/embeddings.parquet'"
    ).fetchall()
    vecs = {vid: [float(x) for x in emb] for vid, emb in rows}
    bucket = {
        vid: (v[0] > 0) * 8 + (v[1] > 0) * 4 + (v[2] > 0) * 2 + (v[3] > 0)
        for vid, v in vecs.items()
    }
    norms = {}
    for vid, v in vecs.items():
        acc = 0.0
        for x in v:
            acc += x * x
        norms[vid] = acc
    by_bucket = collections.defaultdict(list)
    for vid in sorted(vecs):
        by_bucket[bucket[vid]].append(vid)

    from decimal import ROUND_HALF_UP, Decimal

    def r6(x: float) -> float:
        return float(
            Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        )

    sims = {}
    for ids in by_bucket.values():
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                acc = 0.0
                for x, y in zip(vecs[a], vecs[b]):
                    acc += x * y
                sims[(a, b)] = r6(
                    acc / (math.sqrt(norms[a]) * math.sqrt(norms[b]))
                )
    edges = {p for p, c in sims.items() if c >= 0.2}
    return edges, sims
