"""Physical-plan inspection helpers — the engine's own guardrails that
queries compile to the plans we designed for (SURVEY.md §4): filters
reach the parquet scan, small dims broadcast, scans prune columns,
whole-stage codegen covers the hot path. Used by tests/test_plans.py.

Also the one way the bench (bench.py) and the scale probe
(scripts/scale_probe.py) run a query and count its work: ``execute``
drains a frame, ``group_counts`` reads what a job group cost and
``final_plan_ops`` summarizes the AQE final plan.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def plan_contains(df: DataFrame, *needles: str) -> bool:
    plan = physical_plan(df)
    return all(n in plan for n in needles)


def has_broadcast_join(df: DataFrame) -> bool:
    return plan_contains(df, "BroadcastHashJoin") or plan_contains(
        df, "BroadcastNestedLoopJoin"
    )


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters: [...] section(s) of the scan nodes."""
    plan = physical_plan(df)
    return "\n".join(l.strip() for l in plan.splitlines() if "PushedFilters" in l)


def read_schema(df: DataFrame) -> str:
    plan = physical_plan(df)
    return "\n".join(l.strip() for l in plan.splitlines() if "ReadSchema" in l)


def execute(df: DataFrame) -> None:
    """Run ``df`` to completion without moving a row to the driver.

    This executes the Dataset's own QueryExecution, in parallel on the
    executors, so afterwards ``executedPlan()`` is the AQE final plan.
    A write (even to the noop sink) would plan and run a separate
    QueryExecution, and ``toLocalIterator`` runs one job per partition
    of the final stage."""
    df._jdf.queryExecution().toRdd().count()


_PLAN_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "Exchange",
    "AQEShuffleRead",
    "Window",
)


def final_plan_ops(df: DataFrame) -> dict[str, int]:
    """Operator histogram (join strategies, exchanges, AQE shuffle
    reads, windows) of ``df``'s executed plan; read it after
    ``execute(df)`` to get the AQE final plan. ``aqe_final`` records
    whether the adaptive plan was final when read."""
    s = df._jdf.queryExecution().executedPlan().toString()
    # a finalized AdaptiveSparkPlan prints BOTH "== Final Plan ==" and
    # "== Initial Plan ==" sections; count operators in the final one
    # only (the initial section would double — or, where AQE re-planned,
    # distort — every count)
    s = s.split("== Initial Plan ==")[0]
    hist = {
        op: len(re.findall(rf"\b{op}\b", s))
        for op in _PLAN_OPS
        if re.search(rf"\b{op}\b", s)
    }
    if "AdaptiveSparkPlan" in s:
        hist["aqe_final"] = int("isFinalPlan=true" in s)
    return hist


def group_counts(spark, group: str) -> dict[str, float]:
    """What the jobs run under job group ``group`` cost: jobs, stages,
    tasks, task CPU ms, shuffle read and write bytes, spill bytes.

    Read from the application status store, which Spark's listener bus
    fills whether or not the web UI runs, so it works on any session.
    A stage a job skipped (its shuffle output was reused) or never ran
    is not counted; a task counts whether it completed, failed or was
    killed. The store keeps only the newest jobs and stages
    (``spark.ui.retainedJobs``/``retainedStages``, 1,000 each), so read
    a group right after its jobs ran."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # the store is filled asynchronously; drain the bus so the jobs just
    # finished are all in it
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    counts = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "cpu_ms": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
    }
    cpu_ns = 0
    store = jsc.statusStore()
    for sid in stage_ids:
        # past retainedStages the store evicts skipped stages first, so
        # a stage it no longer holds was skipped
        if tracker.getStageInfo(sid) is None:
            continue
        st = store.lastStageAttempt(sid)
        if st.status().toString() in ("SKIPPED", "PENDING"):
            continue
        counts["stages"] += 1
        counts["tasks"] += st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
        cpu_ns += st.executorCpuTime()
        counts["shuffle_read_bytes"] += st.shuffleReadBytes()
        counts["shuffle_write_bytes"] += st.shuffleWriteBytes()
        counts["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    counts["cpu_ms"] = round(cpu_ns / 1e6, 1)
    return counts


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans. With AQE the final plan only
    exists after execution, so run the query first and read the
    executed plan."""
    execute(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    ids = set()
    for line in plan.splitlines():
        if "codegen id :" in line:
            ids.add(line.split("codegen id :")[1].split("]")[0].strip())
        elif "WholeStageCodegen (" in line:
            ids.add(line.split("WholeStageCodegen (")[1].split(")")[0])
        else:
            # executedPlan.toString marks codegen spans as "*(n) Op"
            ids.update(re.findall(r"\*\((\d+)\)", line))
    return len(ids)


def unpartitioned_windows(plan: str) -> list[str]:
    """Window node lines of an OPTIMIZED-plan string whose
    partitionSpec is empty — each one executes single-partition and
    logs WindowExec's "No Partition Defined" warning. Bounded
    (bins-sized) frames must route through
    ``exprs.bounded_window_key`` so the intended one-partition plan
    keeps a non-foldable key and this detector stays silent; anything
    it flags is either a real scale bug or a key that Catalyst folded
    away.

    Node format: ``Window [functions], [partitionSpec], [orderSpec]``,
    with empty specs omitted — 3 top-level bracket groups when both
    are present, 2 when exactly one is. The orderSpec is the group
    whose entries carry ASC/DESC; a 2-group node whose last group has
    no ordering marker is partition-only (no warning). Bracket groups
    never nest ``], [`` internally, so a top-level split is exact."""
    bad = []
    for raw in plan.splitlines():
        line = raw.strip()
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        groups = m.group(1).split("], [")
        if len(groups) >= 3:
            continue
        last = groups[-1]
        order_only = " ASC" in last or " DESC" in last
        if len(groups) == 1 or order_only:
            bad.append(line[:200])
    return bad


def exchange_count(df: DataFrame) -> int:
    """Number of shuffle Exchange nodes in the physical plan (broadcast
    exchanges excluded) — the scale-critical number: each one is a full
    re-partition of its input across the cluster."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )
    return plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
