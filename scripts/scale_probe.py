#!/usr/bin/env python3
"""Scale probe: synthetically inflate the sf0.1 fixtures N× (default
10× → ~6M lineitem rows, an ~sf1 equivalent) and measure the heavy
registered queries at both scales — converting the 100 TB design
*argument* (bounded blocks, broadcast sizes, no quadratic joins) into
measured evidence: near-linear cost ratios and no plan flips. A query
is run and counted exactly as bench.py runs and counts it
(``plans.inspect``).

Subcommands
-----------
materialize OUTDIR [N] [table ...]
                         write the inflated tables as parquet under
                         OUTDIR — all tables, or just the named subset
                         (key-shifted copies; document text is
                         letter-rotated per copy so copies are NOT
                         near-duplicates of each other — duplicate
                         cluster structure, and therefore candidate
                         volume in the dedup family, scales linearly
                         exactly as an organically larger corpus would)
run SFDIR Q [Q...]       build and execute each registered query
                         once against SFDIR, under job groups
                         `<Q>:build` and `<Q>:exec`, and print one JSON
                         line per query: {"query", "sf_dir", "sec",
                         "counts", "plan"}. `sec` is the single-shot
                         wall of build plus execution, `counts` holds
                         bench.py's counts per phase, and `plan` is the
                         operator histogram (join strategies,
                         exchanges, AQE shuffle reads) of that same
                         execution's AQE final plan. Each query's
                         registry `scale_confs` (its probe-passed 100x
                         session knobs, SCALE.md/docs/TUNING.md) are
                         applied for its run and restored after — a
                         100x run needs NO --conf flags; explicit
                         --conf still wins on conflicting keys, and
                         --no-scale-confs probes the untuned plan

Flags (before the subcommand; `run` only)
------------------------------------------
--shuffle-partitions N   spark.sql.shuffle.partitions for the probe
                         session (the per-node-data-budget tunable:
                         the pair generators' 60x memory bound is a
                         per-TASK working-set bound, so more
                         partitions = smaller sort runs per task)
--driver-mem SIZE        spark.driver.memory (default: a quarter of
                         physical memory, at most 32g)
--timeout SEC            per-run guard (default 900): breach cancels
                         all jobs and records a DNF row instead of
                         hanging the host (round-9 memory note, now
                         encoded here)
--conf K=V               extra RUNTIME-settable spark conf for the
                         probe session (repeatable) — e.g. lower
                         spark.sql.adaptive.advisoryPartitionSizeInBytes
                         so AQE coalescing does not fold a raised
                         partition count back together (coalescing is
                         sized from map-side write bytes, which
                         under-state the pair generators' post-shuffle
                         explode)
--no-scale-confs         ignore the registry's per-query scale_confs
                         hints (A/B control for the knobs themselves)
--disk-floor-gb G        free-disk floor (default 10): external-sort
                         spill filling the root disk breaches the
                         guard BEFORE the host wedges; the killed
                         session is stopped cleanly and ITS OWN
                         scratch dirs swept (never a /tmp glob — a
                         concurrent session's dirs match the same
                         patterns)

Results are tracked in SCALE.md at the repo root.
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from direct_kafka_stream_spark import QUERIES, get_session, load_table
from direct_kafka_stream_spark.caching import clear_materialized
from direct_kafka_stream_spark.io import TABLES
from direct_kafka_stream_spark.plans.inspect import execute, final_plan_ops, group_counts

SF_DIR = "/root/testdata/sf0.1"
SHIFT = 10_000_000_000

# join keys that must shift together to preserve referential integrity
_KEY_COLS = {
    "customer": ("c_custkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    # region/nation are bounded by geography at every scale factor —
    # they stay fixed, like real TPC-H
    "region": (),
    "nation": (),
}

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def inflate_table(spark, name: str, n: int) -> DataFrame:
    df = load_table(spark, SF_DIR, name)
    keys = _KEY_COLS.get(name, ())
    if not keys:
        return df
    copies = []
    for i in range(n):
        c = df
        for k in keys:
            c = c.withColumn(k, F.col(k) + F.lit(i * SHIFT))
        if name == "documents" and i > 0:
            # per-copy letter BIJECTION (affine cipher a·x+b mod 26,
            # a coprime to 26): token lengths, whitespace and stats are
            # preserved, but copies share almost no shingles — so the
            # near-dup structure of each copy equals sf0.1's under a
            # token bijection and TOTAL duplicate volume scales
            # linearly, not quadratically. The affine family gives
            # 12×26 = 312 distinct maps (a plain Caesar rotation has
            # only 26 — beyond 26× copies would alias, multiplying
            # token document-frequencies and silently changing the
            # dedup workload, which round 8 measured as a bogus 7×
            # SPEEDUP of q_containment_dedup at 100×)
            coprimes = (1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)
            if i >= len(coprimes) * 26:
                raise ValueError(
                    f"inflation {n}× exceeds the {len(coprimes) * 26} distinct "
                    "letter bijections — copies would alias"
                )
            a = coprimes[(i // 26) % len(coprimes)]
            b = i % 26
            rot = "".join(_ALPHA[(a * k + b) % 26] for k in range(26))
            c = c.withColumn(
                "text",
                F.translate(
                    F.col("text"),
                    _ALPHA + _ALPHA.upper(),
                    rot + rot.upper(),
                ),
            )
        copies.append(c)
    return reduce(lambda a, b: a.unionByName(b), copies)


def materialize(outdir: str, n: int, only: list[str] | None = None) -> None:
    """Write the inflated tables under outdir. `only` restricts to a
    subset (e.g. just `events` for the restart capstone, just
    `documents` for the pair-generator envelope) — a full 100×
    materialization is ~8 GB of parquet the single-table probes never
    read."""
    spark = get_session("scale-probe-materialize")
    out = pathlib.Path(outdir)
    out.mkdir(parents=True, exist_ok=True)
    if only:
        unknown = set(only) - set(TABLES)
        if unknown:
            raise SystemExit(f"unknown tables: {sorted(unknown)}")
    rows = {}
    for name in only or TABLES:
        df = inflate_table(spark, name, n)
        dest = str(out / f"{name}.parquet")
        df.write.mode("overwrite").parquet(dest)
        rows[name] = spark.read.parquet(dest).count()
    print(json.dumps({"materialized": outdir, "inflate": n, "rows": rows}))


def _free_gb(path: str = "/tmp") -> float:
    import shutil

    return shutil.disk_usage(path).free / 2**30


def _session_scratch_dirs(spark) -> list[pathlib.Path]:
    """THIS session's Spark scratch: its blockmgr local dirs (from the
    live DiskBlockManager) and its /tmp/spark-<uuid> driver temp dir
    (parent of the SparkFiles root). Captured BEFORE spark.stop() —
    afterwards SparkEnv is gone."""
    dirs: list[pathlib.Path] = []
    try:
        jvm = spark.sparkContext._jvm
        env = jvm.org.apache.spark.SparkEnv.get()
        for f in env.blockManager().diskBlockManager().localDirs():
            dirs.append(pathlib.Path(f.getAbsolutePath()))
        dirs.append(
            pathlib.Path(jvm.org.apache.spark.SparkFiles.getRootDirectory()).parent
        )
    except Exception:
        pass
    return dirs


def _sweep_spark_scratch(own_dirs: list[pathlib.Path]) -> None:
    """Remove THIS session's leftover shuffle scratch after a guarded
    kill + clean stop (spark.stop() frees most of it; a cancelled
    external sort can leave stragglers). Deliberately does NOT glob
    /tmp/blockmgr-* or /tmp/spark-*: a CONCURRENT live session's
    scratch matches the same patterns, and deleting it kills that
    session's jobs — measured in round 10, not hypothetical (a glob
    sweep here failed 2 sweeps of a bench run in the next process).
    Orphans from externally SIGKILLed runs have no live owner to ask;
    they remain the manual round-cadence rule."""
    import shutil

    for d in own_dirs:
        shutil.rmtree(d, ignore_errors=True)


class _RunGuard:
    """Watchdog for one timed run: breaches on wall-clock timeout or on
    the free-disk floor (external-sort spill filling the root disk),
    cancels the session's jobs so the blocked write raises instead of
    wedging the host. Poll cadence 2 s."""

    def __init__(self, sc, timeout_s: float, disk_floor_gb: float):
        import threading

        self.reason: str | None = None
        self._stop = threading.Event()

        def watch() -> None:
            t0 = time.perf_counter()
            while not self._stop.wait(2.0):
                if time.perf_counter() - t0 > timeout_s:
                    self.reason = f"timeout>{timeout_s:g}s"
                elif _free_gb() < disk_floor_gb:
                    self.reason = f"disk_floor<{disk_floor_gb:g}GB"
                else:
                    continue
                try:
                    sc.cancelAllJobs()
                except Exception:
                    pass
                return

        self._t = threading.Thread(target=watch, daemon=True)
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


def run_queries(
    sf_dir: str,
    names: list[str],
    timeout_s: float = 900.0,
    disk_floor_gb: float = 10.0,
    extra_conf: dict[str, str] | None = None,
    use_scale_confs: bool = True,
) -> None:
    import os

    # Close the caller's open query scope now, so its conf restore does
    # not land on top of the probe session's set-up.
    clear_materialized()
    # The probe IS the scale path: set the scale flag so the registry
    # wrapper applies each query's probe-passed `scale_confs` (SCALE.md
    # knobs shipped with the query — a 100x run needs NO --conf flags).
    # --no-scale-confs turns this off for A/B probing of the knobs
    # themselves; explicit --conf values are re-asserted after the
    # wrapper runs, so the command line always wins on conflicts.
    # Save/restore the prior env value so an in-process caller (the
    # integration test, or any library user) doesn't inherit the flag.
    _prior_scale = os.environ.get("SPARK_GRAFT_SCALE")
    if use_scale_confs:
        os.environ["SPARK_GRAFT_SCALE"] = "1"
    else:
        os.environ.pop("SPARK_GRAFT_SCALE", None)
    try:
        _run_queries_inner(
            sf_dir, names, timeout_s, disk_floor_gb, extra_conf, use_scale_confs
        )
    finally:
        clear_materialized()
        if _prior_scale is None:
            os.environ.pop("SPARK_GRAFT_SCALE", None)
        else:
            os.environ["SPARK_GRAFT_SCALE"] = _prior_scale


def _run_queries_inner(
    sf_dir: str,
    names: list[str],
    timeout_s: float,
    disk_floor_gb: float,
    extra_conf: dict[str, str] | None,
    use_scale_confs: bool,
) -> None:
    def _make_session():
        s = get_session("scale-probe-run")
        # probe-level runtime confs (e.g. AQE advisoryPartitionSizeInBytes:
        # coalescing sizes partitions from map-side WRITE bytes, which
        # under-state the post-shuffle explode of the pair generators —
        # lowering the advisory keeps the raised partition count effective)
        for k, v in (extra_conf or {}).items():
            s.conf.set(k, v)
        return s

    spark = _make_session()
    sc = spark.sparkContext
    conf_note = {
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_mem": sc.getConf().get("spark.driver.memory"),
        "timeout_s": timeout_s,
        "disk_floor_gb": disk_floor_gb,
        "registry_scale_confs": use_scale_confs,
        **({"extra_conf": extra_conf} if extra_conf else {}),
    }
    print(json.dumps({"probe_conf": conf_note}), flush=True)
    # session warmup: pay JVM/codegen/first-scan cost outside the clock
    warm = "lineitem" if pathlib.Path(sf_dir, "lineitem.parquet").exists() else "documents"
    load_table(spark, sf_dir, warm).count()
    for name in names:
        # the query's scope (caching) keeps its scale confs through the
        # execution below, and restores them when the next query starts
        # or when run_queries returns
        q = QUERIES[name]
        guard = _RunGuard(sc, timeout_s, disk_floor_gb)
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{name}:build", name)
            df = q.spark(spark, sf_dir)
            # explicit --conf outranks the registry's scale hints
            for k, v in (extra_conf or {}).items():
                spark.conf.set(k, v)
            sc.setJobGroup(f"{name}:exec", name)
            execute(df)
        except Exception:
            elapsed = round(time.perf_counter() - t0, 2)
            guard.stop()
            if guard.reason is None:
                raise
            # guard breach: record the DNF row, then replace the
            # session — a cancelled external sort leaves partial
            # shuffle scratch the live session won't free
            dnf = {
                "query": name,
                "sf_dir": sf_dir,
                "dnf": guard.reason,
                "elapsed_at_kill_s": elapsed,
                "free_gb_at_kill": round(_free_gb(), 1),
            }
            print(json.dumps(dnf), flush=True)
            own = _session_scratch_dirs(spark)
            spark.stop()
            _sweep_spark_scratch(own)
            spark = _make_session()
            sc = spark.sparkContext
            load_table(spark, sf_dir, warm).count()
            continue
        sec = round(time.perf_counter() - t0, 2)
        guard.stop()
        row = {
            "query": name,
            "sf_dir": sf_dir,
            "sec": sec,
            "counts": {ph: group_counts(spark, f"{name}:{ph}") for ph in ("build", "exec")},
            "plan": final_plan_ops(df),
        }
        if q.scale_confs and use_scale_confs:
            row["scale_confs_applied"] = dict(q.scale_confs)
        print(json.dumps(row), flush=True)
    sc.setLocalProperty("spark.jobGroup.id", None)


def main() -> None:
    import os

    args = sys.argv[1:]
    # flags must be consumed BEFORE the session exists — shuffle
    # partitions and driver memory are session-construction settings,
    # routed through the same env vars get_session documents
    timeout_s, disk_floor_gb = 900.0, 10.0
    extra_conf: dict[str, str] = {}
    use_scale_confs = True
    while args and args[0].startswith("--"):
        flag = args[0]
        if flag == "--no-scale-confs":
            # A/B control: ignore the registry's per-query scale_confs
            # hints (probe the untuned plan)
            use_scale_confs = False
            args = args[1:]
            continue
        if len(args) < 2:
            raise SystemExit(f"flag {flag} needs a value")
        val = args[1]
        if flag == "--shuffle-partitions":
            os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(int(val))
        elif flag == "--driver-mem":
            os.environ["SPARK_GRAFT_DRIVER_MEM"] = val
        elif flag == "--timeout":
            timeout_s = float(val)
        elif flag == "--disk-floor-gb":
            disk_floor_gb = float(val)
        elif flag == "--conf":
            # runtime-settable spark confs only (set after getOrCreate),
            # e.g. --conf spark.sql.adaptive.advisoryPartitionSizeInBytes=8m
            k, eq, v = val.partition("=")
            if not eq or not k:
                # a typo like `--conf advisory16m` must not become a
                # silent no-op conf (key set to empty string)
                raise SystemExit(f"--conf expects K=V, got {val!r}")
            extra_conf[k] = v
        else:
            raise SystemExit(f"unknown flag {flag}")
        args = args[2:]
    if args and args[0] == "materialize":
        # materialize OUTDIR [N] [table ...] — N optional even when
        # tables are named: `materialize out events` means N=10
        if len(args) < 2:
            raise SystemExit("materialize needs an OUTDIR")
        n, tables = 10, args[2:]
        # args[2] is the count only if it is NOT a known table name
        # (so a hypothetical digit-named table could never be silently
        # reinterpreted as a huge inflation factor) and parses as int
        if tables and tables[0] not in TABLES:
            try:
                n = int(tables[0])
                tables = tables[1:]
            except ValueError:
                pass  # unknown token: let materialize() report it
        materialize(args[1], n, list(tables) or None)
    elif args and args[0] == "run":
        run_queries(
            args[1], args[2:], timeout_s, disk_floor_gb, extra_conf,
            use_scale_confs,
        )
    else:
        raise SystemExit(
            "usage: scale_probe.py [flags] materialize OUTDIR [N] [table ...]"
            " | run SFDIR Q [Q ...]"
        )


if __name__ == "__main__":
    main()
