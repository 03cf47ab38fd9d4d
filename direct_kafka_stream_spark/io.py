"""Batch table IO over the fixture star schema.

Tables are columnar Parquet; ``spark.read.parquet`` gives Catalyst the
scan it can push filters into and prune columns from (check with
``df.explain`` → ``PushedFilters`` / ``ReadSchema``). At 100 TB these
would be partitioned/bucketed tables behind a catalog; the loader shape
(name → DataFrame + temp view) is the same.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale
# (region/nation are bounded by geography; part/supplier/customer grow
# with SF but stay orders of magnitude under the fact tables).
BROADCAST_SAFE = ("region", "nation")


# Columns stored as parquet TIMESTAMP(NANOS), which Spark 4 cannot read
# natively: with spark.sql.legacy.parquet.nanosAsLong=true they arrive
# as int64 nanos and are converted to TimestampType (µs) here. The
# fixture's ns values are µs-aligned so the DIV is lossless.
_NANOS_TS_COLS = {"events": ("ts",)}


# Session-scoped TABLE-PLAN cache (round-12 optimization). Every
# ``spark.read.parquet`` pays a py4j round trip + file listing + footer
# schema read — measured 250-300 ms per call on this host — and a bench
# sweep makes ~800 such calls for the same ten immutable fixtures. A
# real deployment fronts scans with a catalog whose metadata is read
# once; this cache is that catalog shape: it memoizes the ANALYZED scan
# DataFrame per (session, dir, table, file-stamp). No data and no
# results are cached — every query still executes its full scan from
# the parquet bytes; only the driver-side relation metadata is reused.
# The stamp (mtime_ns, size) auto-invalidates if the fixture file is
# rewritten mid-session (e.g. a probe re-materializing a scale dir).
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _path_stamp(path: str):
    """Cheap freshness stamp for a table path; None = not cacheable.

    A directory-backed table (the multi-file scale-probe dirs) folds
    every contained file's (mtime_ns, size) into the stamp: directory
    mtime alone only changes when entries are added/removed, so an
    in-place rewrite of a part file would otherwise serve a stale
    cached relation. The single-file fixture fast path stays one stat."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return (st.st_mtime_ns, st.st_size)
        mt, sz, n = st.st_mtime_ns, 0, 0
        for root, _dirs, files in os.walk(path):
            for f in files:
                fst = os.stat(os.path.join(root, f))
                mt = max(mt, fst.st_mtime_ns)
                sz += fst.st_size
                n += 1
        return (mt, sz, n)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    global _TABLE_CACHE
    if _TABLE_CACHE is None:
        import weakref

        _TABLE_CACHE = weakref.WeakKeyDictionary()

    path = f"{sf_dir}/{name}.parquet"
    stamp = _path_stamp(path)
    # Read-affecting confs are part of the cache key: the analyzed scan
    # bakes in whatever inferTimestampNTZ/nanosAsLong were active when
    # it was first built, and a driver-provided session may call
    # load_table BEFORE tune_session pins them — the relation must be
    # re-derived once the confs change, not served frozen.
    try:
        conf_key = (
            spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", None),
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None),
        )
    except Exception:
        conf_key = None
    per_session = None
    if stamp is not None and conf_key is not None:
        try:
            per_session = _TABLE_CACHE.setdefault(spark, {})
        except TypeError:  # exotic session objects that refuse weakrefs
            per_session = None
        if per_session is not None:
            hit = per_session.get((sf_dir, name, conf_key))
            if hit is not None and hit[0] == stamp:
                return hit[1]

    df = spark.read.parquet(path)
    for col in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
    if per_session is not None:
        per_session[(sf_dir, name, conf_key)] = (stamp, df)
    return df


# Per-core input-bytes floor under which a scan cannot feed every core:
# Spark chops files into splits of at most maxPartitionBytes (default
# 128 MB), and our single-row-group fixture files cannot split at all —
# so when the WHOLE input is smaller than cores × split size, the scan
# stage is guaranteed to run on fewer tasks than cores.
_SPREAD_BYTES_PER_CORE = 128 * 1024 * 1024


def _local_input_bytes(df: DataFrame) -> int | None:
    """Total bytes behind a DataFrame's file scans, when every input is
    a local file; None when unknown (non-file scheme, stat failure, or
    no file inputs) — callers must treat None as 'do not touch'."""
    try:
        files = df.inputFiles()
        if not files:
            return None
        total = 0
        for u in files:
            parsed = urllib.parse.urlparse(u)
            if parsed.scheme not in ("file", ""):
                return None
            # inputFiles() URIs are percent-encoded; stat the decoded
            # path or any space/non-ASCII fixture path silently turns
            # the spread off via the except below
            total += os.stat(urllib.parse.unquote(parsed.path)).st_size
        return total
    except Exception:
        return None


def spread_scan(df: DataFrame, key: str) -> DataFrame:
    """Repartition a narrow scan across all cores — ONLY when the input
    is provably too small to feed them (guide §2.5 'input skew: one
    huge unsplittable file'; our fixture parquet is one file with ONE
    row group, so every scan stage is a single task and all per-row
    compute — md5 fan-outs, shingling, decimal moment sums — runs on
    one core of local[N]).

    Scale-adaptive by construction, not a local[32] constant: the gate
    compares the scan's total input bytes against cores × 128 MB (the
    default maxPartitionBytes split size). At 100 TB the inputs dwarf
    the threshold on any core count, the gate short-circuits, and the
    plan is byte-identical to the unspread one — so the probe-passed
    SCALE.md envelopes still hold (the scale_probe's inflated tables
    are multi-file but MB-sized, still under the threshold → spread,
    matching the probed plans). Keyed (hash) repartition so no
    determinism sort is needed; key must be high-cardinality relative
    to the core count (table primary keys are)."""
    from direct_kafka_stream_spark.session import session_cores

    cores = session_cores(df.sparkSession)
    total = _local_input_bytes(df)
    if total is None or total >= cores * _SPREAD_BYTES_PER_CORE:
        return df
    return df.repartition(cores, key)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names=TABLES,
    register: bool = True,
) -> dict[str, DataFrame]:
    """Load fixture tables; optionally register each as a temp view so
    SQL-form queries can reference them by bare name (matching the
    DuckDB oracle's pre-registered views)."""
    out: dict[str, DataFrame] = {}
    for n in names:
        df = load_table(spark, sf_dir, n)
        if register:
            df.createOrReplaceTempView(n)
        out[n] = df
    return out
