"""Round-7 batch 1: engine-machinery operators — each entry exercises
a distinct Spark execution-engine feature rather than a new statistic
(round-6 verdict directive #3: depth over breadth, new machinery over
new math): Arrow-native mapInArrow, cogrouped applyInPandas, bucketed
co-located joins, partition-pruned reads, the Spark 4 Python
DataSource V2 API, and exchange reuse.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import on_close, scratch_dir
from direct_kafka_stream_spark.exprs import dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


# ---------------------------------------------------------------------------
# q_map_in_arrow — Arrow-native batch UDF (no pandas materialization)
# ---------------------------------------------------------------------------


@query(
    "q_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
               AS n_spaces
    FROM documents
    """,
    tags=("udf", "arrow", "engine"),
)
def q_map_in_arrow(spark: SparkSession, d: str):
    """Per-document byte/char/space counts computed in a mapInArrow
    UDF with pure pyarrow.compute kernels — the zero-copy Arrow path:
    record batches flow Python-side WITHOUT a pandas conversion
    (mapInPandas pays the Arrow→pandas→Arrow round trip per batch;
    mapInArrow hands the raw batch to vectorized C++ kernels). The
    cheapest Python escape hatch Spark has, and the template for any
    custom columnar kernel (tokenizers, codecs) at 100 TB: one pass,
    partition-parallel, zero shuffle, fixed-width outputs."""
    return arrow_counts(load_table(spark, d, "documents"))


def arrow_counts(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""

    def counts(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars", "n_spaces"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        counts, "doc_id long, n_bytes long, n_chars long, n_spaces long"
    )


# ---------------------------------------------------------------------------
# q_cogroup_asof — cogrouped applyInPandas (two-sided grouped Arrow UDF)
# ---------------------------------------------------------------------------


@query(
    "q_cogroup_asof",
    oracle="""
    WITH c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    nxt AS (
        SELECT c.event_id, c.user_id,
               CAST(epoch(date_trunc('second', c.ts)) AS BIGINT) AS c_s,
               CAST(epoch(date_trunc('second', MIN(p.ts))) AS BIGINT) AS p_s
        FROM c LEFT JOIN p
          ON p.user_id = c.user_id AND p.ts >= c.ts
        GROUP BY c.event_id, c.user_id, c.ts
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN p_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           CAST(SUM(CASE WHEN p_s IS NOT NULL THEN p_s - c_s ELSE 0 END)
                AS BIGINT) AS total_wait_s
    FROM nxt GROUP BY user_id
    """,
    tags=("udf", "arrow", "asof", "engine"),
)
def q_cogroup_asof(spark: SparkSession, d: str):
    """Per-user click→next-purchase as-of merge via COGROUPED
    applyInPandas — Spark's two-sided grouped Arrow UDF: both streams
    shuffle once on user_id, arrive as per-key pandas frame PAIRS, and
    the as-of scan runs as a vectorized searchsorted per user instead
    of the range-join the pure-SQL form needs. The machinery exhibit
    for custom two-table per-key logic (as-of merges, interval
    reconciliation, order-book replay).

    Scale shape: the cogroup key is COARSENED to a 64-way user bucket
    — one Python invocation per bucket, not per user — and the
    per-user as-of scans run vectorized inside the bucket frame. A
    per-user cogroup pays the Arrow round-trip once per key (~10k
    invocations at sf0.1, measured 7 s); the bucketed form pays it 64
    times total (measured ~1 s) and the ratio only improves with
    scale. This granularity trade is the standard recipe for
    many-small-groups grouped UDFs. The equivalent q_join_asof plan is
    the better choice when the probe side is huge and unsharded —
    this is the better one when per-key logic outgrows SQL."""
    return cogroup_asof_report(load_table(spark, d, "events"))


_COGROUP_BUCKETS = 64


def _cogroup_merge(left, right):
    """Per-bucket click→next-purchase merge, FULLY vectorized: one
    sort per side, one ``pd.merge_asof`` (by=user_id, forward), one
    grouped aggregate — zero Python-per-user iterations. The matched
    purchase is carried as a row INDEX (small int, exact in the
    float64 the merge emits for misses) and the ns timestamp is
    re-read from the int64 source array, because ns epochs (~1.7e18)
    exceed float64's 2^53 integer range and would round."""
    import numpy as np
    import pandas as pd

    _OUT = ["user_id", "n_clicks", "n_converted", "total_wait_s"]
    if left.empty:
        return pd.DataFrame(columns=_OUT)
    if "user_id" not in left.columns:
        # Catalyst prunes cogroup INPUT columns down to the grouping
        # key when a plan discards the UDF's output. Spark today does
        # this only to the RIGHT side (pinned in
        # tests/test_engine_features.py); if a future planner prunes
        # the LEFT, fail loudly instead of silently returning 0 rows
        # to a .count().
        raise RuntimeError(
            "cogroup_asof_report: left cogroup input was pruned to "
            f"columns {list(left.columns)} — the plan discarded the "
            "UDF output; read the result instead of only counting it"
        )
    if "user_id" not in right.columns:
        right = pd.DataFrame({"user_id": [], "ts": []})
    l = pd.DataFrame(
        {
            "user_id": left["user_id"].to_numpy(np.int64),
            "c_ns": left["ts"].to_numpy("datetime64[ns]").astype(np.int64),
        }
    ).sort_values("c_ns", kind="mergesort", ignore_index=True)
    r = pd.DataFrame(
        {
            "user_id": right["user_id"].to_numpy(np.int64),
            "p_ns": right["ts"].to_numpy("datetime64[ns]").astype(np.int64),
        }
    ).sort_values("p_ns", kind="mergesort", ignore_index=True)
    p_ns = r["p_ns"].to_numpy()
    r["ridx"] = np.arange(len(r), dtype=np.int64)
    if r.empty:
        hit = np.zeros(len(l), dtype=bool)
        merged = l
    else:
        merged = pd.merge_asof(
            l,
            r,
            left_on="c_ns",
            right_on="p_ns",
            by="user_id",
            direction="forward",
            allow_exact_matches=True,
        )
        ridx = merged["ridx"].to_numpy(np.float64)
        hit = ~np.isnan(ridx)
    c_s = merged["c_ns"].to_numpy() // 1_000_000_000
    wait = np.zeros(len(merged), dtype=np.int64)
    if hit.any():
        p_s = p_ns[merged["ridx"].to_numpy(np.float64)[hit].astype(np.int64)]
        wait[hit] = p_s // 1_000_000_000 - c_s[hit]
    return (
        pd.DataFrame(
            {
                "user_id": merged["user_id"].to_numpy(),
                "hit": hit.astype(np.int64),
                "wait": wait,
            }
        )
        .groupby("user_id", sort=False, as_index=False)
        .agg(
            n_clicks=("hit", "size"),
            n_converted=("hit", "sum"),
            total_wait_s=("wait", "sum"),
        )
    )


def cogroup_asof_report(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    bucket = F.pmod(F.col("user_id"), F.lit(_COGROUP_BUCKETS)).alias("bucket")
    clicks = ev.filter(F.col("event_type") == "click").select(
        bucket, "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        bucket, "user_id", "ts"
    )
    return (
        clicks.groupBy("bucket")
        .cogroup(buys.groupBy("bucket"))
        .applyInPandas(
            _cogroup_merge,
            "user_id long, n_clicks bigint, n_converted bigint, total_wait_s bigint",
        )
    )


# ---------------------------------------------------------------------------
# q_bucket_join — bucketed tables joined WITHOUT a shuffle
# ---------------------------------------------------------------------------

_BUCKETS = 8


@query(
    "q_bucket_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "engine", "scale"),
)
def q_bucket_join(spark: SparkSession, d: str):
    """Co-located join via BUCKETED tables: both sides are written
    bucketed (and sorted) by the join key into {_BUCKETS} buckets, so
    the subsequent join needs NO exchange on either side — the bucket
    layout IS the shuffle, paid once at write time and amortized over
    every later join (verified by tests/test_plans.py with broadcast
    disabled: zero Exchange under the SortMergeJoin). This is THE
    100 TB pattern for fact-to-fact joins repeated across a pipeline:
    at cluster scale the bucketed write replaces per-query tera-scale
    shuffles with a one-time layout cost.

    The result itself is scale-independent of the layout — the oracle
    is the plain join aggregate."""
    scratch = scratch_dir("bucket")
    tag = scratch.rsplit("_", 1)[1]
    o = load_table(spark, d, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, d, "lineitem").select("l_orderkey", "l_extendedprice")
    to_name = f"dks_bucket_orders_{tag}"
    tl_name = f"dks_bucket_lineitem_{tag}"
    # the scope drops both tables, then removes their files (an
    # external-table DROP leaves them)
    for name in (to_name, tl_name):
        on_close(partial(spark.sql, f"DROP TABLE IF EXISTS {name}"))
    (
        o.write.mode("overwrite")
        .format("parquet")
        .option("path", f"{scratch}/orders")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(to_name)
    )
    (
        li.write.mode("overwrite")
        .format("parquet")
        .option("path", f"{scratch}/lineitem")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(tl_name)
    )
    ob = spark.table(to_name)
    lb = spark.table(tl_name)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q_partition_prune — partitioned layout + partition-pruned scan
# ---------------------------------------------------------------------------

_PP_LO, _PP_HI = "2024-01-08", "2024-01-14"


@query(
    "q_partition_prune",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{_PP_LO}' AND '{_PP_HI}'
    GROUP BY 1
    """,
    tags=("source", "partitioning", "engine", "scale"),
)
def q_partition_prune(spark: SparkSession, d: str):
    """Hive-style partitioned layout + pruned read: events are written
    partitioned by day (directory-per-day), then re-read with a day
    filter that Catalyst resolves at PLANNING time — the scan touches
    only the matching directories (PartitionFilters in the plan,
    pinned by tests/test_plans.py), not one row of the others. The
    difference between reading 7 days and reading 100 TB: at cluster
    scale this layout + filter is what makes time-ranged queries on an
    append-only fact table O(range) instead of O(history)."""
    scratch = scratch_dir("ppart")
    ev = load_table(spark, d, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(scratch)
    # explicit schema: a zero-row write creates no partition dirs, and
    # schema inference would fail on the empty layout
    back = (
        spark.read.schema(ev.schema)
        .option("basePath", scratch)
        .parquet(scratch)
    )
    # partition-type inference reads the directory value back as DATE;
    # the filter stays on the raw partition column (that's what prunes),
    # the output casts to string to match the oracle's strftime
    return (
        back.filter(F.col("day").between(_PP_LO, _PP_HI))
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total"),
        )
    )


# ---------------------------------------------------------------------------
# q_python_datasource — Spark 4 Python DataSource V2 (custom source)
# ---------------------------------------------------------------------------

_PDS_N = 10_000
_PDS_PARTS = 8


@query(
    "q_python_datasource",
    oracle=f"""
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i * i % 97) AS BIGINT) AS checksum
    FROM range({_PDS_N}) t(i)
    GROUP BY 1
    """,
    tags=("source", "engine"),
)
def q_python_datasource(spark: SparkSession, d: str):
    """Custom batch source via the Spark 4 PYTHON DataSource V2 API —
    the pure-Python connector surface (pyspark.sql.datasource): the
    source declares its schema, splits itself into {_PDS_PARTS} input
    partitions, and each partition's reader yields rows
    executor-side in parallel. The template for connecting Spark to
    any Python-reachable system (REST APIs, vector DBs, bespoke
    formats) without writing a JVM connector; reads are
    partition-parallel and land directly in Arrow batches.

    The generator is deterministic (i, i²%97 per i) so the DuckDB
    range() oracle reproduces it exactly."""
    from direct_kafka_stream_spark.sources.pyds import SyntheticDataSource

    try:
        spark.dataSource.register(SyntheticDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("dks_synthetic")
        .option("n", str(_PDS_N))
        .option("partitions", str(_PDS_PARTS))
        .load()
    )
    return df.groupBy((F.col("i") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("checksum").cast("bigint").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# q_exchange_reuse — one aggregate, two consumers, ONE shuffle
# ---------------------------------------------------------------------------


@query(
    "q_exchange_reuse",
    oracle=f"""
    WITH m AS (
        SELECT strftime(ts, '%Y-%m') AS month,
               {dsum_sql('value')} AS rev
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT month, rev,
           round(rev / NULLIF((SELECT SUM(rev) FROM m), 0.0), 6) AS share
    FROM m
    """,
    tags=("plan", "engine"),
)
def q_exchange_reuse(spark: SparkSession, d: str):
    """Monthly revenue share-of-total from ONE aggregate read twice —
    the diamond DAG: the monthly rollup feeds both the detail rows and
    the global total, and Spark plans a single shuffle with a
    ReusedExchange for the second consumer (pinned AQE-off by
    tests/test_plans.py; under AQE the same dedup happens via shuffle-
    stage reuse). The engine-level sharing that makes same-CTE-twice
    queries pay for their exchange once — at 100 TB this halves the
    shuffle volume of every share-of-total / compare-to-aggregate
    query. (A prior-month SELF-JOIN variant would NOT reuse: the join
    pushes asymmetric isnotnull filters into the two branches and
    breaks canonical plan equality — the negative case the plan test
    documents.)"""
    ev = load_table(spark, d, "events").filter(
        F.col("event_type") == "purchase"
    )
    m = ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month")).agg(
        dsum(F.col("value")).alias("rev")
    )
    tot = m.agg(F.sum("rev").alias("tot_rev"))
    return m.crossJoin(F.broadcast(tot)).select(
        "month",
        "rev",
        F.round(
            F.col("rev") / F.nullif(F.col("tot_rev"), F.lit(0.0)), 6
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# q_sql_pipe — Spark 4 SQL pipe syntax end-to-end
# ---------------------------------------------------------------------------


@query(
    "q_sql_pipe",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    """,
    tags=("sql", "engine"),
)
def q_sql_pipe(spark: SparkSession, d: str):
    """The same filter→aggregate expressed in Spark 4's SQL PIPE
    syntax (`FROM t |> WHERE ... |> AGGREGATE ... GROUP BY ...`) — the
    linear query dialect that reads in execution order. The pipe
    operators lower to the identical Catalyst logical plan as the
    nested form (same pushdown, same partial aggregation), so this is
    a parser-surface exhibit with a classic-SQL oracle proving the
    semantics match engine-for-engine."""
    load_table(spark, d, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 25
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(38,10))), 4) AS DOUBLE)
                         AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue
        """
    )


# ---------------------------------------------------------------------------
# q_sql_udf — SQL-defined scalar + table functions (optimizer-inlined)
# ---------------------------------------------------------------------------


@query(
    "q_sql_udf",
    oracle=f"""
    WITH b AS (
        SELECT o_orderpriority,
               o_totalprice * (1 - 0.04) AS net,
               CASE WHEN o_totalprice >= 200000 THEN 'big'
                    WHEN o_totalprice >= 50000 THEN 'mid'
                    ELSE 'small' END AS bucket
        FROM orders
    )
    SELECT o_orderpriority, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('net')} AS net_total
    FROM b GROUP BY o_orderpriority, bucket
    """,
    tags=("sql", "udf", "engine"),
)
def q_sql_udf(spark: SparkSession, d: str):
    """SQL-defined functions (CREATE FUNCTION ... RETURN expr) applied
    over orders — the UDF form that costs NOTHING at execution: the
    analyzer inlines the body into the plan, so pushdown, constant
    folding and whole-stage codegen all still apply (unlike any
    Python/JVM lambda UDF, which is an optimization barrier). The
    right default for reusable business logic at 100 TB; the oracle
    inlines the same expressions by hand to prove semantic identity."""
    load_table(spark, d, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dks_net(p DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - 0.04)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dks_bucket(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p >= 200000 THEN 'big' "
        "WHEN p >= 50000 THEN 'mid' ELSE 'small' END"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, dks_bucket(o_totalprice) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(dks_net(o_totalprice)
                                   AS DECIMAL(38,10))), 4) AS DOUBLE)
                   AS net_total
        FROM orders GROUP BY o_orderpriority, dks_bucket(o_totalprice)
        """
    )
