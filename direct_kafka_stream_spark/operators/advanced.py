"""Advanced operator sweep: as-of, point-in-time and bitemporal joins,
hypertable-style rollup, correlated subqueries (TPC-H Q17/Q22 shapes),
Q18, unpivot, explode_outer, grouping ids, LOCF gap-fill windows, and
a non-file source.

Reference anchor: all user processing in the reference attaches at the
``map``/``foreachRDD`` hook (KafkaDirectStream.scala:43-51); these are
part of the extension surface mandated by BASELINE.json (SURVEY.md
§2.B), expressed Spark-first.

Scale notes (100 TB):
  * ``q_join_asof`` deliberately avoids the naive range-join (quadratic
    per user) — it is a union + one shuffle on the key + a linear
    running window, the same plan an ASOF JOIN specializes to.
  * ``q_rollup_hypertable`` derives the coarse grain FROM the fine
    grain (continuous-aggregate pattern): the raw table is read once;
    the day-level pass aggregates the tiny hourly result.
  * Correlated subqueries are decorrelated by Catalyst into
    aggregate + join — no per-row re-execution.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import davg_sql, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query


@query(
    "q_join_asof",
    oracle="""
    WITH views AS (
        SELECT user_id, ts, max(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, v.view_value
    FROM clicks c
    ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts <= c.ts
    """,
    tags=("join", "timeseries"),
)
def q_join_asof(spark: SparkSession, d: str):
    """As-of join: each click is matched to the most recent same-user
    view at-or-before it (LEFT semantics — clicks with no prior view
    keep NULL). Spark has no ASOF JOIN; the scalable composition is
    union-both-sides + ONE shuffle on the key + a linear running
    ``last(ignorenulls)`` window — O(n log n) per user vs the naive
    range-join's O(n^2). The whole join is ONE scan (the click/view
    filter pushes into the parquet read) and ONE shuffle: ties at equal
    (ts, side) are broken by view_value itself, so the running last()
    lands on the max view at that instant — the same deterministic
    tie-break the oracle gets from its max() pre-dedup."""
    e = load_table(spark, d, "events")
    unioned = e.filter(F.col("event_type").isin("click", "view")).select(
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("event_id"),
        "user_id",
        "ts",
        # views (0) sort before clicks (1) at equal ts → inclusive <= semantics
        (F.col("event_type") == "click").cast("int").alias("is_probe"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("view_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_probe", "view_value")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        unioned.withColumn(
            "last_view", F.last("view_value", ignorenulls=True).over(w)
        )
        .filter(F.col("is_probe") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("last_view").alias("view_value"),
        )
    )


@query(
    "q_join_asof_forward",
    oracle="""
    WITH views AS (
        SELECT user_id, ts, max(value) AS view_value
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    clicks AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us, v.view_value
    FROM clicks c
    ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.ts >= c.ts
    """,
    tags=("join", "timeseries"),
)
def q_join_asof_forward(spark: SparkSession, d: str):
    """Forward as-of join: each click matched to the NEXT same-user
    view at-or-after it (the look-ahead twin of q_join_asof — e.g.
    "first fill after the order"). Same single-scan single-shuffle
    composition, mirrored: clicks sort before same-ts views
    (is_probe desc) and a ``first(ignorenulls)`` window over
    [current, unbounded following] picks the nearest following view;
    view_value desc makes the within-instant tie land on the max,
    matching the oracle's max() pre-dedup."""
    e = load_table(spark, d, "events")
    unioned = e.filter(F.col("event_type").isin("click", "view")).select(
        F.when(F.col("event_type") == "click", F.col("event_id")).alias("event_id"),
        "user_id",
        "ts",
        (F.col("event_type") == "click").cast("int").alias("is_probe"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("view_value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(
            F.col("ts").asc(), F.col("is_probe").desc(), F.col("view_value").desc()
        )
        .rowsBetween(0, Window.unboundedFollowing)
    )
    return (
        unioned.withColumn(
            "next_view", F.first("view_value", ignorenulls=True).over(w)
        )
        .filter(F.col("is_probe") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.col("next_view").alias("view_value"),
        )
    )


@query(
    "q_rollup_hypertable",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql('value')} AS total
        FROM events GROUP BY date_trunc('hour', ts), event_type
    )
    SELECT 'hour' AS grain, epoch_us(bucket) AS bucket_us, event_type, n, total
    FROM hourly
    UNION ALL
    SELECT 'day' AS grain, epoch_us(date_trunc('day', bucket)) AS bucket_us,
           event_type, CAST(SUM(n) AS BIGINT) AS n, {dsum_sql('total')} AS total
    FROM hourly GROUP BY date_trunc('day', bucket), event_type
    """,
    tags=("agg", "timeseries"),
)
def q_rollup_hypertable(spark: SparkSession, d: str):
    """Hypertable/continuous-aggregate rollup: aggregate raw events to
    hourly buckets ONCE, then derive the daily grain from the hourly
    result (not from raw) — at 100 TB the coarse grains cost almost
    nothing because they re-aggregate an already-tiny table. Decimal
    sums keep the two-level sum bit-identical to a one-shot sum."""
    e = load_table(spark, d, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value").alias("total"))
    daily = hourly.groupBy(
        F.date_trunc("day", "bucket").alias("bucket"), "event_type"
    ).agg(F.sum("n").alias("n"), dsum("total").alias("total"))
    out_cols = [
        "grain",
        F.unix_micros("bucket").alias("bucket_us"),
        "event_type",
        "n",
        "total",
    ]
    return (
        hourly.withColumn("grain", F.lit("hour"))
        .select(*out_cols)
        .unionByName(daily.withColumn("grain", F.lit("day")).select(*out_cols))
    )


_Q17_SQL = f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           {dsum_sql('l_extendedprice')} AS revenue
    FROM lineitem l
    WHERE l_quantity < (
        SELECT 0.5 * ({davg_sql('l2.l_quantity')})
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@query("q_subquery_correlated", oracle=_Q17_SQL, tags=("subquery",))
def q_subquery_correlated(spark: SparkSession, d: str):
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below
    half their part's average quantity. Catalyst decorrelates this
    into a per-part aggregate joined back to the fact — one shuffle on
    l_partkey, never a per-row subquery execution. Same SQL text runs
    on both engines (decimal-exact avg)."""
    load_table(spark, d, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q17_SQL)


_Q22_SQL = f"""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_inactive,
           {dsum_sql('c_acctbal')} AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT {davg_sql('c_acctbal')}
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
"""


@query("q_subquery_exists", oracle=_Q22_SQL, tags=("subquery",))
def q_subquery_exists(spark: SparkSession, d: str):
    """NOT EXISTS + uncorrelated scalar subquery (TPC-H Q22 shape):
    above-average-balance customers who never ordered. Plans as a
    broadcast of the single-row average plus a left-anti join — the
    anti side only shuffles o_custkey, pruned to one column."""
    load_table(spark, d, "customer").createOrReplaceTempView("customer")
    load_table(spark, d, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q22_SQL)


@query(
    "q_tpch_q18",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, {dsum_sql('l_quantity')} AS qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {dsum_sql('l_quantity')} > 200
    )
    SELECT c_custkey, c_name, o.o_orderkey, o_totalprice, qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY qty DESC, o.o_orderkey LIMIT 10
    """,
    tags=("tpch",),
)
def q_tpch_q18(spark: SparkSession, d: str):
    """TPC-H Q18 (large-volume orders): HAVING-filtered fact aggregate
    drives the join; the big-orders set is small after the filter, and
    AQE converts the join to broadcast at runtime when it fits (no
    static hint — the set grows with SF).
    Top-k is deterministic: ties broken by the unique o_orderkey."""
    li = load_table(spark, d, "lineitem")
    o = load_table(spark, d, "orders")
    c = load_table(spark, d, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 200)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice", "qty")
        .orderBy(F.desc("qty"), "o_orderkey")
        .limit(10)
    )


@query(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS val
    FROM part
    """,
    tags=("reshape",),
)
def q_unpivot(spark: SparkSession, d: str):
    """Wide → long reshape (unpivot/melt). Narrow-side columns unify to
    double. Unpivot is a per-row flatMap — no shuffle at any scale."""
    p = load_table(spark, d, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    ).unpivot(
        ids=["p_partkey"],
        values=["p_size", "p_retailprice"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "q_explode_outer",
    oracle="""
    SELECT doc_id,
           unnest(CASE WHEN doc_id % 7 = 0 THEN [NULL]
                       WHEN doc_id % 5 = 0 THEN [NULL]
                       ELSE string_split(text, ' ')[1:2] END) AS token
    FROM documents
    """,
    tags=("functions", "array"),
)
def q_explode_outer(spark: SparkSession, d: str):
    """explode_outer: NULL and empty arrays keep their parent row (one
    NULL token) instead of disappearing — the LEFT JOIN of lateral
    views. DuckDB emulation: rewrite null/empty lists to [NULL]."""
    docs = load_table(spark, d, "documents")
    toks = F.slice(text.space_split(), 1, 2)
    arr = (
        F.when(F.col("doc_id") % 7 == 0, F.lit(None))
        .when(F.col("doc_id") % 5 == 0, F.array().cast("array<string>"))
        .otherwise(toks)
    )
    return docs.select("doc_id", F.explode_outer(arr).alias("token"))


@query(
    "q_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag)*2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_grouping_id(spark: SparkSession, d: str):
    """ROLLUP with grouping_id — distinguishes a real NULL group key
    from a subtotal row. Spark's grouping_id bit order (first rollup
    column = MSB) is reproduced arithmetically in the oracle."""
    li = load_table(spark, d, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("int").alias("gid"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_win_locf",
    oracle="""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS v,
           LAST_VALUE(CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM events
    """,
    tags=("window", "timeseries"),
)
def q_win_locf(spark: SparkSession, d: str):
    """Gap-fill by last-observation-carried-forward: ``last(...,
    ignorenulls=True)`` over a running frame — the standard timeseries
    imputation. One shuffle on user_id; linear within partition."""
    e = load_table(spark, d, "events")
    v = F.when(F.col("event_id") % 3 == 0, F.lit(None)).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        v.alias("v"),
        F.last(v, ignorenulls=True).over(w).alias("filled"),
    )


@query(
    "q_range_source",
    oracle="""
    SELECT CAST(range AS BIGINT) AS id,
           CAST(range * range AS BIGINT) AS sq,
           range % 2 = 0 AS is_even
    FROM range(0, 1000)
    """,
    tags=("source",),
)
def q_range_source(spark: SparkSession, d: str):
    """Generated (non-file) source: ``spark.range`` — a parallel,
    partitioned sequence generator (the fixture dir is unused). The
    backbone for synthetic-data fan-out at any scale."""
    return spark.range(0, 1000).select(
        "id",
        (F.col("id") * F.col("id")).alias("sq"),
        (F.col("id") % 2 == 0).alias("is_even"),
    )


@query(
    "q_join_pit",
    oracle=f"""
    WITH dim AS (
        SELECT o_custkey AS custkey,
               CAST(o_orderdate AS DATE) AS valid_from,
               LEAD(CAST(o_orderdate AS DATE))
                   OVER (PARTITION BY o_custkey ORDER BY o_orderdate,
                         o_orderkey) AS valid_to,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS tier
        FROM orders
    ),
    fact AS (
        SELECT o.o_custkey AS custkey,
               CAST(l.l_shipdate AS DATE) AS ship_day,
               l.l_extendedprice AS price
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT d.tier AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           round({dsum_sql('f.price')}, 2) AS revenue
    FROM fact f
    JOIN dim d ON d.custkey = f.custkey
              AND f.ship_day >= d.valid_from
              AND (d.valid_to IS NULL OR f.ship_day < d.valid_to)
    GROUP BY d.tier
    ORDER BY tier
    """,
    tags=("temporal", "join"),
)
def q_join_pit(spark: SparkSession, d: str):
    """Point-in-time (SCD-2) join: each lineitem is matched to the
    customer-order-count tier that was VALID ON ITS SHIP DATE —
    "which version of the dimension was true when the fact happened",
    the temporal join every slowly-changing-dimension warehouse needs
    (and the bitemporal cousin of q_join_asof's nearest-key lookup).

    The oracle states the semantics as the interval join; the Spark
    plan uses the scale-safe AS-OF COMPOSITION instead: dim-version
    starts and facts union into one stream, ONE customer-keyed window
    ordered by (time, dim-first) LOCFs the tier onto every fact —
    single shuffle, no range join, no nested loop (the
    q_join_asof pattern, extended with validity expiry handled by
    version start = predecessor end). Facts before their customer's
    first version drop (inner semantics) in both forms."""
    o = load_table(spark, d, "orders")
    li = load_table(spark, d, "lineitem")
    w_ver = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    dim = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("t"),
        F.row_number().over(w_ver).alias("tier"),
        F.lit(1).alias("is_dim"),
        F.lit(None).cast("double").alias("price"),
    )
    fact = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_shipdate").cast("date").alias("t"),
            F.lit(None).cast("int").alias("tier"),
            F.lit(0).alias("is_dim"),
            F.col("l_extendedprice").alias("price"),
        )
    )
    # dim rows sort before facts at the same instant (inclusive start)
    w_locf = (
        Window.partitionBy("custkey")
        .orderBy("t", F.col("is_dim").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = dim.unionByName(fact).withColumn(
        "cur_tier", F.last("tier", ignorenulls=True).over(w_locf)
    )
    return (
        tagged.filter((F.col("is_dim") == 0) & F.col("cur_tier").isNotNull())
        .groupBy(F.col("cur_tier").alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            F.round(dsum("price"), 2).alias("revenue"),
        )
        .orderBy("tier")
    )


# Bitemporal ledger: corrections for orderkey % 10 = 0 become known 30
# days after the order date; the query asks for state as-of valid time
# V as known at transaction time T.
_BT_VALID_AS_OF = "1996-06-30"
_BT_TX_AS_OF = "1996-07-15"


@query(
    "q_bitemporal",
    oracle=f"""
    WITH versions AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               o_orderdate AS valid_from, o_orderdate AS tx_from,
               o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               o_orderdate, o_orderdate + INTERVAL 30 DAY,
               o_totalprice + 5.0
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    known AS (
        SELECT * FROM versions
        WHERE valid_from <= TIMESTAMP '{_BT_VALID_AS_OF}'
          AND tx_from <= TIMESTAMP '{_BT_TX_AS_OF}'
    ),
    latest AS (
        SELECT k, status, price FROM (
            SELECT k, status, price,
                   ROW_NUMBER() OVER (PARTITION BY k
                                      ORDER BY tx_from DESC) AS rn
            FROM known
        ) WHERE rn = 1
    )
    SELECT status, COUNT(*) AS n_orders,
           {dsum_sql('price')} AS total_price
    FROM latest GROUP BY status
    """,
    tags=("temporal", "cdc"),
)
def q_bitemporal(spark: SparkSession, d: str):
    """Bitemporal as-of query: orders form a two-dimensional ledger
    (valid time = order date; transaction time = when each version
    became known, with price corrections recorded 30 days later for
    every tenth order), and the query reconstructs the state as-of a
    VALID date as it was KNOWN at a TRANSACTION date — corrections
    recorded after T are invisible even though their valid time
    qualifies. This composes q_scd2 (one time axis) and q_join_pit
    (as-of lookup) into the full bitemporal semantics auditing and
    backtesting require: 'what did we believe on July 15 about June
    30?'.

    Scale shape: both temporal predicates push into the scan
    (partition pruning on date-partitioned ledgers); the
    latest-version-per-key window partitions on the ledger key
    (bounded by versions per key — here ≤2, generally small); the
    rollup is an exact-decimal keyed aggregate."""
    o = load_table(spark, d, "orders")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderdate").alias("tx_from"),
        F.col("o_totalprice").alias("price"),
    )
    v2 = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            # o_orderdate is a timestamp: interval addition (NOT
            # date_add, which truncates to date) matches the oracle
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias(
                "tx_from"
            ),
            (F.col("o_totalprice") + 5.0).alias("price"),
        )
    )
    known = (
        v1.unionByName(v2)
        .filter(F.col("valid_from") <= _BT_VALID_AS_OF)
        .filter(F.col("tx_from") <= _BT_TX_AS_OF)
    )
    latest = (
        known.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.col("tx_from").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return latest.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price").alias("total_price"),
    )
