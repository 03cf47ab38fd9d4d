"""Batch relational operator inventory (SURVEY.md §2.B).

In the reference system all user processing attaches at a single
``map``/``foreachRDD`` hook (KafkaDirectStream.scala:43-51); here that
hook is the full DataFrame operator algebra. Every query below is
declarative — Catalyst gets predicate pushdown, column pruning, join
selection (broadcast vs sort-merge), and AQE runtime re-planning for
free.

Scale notes (100 TB):
  * Dimension joins (region/nation/customer/supplier/part) are
    broadcast — no shuffle of the fact table for those edges.
  * Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; at
    cluster scale both sides would be bucketed on orderkey to make this
    co-located. AQE skew-join handles hot keys.
  * Aggregates use partial (map-side) aggregation automatically; the
    DECIMAL-exact sums (see exprs.py) additionally make results
    shuffle-order independent, i.e. reproducible.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import (
    bounded_window_key,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    within_rel_bound,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.registry import query


def _net():
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_NET_SQL = "l_extendedprice * (1 - l_discount)"


# ---------------------------------------------------------------------------
# Scan / project / filter
# ---------------------------------------------------------------------------

@query("q_scan", oracle="SELECT * FROM lineitem", tags=("core",))
def q_scan(spark: SparkSession, d: str):
    """Full parquet scan. Columnar vectorized read; at scale, partition
    pruning + column pruning happen here."""
    return load_table(spark, d, "lineitem")


@query(
    "q_project",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, {_NET_SQL} AS net,
           l_quantity * l_tax AS taxed_qty
    FROM lineitem
    """,
    tags=("core",),
)
def q_project(spark: SparkSession, d: str):
    """Projection + computed columns. Catalyst prunes the parquet scan
    to exactly the referenced columns (check ReadSchema)."""
    li = load_table(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _net().alias("net"),
        (F.col("l_quantity") * F.col("l_tax")).alias("taxed_qty"),
    )


@query(
    "q_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_shipdate
    FROM lineitem
    WHERE l_quantity > 30
      AND l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1997-06-01'
      AND l_discount IS NOT NULL
    """,
    tags=("core",),
)
def q_filter(spark: SparkSession, d: str):
    """Conjunctive predicates: range, IN-list, timestamp compare,
    null check. All push down to the parquet scan (PushedFilters)."""
    li = load_table(spark, d, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= "1997-06-01")
        & F.col("l_discount").isNotNull()
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

@query(
    "q_join_inner",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join",),
)
def q_join_inner(spark: SparkSession, d: str):
    """Equi inner join fact→dim. Customer is small relative to orders:
    Catalyst/AQE picks broadcast-hash below the threshold."""
    o = load_table(spark, d, "orders")
    c = load_table(spark, d, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@query(
    "q_join_broadcast",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join",),
)
def q_join_broadcast(spark: SparkSession, d: str):
    """Same values as q_join_inner but with an explicit broadcast hint:
    the plan-level guarantee that the dim side never shuffles the fact
    table (BroadcastHashJoin in explain)."""
    o = load_table(spark, d, "orders")
    c = load_table(spark, d, "customer")
    return o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    """,
    tags=("join",),
)
def q_join_left(spark: SparkSession, d: str):
    c = load_table(spark, d, "customer")
    o = load_table(spark, d, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_right",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM orders RIGHT JOIN customer ON c_custkey = o_custkey
    """,
    tags=("join",),
)
def q_join_right(spark: SparkSession, d: str):
    o = load_table(spark, d, "orders")
    c = load_table(spark, d, "customer")
    return o.join(c, c.c_custkey == o.o_custkey, "right").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "q_join_full",
    oracle="""
    SELECT s_suppkey, s_name, big.l_orderkey, big.qty
    FROM supplier
    FULL OUTER JOIN (
        SELECT l_suppkey, l_orderkey, l_quantity AS qty
        FROM lineitem WHERE l_quantity > 49
    ) AS big ON s_suppkey = big.l_suppkey
    """,
    tags=("join",),
)
def q_join_full(spark: SparkSession, d: str):
    """Full outer join with nulls possible on either side (suppliers
    with no jumbo lineitems keep a null right side)."""
    s = load_table(spark, d, "supplier")
    li = (
        load_table(spark, d, "lineitem")
        .filter(F.col("l_quantity") > 49)
        .select("l_suppkey", "l_orderkey", F.col("l_quantity").alias("qty"))
    )
    return s.join(li, s.s_suppkey == li.l_suppkey, "full").select(
        "s_suppkey", "s_name", "l_orderkey", "qty"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
    tags=("join",),
)
def q_join_semi(spark: SparkSession, d: str):
    c = load_table(spark, d, "customer")
    o = load_table(spark, d, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 200000)
    """,
    tags=("join",),
)
def q_join_anti(spark: SparkSession, d: str):
    c = load_table(spark, d, "customer")
    o = load_table(spark, d, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT a.r_name AS from_region, b.r_name AS to_region
    FROM region AS a CROSS JOIN region AS b
    """,
    tags=("join",),
)
def q_join_cross(spark: SparkSession, d: str):
    """Cross join — only ever sane on bounded dims (5×5 here).
    Catalyst uses BroadcastNestedLoopJoin."""
    r = load_table(spark, d, "region")
    a = r.select(F.col("r_name").alias("from_region"))
    b = r.select(F.col("r_name").alias("to_region"))
    return a.crossJoin(b)


@query(
    "q_join_range",
    oracle="""
    SELECT a.event_id AS event_id, COUNT(*) AS n_following
    FROM events AS a
    JOIN events AS b
      ON a.user_id = b.user_id
     AND b.ts > a.ts
     AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY a.event_id
    """,
    tags=("join",),
)
def q_join_range(spark: SparkSession, d: str):
    """Non-equi (range) self-join: events followed by same-user events
    within 1 hour. The equi part (user_id) keys the shuffle; the range
    predicate evaluates post-shuffle — the same shape Spark uses for
    stream-stream interval joins. Skewed users would be salted at
    scale."""
    e = load_table(spark, d, "events")
    a = e.alias("a")
    b = e.alias("b")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.groupBy(F.col("a.event_id").alias("event_id")).agg(
        F.count(F.lit(1)).alias("n_following")
    )


@query(
    "q_join_multiway",
    oracle=f"""
    SELECT n_name,
           {dsum_sql(_NET_SQL)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("join", "flagship"),
)
def q_join_multiway(spark: SparkSession, d: str):
    """Flagship: TPC-H Q5 shape — 6-table star join + filter + agg.

    Physical strategy at scale: lineitem⋈orders is the only fact-fact
    edge (shuffle/bucketed on orderkey); customer/supplier/nation/region
    are all broadcast so the fact table is shuffled exactly once. The
    order filter prunes before the join (pushdown through the join)."""
    li = load_table(spark, d, "lineitem")
    o = load_table(spark, d, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = load_table(spark, d, "customer")
    s = load_table(spark, d, "supplier")
    n = load_table(spark, d, "nation")
    r = load_table(spark, d, "region").filter(F.col("r_name") == "ASIA")

    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(_net()).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------

@query(
    "q_agg_global",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           {dsum_sql('l_extendedprice')} AS sum_price,
           {davg_sql('l_quantity')} AS avg_qty,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship,
           MIN(l_discount) AS min_disc,
           MAX(l_discount) AS max_disc
    FROM lineitem
    """,
    tags=("agg",),
)
def q_agg_global(spark: SparkSession, d: str):
    """Ungrouped aggregate — partial aggregation map-side, single final
    reduce. Exact-decimal sums keep the result shuffle-order stable."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_extendedprice").alias("sum_price"),
        davg("l_quantity").alias("avg_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
        F.min("l_discount").alias("min_disc"),
        F.max("l_discount").alias("max_disc"),
    )


@query(
    "q_agg_group",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql(_NET_SQL)} AS sum_disc_price,
           {dsum_sql(f'({_NET_SQL}) * (1 + l_tax)')} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q_agg_group(spark: SparkSession, d: str):
    """TPC-H Q1 shape: hash aggregate over two low-cardinality keys."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(_net()).alias("sum_disc_price"),
        dsum(_net() * (1 + F.col("l_tax"))).alias("sum_charge"),
        davg("l_quantity").alias("avg_qty"),
        davg("l_extendedprice").alias("avg_price"),
        davg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "q_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("agg",),
)
def q_distinct(spark: SparkSession, d: str):
    li = load_table(spark, d, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@query(
    "q_agg_distinct",
    oracle="""
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS dist_orders,
           COUNT(DISTINCT l_suppkey) AS dist_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_agg_distinct(spark: SparkSession, d: str):
    """COUNT(DISTINCT) — Spark expands to a two-phase aggregate."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("dist_orders"),
        F.countDistinct("l_suppkey").alias("dist_supps"),
    )


# HLL++ relative standard deviation requested from approx_count_distinct,
# and the acceptance bound for the cross-engine check: 3 sigma of the
# published rsd (99.7% of sketches land inside; HLL is deterministic per
# dataset, so once green at a scale it stays green). Measured error on
# the fixtures: 0.2-3.3% — inside the 6% gate with headroom.
_HLL_RSD = 0.02
_HLL_BOUND = 3 * _HLL_RSD


@query(
    "q_agg_approx",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS dist_exact,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def q_agg_approx(spark: SparkSession, d: str):
    """HyperLogLog++ approximate count-distinct, verified by a
    bounded-relative-error gate instead of a rows-only check: the
    sketch estimate itself is not hash-matchable across engines
    (different sketch families), so the query also computes the EXACT
    distinct count and projects `within_bound` =
    |approx - exact| / exact <= 3*rsd — a boolean the oracle asserts as
    TRUE against its own exact count. A wrong sketch (or a broken
    estimator) flips the boolean and fails the hash. The exact
    companion exists for the gate only; at 100 TB the sketch alone is
    the point — one pass, fixed memory, no count-distinct expansion.

    Plan note: countDistinct and approx_count_distinct in ONE
    aggregate make Catalyst insert an Expand (row-multiplying
    projections for the mixed distinct/plain paths) over the full
    fact table — measured 3.7 s vs 1.3 s for the plain two-distinct
    aggregate at sf0.1. Instead, pre-aggregate on (flag, orderkey):
    n_rows is the sum of pair counts, dist_exact is the pair count,
    and the HLL sketch over deduplicated keys is REGISTER-IDENTICAL
    to one over the raw rows (HLL is multiplicity-insensitive) — one
    map-side-combined shuffle, no Expand.

    Null-key note: the pair pre-aggregation produces ONE group for a
    NULL l_orderkey, so a bare count(1) over groups would count it —
    diverging from COUNT(DISTINCT)'s null-ignoring semantics on a
    nullable key. dist_exact is therefore count(l_orderkey) over the
    groups (each group carries a distinct key value, so the non-null
    group count IS the distinct non-null key count); n_rows still sums
    every group's multiplicity, NULL-keyed rows included, matching the
    oracle's COUNT(*)."""
    li = load_table(spark, d, "lineitem")
    pairs = li.groupBy("l_returnflag", "l_orderkey").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        pairs.groupBy("l_returnflag")
        .agg(
            F.sum("c").alias("n_rows"),
            F.count("l_orderkey").alias("dist_exact"),
            F.approx_count_distinct("l_orderkey", _HLL_RSD).alias("approx"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "dist_exact",
            within_rel_bound("approx", "dist_exact", _HLL_BOUND).alias(
                "within_bound"
            ),
        )
    )


@query(
    "q_agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_agg_rollup(spark: SparkSession, d: str):
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "q_agg_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    tags=("agg",),
)
def q_agg_cube(spark: SparkSession, d: str):
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("l_quantity").alias("sum_qty")
    )


@query(
    "q_agg_gsets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    tags=("agg",),
)
def q_agg_gsets(spark: SparkSession, d: str):
    """GROUPING SETS via the SQL surface (no DataFrame equivalent)."""
    spread_scan(load_table(spark, d, "lineitem"), "l_orderkey").createOrReplaceTempView("lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows, {dsum_sql('l_quantity')} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "q_having",
    oracle=f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS total
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
    """,
    tags=("agg",),
)
def q_having(spark: SparkSession, d: str):
    o = load_table(spark, d, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total"))
        .filter(F.col("n_orders") > 12)
    )


# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------

@query(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(ROW_NUMBER() OVER w1 AS INTEGER) AS rn,
           CAST(NTILE(4)     OVER w1 AS INTEGER) AS quartile,
           CAST(RANK()       OVER w2 AS INTEGER) AS rnk,
           CAST(DENSE_RANK() OVER w2 AS INTEGER) AS drnk,
           PERCENT_RANK() OVER w2 AS prnk
    FROM orders
    WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey),
           w2 AS (PARTITION BY o_custkey ORDER BY o_orderstatus)
    """,
    tags=("window",),
)
def q_win_rank(spark: SparkSession, d: str):
    """Ranking windows. w1 has a total order (tiebreak on orderkey) so
    row_number/ntile are deterministic; w2 deliberately has ties so
    rank/dense_rank/percent_rank exercise peer groups."""
    o = load_table(spark, d, "orders")
    w1 = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w1).alias("rn"),
        F.ntile(4).over(w1).alias("quartile"),
        F.rank().over(w2).alias("rnk"),
        F.dense_rank().over(w2).alias("drnk"),
        F.percent_rank().over(w2).alias("prnk"),
    )


@query(
    "q_win_analytic",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(value, 1)  OVER w AS prev_value,
           LEAD(value, 1) OVER w AS next_value,
           FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value,
           LAST_VALUE(value)  OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
)
def q_win_analytic(spark: SparkSession, d: str):
    """lag/lead/first/last with explicit frames (the implicit default
    frames differ subtly across engines — always pin them)."""
    e = load_table(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("value", 1).over(w).alias("next_value"),
        F.first("value").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("first_value"),
        F.last("value").over(w.rowsBetween(0, Window.unboundedFollowing)).alias("last_value"),
    )


@query(
    "q_win_frame",
    oracle="""
    SELECT event_id, user_id, value,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)))
                OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS running_sum,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10)))
                OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS sliding_sum,
           COUNT(*) OVER (w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sliding_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("window",),
)
def q_win_frame(spark: SparkSession, d: str):
    """Frame specs: running and sliding sums (exact decimal arithmetic
    so incremental-vs-recompute framing can't drift)."""
    e = load_table(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dec = F.col("value").cast("decimal(38,10)")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.sum(dec).over(w.rowsBetween(Window.unboundedPreceding, 0)), 4).cast("double").alias("running_sum"),
        F.round(F.sum(dec).over(w.rowsBetween(-3, 0)), 4).cast("double").alias("sliding_sum"),
        F.count(F.lit(1)).over(w.rowsBetween(-3, 0)).alias("sliding_n"),
    )


# ---------------------------------------------------------------------------
# Sort / limit / top-k
# ---------------------------------------------------------------------------

@query(
    "q_sort",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer ORDER BY c_acctbal DESC NULLS LAST, c_custkey
    """,
    tags=("sort",),
)
def q_sort(spark: SparkSession, d: str):
    """Multi-key global sort with null ordering. Spark range-partitions
    (sampled boundaries) then sorts per-partition — scales linearly."""
    c = load_table(spark, d, "customer")
    return c.select("c_custkey", "c_name", "c_acctbal").orderBy(
        F.col("c_acctbal").desc_nulls_last(), F.col("c_custkey")
    )


@query(
    "q_limit",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("sort",),
)
def q_limit(spark: SparkSession, d: str):
    """Top-k: Spark plans TakeOrderedAndProject — per-partition heaps,
    no global sort. Deterministic via the orderkey tiebreak."""
    o = load_table(spark, d, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q_topk_group",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
    tags=("sort", "window"),
)
def q_topk_group(spark: SparkSession, d: str):
    """Top-k per group via ranking window (Spark 3.5+ rewrites this
    to a partial top-k before the shuffle — WindowGroupLimit)."""
    o = load_table(spark, d, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------

def _segments(spark, d):
    c = load_table(spark, d, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey", "c_nationkey")
    b = c.filter(F.col("c_acctbal") > 0).select("c_custkey", "c_nationkey")
    return a, b


_SEG_A = "SELECT c_custkey, c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'"
_SEG_B = "SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 0"


@query("q_union", oracle=f"{_SEG_A} UNION ALL {_SEG_B}", tags=("setop",))
def q_union(spark: SparkSession, d: str):
    a, b = _segments(spark, d)
    return a.unionByName(b)


@query("q_union_distinct", oracle=f"{_SEG_A} UNION {_SEG_B}", tags=("setop",))
def q_union_distinct(spark: SparkSession, d: str):
    a, b = _segments(spark, d)
    return a.unionByName(b).distinct()


@query("q_intersect", oracle=f"{_SEG_A} INTERSECT {_SEG_B}", tags=("setop",))
def q_intersect(spark: SparkSession, d: str):
    a, b = _segments(spark, d)
    return a.intersect(b)


@query("q_except", oracle=f"{_SEG_A} EXCEPT {_SEG_B}", tags=("setop",))
def q_except(spark: SparkSession, d: str):
    a, b = _segments(spark, d)
    return a.subtract(b)  # EXCEPT (distinct) semantics, same as SQL EXCEPT


@query("q_except_all", oracle=f"{_SEG_A} EXCEPT ALL {_SEG_B}", tags=("setop",))
def q_except_all(spark: SparkSession, d: str):
    a, b = _segments(spark, d)
    return a.exceptAll(b)


@query("q_intersect_all", oracle=f"{_SEG_A} INTERSECT ALL {_SEG_B}", tags=("setop",))
def q_intersect_all(spark: SparkSession, d: str):
    a, b = _segments(spark, d)
    return a.intersectAll(b)


# ---------------------------------------------------------------------------
# Subqueries
# ---------------------------------------------------------------------------

_SUBQ_IN = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
"""


@query("q_subquery_in", oracle=_SUBQ_IN, tags=("subquery",))
def q_subquery_in(spark: SparkSession, d: str):
    """IN-subquery — Catalyst decorrelates to a left-semi join."""
    load_table(spark, d, "orders").createOrReplaceTempView("orders")
    load_table(spark, d, "customer").createOrReplaceTempView("customer")
    return spark.sql(_SUBQ_IN)


_SUBQ_SCALAR = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 0.9 * (SELECT MAX(o_totalprice) FROM orders)
"""


@query("q_subquery_scalar", oracle=_SUBQ_SCALAR, tags=("subquery",))
def q_subquery_scalar(spark: SparkSession, d: str):
    """Scalar subquery (MAX is exact in double → engine-portable;
    an AVG here would be shuffle-order dependent)."""
    load_table(spark, d, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SUBQ_SCALAR)


@query(
    "q_join_salted",
    oracle="""
    SELECT o_orderkey, c_custkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    tags=("join", "skew"),
)
def q_join_salted(spark: SparkSession, d: str):
    """Skew-mitigated join via key salting: the fact side derives a
    deterministic salt, the dim side is replicated once per salt value,
    and the join key becomes (key, salt) — a hot customer's rows spread
    over N_SALT reducers instead of one. Value-identical to
    q_join_inner (same oracle). At scale this is the manual fallback
    when AQE skew-join splitting isn't available (e.g. bucketed SMJ)."""
    n_salt = 8
    o = load_table(spark, d, "orders").withColumn(
        "salt", (F.col("o_orderkey") % n_salt).cast("int")
    )
    c = load_table(spark, d, "customer").crossJoin(
        spark.range(n_salt).select(F.col("id").cast("int").alias("salt"))
    )
    return o.join(
        c,
        (o.o_custkey == c.c_custkey) & (o.salt == c.salt),
        "inner",
    ).select("o_orderkey", "c_custkey", "c_name", "o_totalprice")


@query(
    "q_null_semantics",
    oracle="""
    SELECT o_orderkey,
           nullif(o_orderstatus, 'O') AS status_or_null,
           (nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL) AS is_null_safe_eq,
           coalesce(nullif(o_orderstatus, 'O'), 'fallback') AS coalesced,
           CASE WHEN nullif(o_orderstatus, 'O') IS NULL THEN -1
                ELSE length(nullif(o_orderstatus, 'O')) END AS null_branch
    FROM orders
    """,
    tags=("core", "nulls"),
)
def q_null_semantics(spark: SparkSession, d: str):
    """Three-valued-logic surface: NULL propagation, null-safe equality
    (<=> / IS NOT DISTINCT FROM), coalesce fallbacks, NULL branches in
    CASE. The fixtures are null-free, so NULLs are manufactured with
    nullif — the semantics under test are the engine's, not the data's."""
    o = load_table(spark, d, "orders")
    s = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return o.select(
        "o_orderkey",
        s.alias("status_or_null"),
        s.eqNullSafe(F.lit(None).cast("string")).alias("is_null_safe_eq"),
        F.coalesce(s, F.lit("fallback")).alias("coalesced"),
        F.when(s.isNull(), F.lit(-1))
        .otherwise(F.length(s))
        .cast("int")
        .alias("null_branch"),
    )


@query(
    "q_skyline",
    oracle="""
    WITH per_size AS (
        SELECT p_size, MIN(p_retailprice) AS minp
        FROM part GROUP BY p_size
    ),
    pref AS (
        SELECT p_size, minp,
               MIN(minp) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS better_minp
        FROM per_size
    )
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    JOIN pref ON p.p_size = pref.p_size
    WHERE p.p_retailprice = pref.minp
      AND (pref.better_minp IS NULL OR p.p_retailprice < pref.better_minp)
    """,
    tags=("classic", "skyline"),
)
def q_skyline(spark: SparkSession, d: str):
    """Skyline (Pareto frontier) over parts: maximize p_size, minimize
    p_retailprice. A part is dominated if some other part has size >=
    and price <= with at least one strict; the skyline keeps the
    non-dominated set.

    The naive formulation is an O(n^2) dominance anti-join. The
    scale-safe rewrite used here exploits the bounded objective
    domain: aggregate to per-size min price (distinct-size-bounded,
    50 rows here, broadcastable at any corpus scale), take the
    running strict-prefix min over sizes sorted descending (distinct
    sizes -> a ROWS 1 PRECEDING frame is exactly "all strictly larger
    sizes"), then broadcast that bounded frontier table back onto the
    one fact scan. A part survives iff it is the cheapest at its size
    AND strictly cheaper than every larger size's cheapest. One
    fact shuffle (the per-size aggregate), one bounded window, one
    broadcast join."""
    part = load_table(spark, d, "part")
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("minp"))
    w = Window.partitionBy(bounded_window_key("p_size")).orderBy(
        F.col("p_size").desc()
    ).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = per_size.select(
        "p_size", "minp", F.min("minp").over(w).alias("better_minp")
    )
    return (
        part.join(F.broadcast(pref), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("minp"))
            & (
                F.col("better_minp").isNull()
                | (F.col("p_retailprice") < F.col("better_minp"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pivot_multi_oracle() -> str:
    cols = ", ".join(
        f"""CAST(COUNT(*) FILTER (WHERE event_type = '{t}') AS BIGINT)
                AS {t}_n,
            round({dsum_sql(f"CASE WHEN event_type = '{t}' THEN value END")}, 4)
                AS {t}_sum"""
        for t in _PIVOT_TYPES
    )
    return f"""
    SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket, {cols}
    FROM events
    GROUP BY user_id % 10
    ORDER BY user_bucket
    """


@query(
    "q_pivot_multi_agg",
    oracle=_pivot_multi_oracle(),
    tags=("relational", "pivot"),
)
def q_pivot_multi_agg(spark: SparkSession, d: str):
    """Pivot with MULTIPLE aggregates per pivot value: event counts
    AND exact-decimal value sums per event type, spread into columns
    per user bucket — the wide-format report shape (one row per
    entity, metric x category columns) BI exports want.

    Uses the explicit-values pivot (the 5 event types are declared,
    so the plan is a single pass with 10 conditional aggregates — no
    distinct-values pre-query, which at 100 TB would be an extra
    fact scan). Output is 10 rows x 11 columns."""
    e = load_table(spark, d, "events")
    piv = (
        e.groupBy((F.col("user_id") % 10).cast("bigint").alias("user_bucket"))
        .pivot("event_type", _PIVOT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum("value"), 4).alias("sum"),
        )
    )
    # pivot names columns "<value>_<alias>". An empty pivot cell is
    # NULL from Spark's pivot but 0 from the oracle's COUNT FILTER —
    # coalesce counts (sums stay NULL-on-empty on both engines).
    cols = [F.col("user_bucket")]
    for t in _PIVOT_TYPES:
        cols.append(
            F.coalesce(F.col(f"{t}_n"), F.lit(0))
            .cast("bigint")
            .alias(f"{t}_n")
        )
        cols.append(F.col(f"{t}_sum").alias(f"{t}_sum"))
    return piv.select(*cols).orderBy("user_bucket")


@query(
    "q_win_nav",
    oracle="""
    SELECT user_id, event_id, event_type,
           first_value(event_type) OVER w AS first_type,
           nth_value(value, 2) OVER w AS second_val,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS) OVER w AS last_purchase_val,
           COALESCE(lead(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id), 'END')
               AS next_type
    FROM events
    WHERE user_id % 50 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("relational", "window"),
)
def q_win_nav(spark: SparkSession, d: str):
    """Navigation window-function surface: first_value, nth_value,
    IGNORE-NULLS last_value (running "most recent purchase amount" —
    the LOCF-of-a-subset pattern), and defaulted LEAD, all over one
    fully-tie-broken user window — the per-entity timeline enrichment
    every sessionized export runs.

    One user-keyed exchange serves all four functions (they share the
    window spec); the deterministic user sample (user_id % 50) bounds
    the output without changing the plan shape. The IGNORE NULLS
    variant is the portable trick for 'carry forward the last event
    of type X' without a second join."""
    e = load_table(spark, d, "events").filter(F.col("user_id") % 50 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.first("event_type").over(w).alias("first_type"),
        F.nth_value("value", 2).over(w).alias("second_val"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_val"),
        F.coalesce(F.lead("event_type").over(w_lead), F.lit("END")).alias(
            "next_type"
        ),
    ).orderBy("user_id", "event_id")
