"""Statistical aggregates + TPC-H-shaped composite queries — the
second breadth pass over SURVEY.md §2.B.

Cross-engine notes: stddev/variance/corr are computed by different
algorithms (Welford vs naive) whose results differ in the last ulps
under different accumulation orders → rounded to 6 dp on both sides.
percentile (Spark) and quantile_cont (DuckDB) share the linear-
interpolation definition; the interpolation arithmetic may differ by
an ulp → rounded.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.exprs import U_DENOM, dsum, dsum_sql, md5_int, safe_corr
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.registry import query


@query(
    "q_agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6)  AS sd_qty,
           round(var_samp(l_quantity), 6)     AS var_qty,
           round(stddev_pop(l_quantity), 6)   AS sdp_qty,
           round(corr(l_extendedprice, l_quantity), 6) AS corr_pq,
           round(covar_samp(l_extendedprice, l_quantity), 4) AS cov_pq,
           round(covar_pop(l_extendedprice, l_quantity), 4)  AS covp_pq
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_agg_stats(spark: SparkSession, d: str):
    """Moment-based statistics per group (single-pass, map-side
    combinable — the distributed-friendly formulation Spark uses)."""
    li = load_table(spark, d, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.stddev_pop("l_quantity"), 6).alias("sdp_qty"),
        F.round(safe_corr("l_extendedprice", "l_quantity"), 6).alias("corr_pq"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("cov_pq"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 4).alias("covp_pq"),
    )


@query(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 6)  AS median_qty,
           round(quantile_cont(l_quantity, 0.95), 6) AS p95_qty,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS median_price
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_agg_percentile(spark: SparkSession, d: str):
    """Exact interpolated percentiles. At 100 TB the approx_percentile
    sketch (rows-only checkable) replaces this for single-pass cost;
    the exact form needs a per-group sort."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 6).alias("median_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 6).alias("p95_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 6).alias("median_price"),
    )


@query(
    "q_agg_minmax_by",
    oracle="""
    SELECT o_custkey,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_custkey
    """,
    tags=("agg",),
)
def q_agg_minmax_by(spark: SparkSession, d: str):
    """max_by/min_by (argmax aggregation). Double order values make
    ties measure-zero; a production pipeline would tiebreak in the
    ordering expression."""
    o = load_table(spark, d, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "q_win_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_similar,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                      RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW), 4) AS DOUBLE) AS sum_similar
    FROM orders
    """,
    tags=("window",),
)
def q_win_range_frame(spark: SparkSession, d: str):
    """RANGE frames over a numeric ordering — value-based peers, not
    row-position ones (contrast q_win_frame's ROWS)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10000, 0)
    )
    o = load_table(spark, d, "orders")
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_similar"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,10)")).over(w), 4)
        .cast("double")
        .alias("sum_similar"),
    )


_Q3_SQL = f"""
    SELECT o_orderkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
"""


@query("q_tpch_q3", oracle=_Q3_SQL, tags=("join", "tpch"))
def q_tpch_q3(spark: SparkSession, d: str):
    """TPC-H Q3 shape (shipping priority): selective dim filter →
    fact join → grouped revenue → top-10. The mktsegment filter prunes
    customer before it broadcasts."""
    c = load_table(spark, d, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, d, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load_table(spark, d, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


_Q10_SQL = f"""
    SELECT c_custkey, c_name,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-10-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


@query("q_tpch_q10", oracle=_Q10_SQL, tags=("join", "tpch"))
def q_tpch_q10(spark: SparkSession, d: str):
    """TPC-H Q10 shape (returned-item reporting): quarter of orders ×
    returned lineitems × customer × nation, top-20 by lost revenue."""
    c = load_table(spark, d, "customer")
    o = load_table(spark, d, "orders").filter(
        (F.col("o_orderdate") >= "1997-10-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, d, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, d, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_CTE_SQL = f"""
    WITH big_orders AS (
        SELECT o_custkey, COUNT(*) AS n_big
        FROM orders WHERE o_totalprice > 150000 GROUP BY o_custkey
    ),
    spend AS (
        SELECT o_custkey, {dsum_sql('o_totalprice')} AS total_spend
        FROM orders GROUP BY o_custkey
    )
    SELECT b.o_custkey AS custkey, b.n_big, s.total_spend
    FROM big_orders AS b JOIN spend AS s ON b.o_custkey = s.o_custkey
    WHERE b.n_big >= 2
"""


@query("q_cte", oracle=_CTE_SQL, tags=("subquery",))
def q_cte(spark: SparkSession, d: str):
    """WITH-clause composition (shared dialect — same string runs on
    both engines)."""
    load_table(spark, d, "orders").createOrReplaceTempView("orders")
    return spark.sql(_CTE_SQL)


@query(
    "q_sample_mod",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_orderkey % 10 = 3
    """,
    tags=("core",),
)
def q_sample_mod(spark: SparkSession, d: str):
    """Deterministic modulo sampling — the engine-portable replacement
    for TABLESAMPLE (whose RNG never matches across engines); the same
    technique bounds the all-pairs LLM operators."""
    o = load_table(spark, d, "orders")
    return o.filter(F.col("o_orderkey") % 10 == 3).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


_KMV_K = 256


@query(
    "q_agg_kmv",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))
                    AS BIGINT) AS hv
        FROM orders
    ),
    k AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K})
    SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(CASE WHEN COUNT(*) < {_KMV_K} THEN COUNT(*)
                ELSE FLOOR(({_KMV_K - 1}.0 * {U_DENOM}) / MAX(hv))
                END AS BIGINT) AS kmv_estimate
    FROM k
    """,
    tags=("agg", "sketch"),
)
def q_agg_kmv(spark: SparkSession, d: str):
    """Deterministic approximate distinct count: a KMV (k-minimum-
    values) sketch over the 60-bit md5 hash space — n̂ = (k−1)/F(k)
    with F(k) the k-th smallest normalized hash. Unlike the engine-
    native HLL (q_agg_approx, rows-only check: each engine's sketch
    differs), every step here is portable — md5 prefixes, an
    orderBy+limit that compiles to TakeOrderedAndProject (per-partition
    heaps, no global sort), and one IEEE divide — so the ESTIMATE
    itself is bit-identical and hash-checked against the oracle. A
    sketch that never fills (distinct < k) has seen every value and
    reports the exact count, per standard KMV semantics. At
    scale the k smallest hashes are a mergeable fixed-size summary:
    unions of corpora combine by keeping the k smallest of the merged
    sets."""
    o = load_table(spark, d, "orders")
    h = o.select(md5_int(F.col("o_custkey").cast("string"), 15).alias("hv")).distinct()
    k = h.orderBy("hv").limit(_KMV_K)
    return k.agg(
        F.count(F.lit(1)).alias("k_used"),
        F.when(
            F.count(F.lit(1)) < _KMV_K, F.count(F.lit(1))
        )
        .otherwise(F.floor((_KMV_K - 1) * U_DENOM / F.max("hv")).cast("long"))
        .cast("long")
        .alias("kmv_estimate"),
    )
