"""Round-4 temporal-join and robust-statistics additions: SCD-2
point-in-time join via the as-of union composition, Theil-Sen robust
trend estimation, and the Wald-Wolfowitz runs test.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import bounded_window_key, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


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


@query(
    "q_theil_sen",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {dsum_sql('value')} AS x
        FROM events GROUP BY day
    ),
    t0 AS (SELECT MIN(day) AS d0 FROM daily),
    pts AS (
        SELECT date_diff('day', t0.d0, daily.day) AS t, daily.x
        FROM daily CROSS JOIN t0
    ),
    slopes AS (
        SELECT (b.x - a.x) / CAST(b.t - a.t AS DOUBLE) AS m
        FROM pts a JOIN pts b ON b.t > a.t
    ),
    med AS (SELECT quantile_cont(m, 0.5) AS slope FROM slopes),
    icpt AS (
        SELECT quantile_cont(pts.x - med.slope * pts.t, 0.5) AS intercept
        FROM pts CROSS JOIN med
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n_days,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM slopes) AS n_pairs,
           round((SELECT slope FROM med), 6) AS slope,
           round((SELECT intercept FROM icpt), 6) AS intercept
    """,
    tags=("timeseries", "robust"),
)
def q_theil_sen(spark: SparkSession, d: str):
    """Theil-Sen robust trend: the median of all pairwise day-to-day
    slopes of the daily series, with the matching median intercept —
    the outlier-immune alternative to OLS trend fitting (one wild day
    moves the OLS line, not the pairwise-slope median).

    The quadratic pair set is over the DAYS-BOUNDED series (calendar²
    pairs — ~3M at a full 7-year calendar, trivially distributed),
    never over events. Slopes are single IEEE divisions of exact-
    decimal daily sums (bit-identical inputs both engines); the
    interpolating median is engine-identical (ALIGNMENT); output
    rounded 6dp."""
    return theil_sen_stat(load_table(spark, d, "events"))


def theil_sen_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    t0 = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(t0)).select(
        F.datediff("day", "d0").alias("t"), "x"
    )
    pts = track(pts.persist())
    a, b = pts.alias("a"), pts.alias("b")
    slopes = a.join(b, F.col("b.t") > F.col("a.t")).select(
        (
            (F.col("b.x") - F.col("a.x"))
            / (F.col("b.t") - F.col("a.t")).cast("double")
        ).alias("m")
    )
    med = slopes.agg(F.percentile("m", F.lit(0.5)).alias("slope"))
    icpt = (
        pts.crossJoin(F.broadcast(med))
        .agg(
            F.percentile(
                F.col("x") - F.col("slope") * F.col("t"), F.lit(0.5)
            ).alias("intercept")
        )
    )
    n_days = pts.agg(F.count(F.lit(1)).alias("n_days"))
    n_pairs = slopes.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        n_days.crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(icpt))
        .select(
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


@query(
    "q_runs_test",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {dsum_sql('value')} AS x
        FROM events GROUP BY day
    ),
    diffs AS (
        SELECT day,
               CASE WHEN x > LAG(x) OVER (ORDER BY day) THEN 1
                    WHEN x < LAG(x) OVER (ORDER BY day) THEN 0
               END AS up
        FROM daily
    ),
    signs AS (SELECT day, up FROM diffs WHERE up IS NOT NULL),
    runs AS (
        SELECT up,
               CASE WHEN up = LAG(up) OVER (ORDER BY day) THEN 0 ELSE 1 END
                   AS new_run
        FROM signs
    ),
    stats AS (
        SELECT CAST(SUM(up) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(up) AS BIGINT) AS n2,
               CAST(SUM(new_run) AS BIGINT) AS r
        FROM runs
    )
    SELECT n1 AS n_up, n2 AS n_down, r AS n_runs,
           round((r - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
                 / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * CAST(n1 + n2 - 1 AS DOUBLE))),
                 6) AS z_score
    FROM stats
    """,
    tags=("timeseries", "stats"),
)
def q_runs_test(spark: SparkSession, d: str):
    """Wald-Wolfowitz runs test on the daily series' up/down moves:
    too few runs means trending, too many means oscillation — the
    one-number randomness check monitoring teams run before trusting
    a "trend" (companion to q_changepoint's CUSUM).

    The series is days-bounded, so the sign/lag/run windows are
    calendar-bounded; counts are exact integers and the z-score is a
    fixed closed-form expression written in the same operation order
    on both engines (sqrt is IEEE-exact), rounded 6dp. Zero-change
    days drop (the standard treatment)."""
    return runs_test_stat(load_table(spark, d, "events"))


def runs_test_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    w_day = Window.partitionBy(bounded_window_key("day")).orderBy("day")
    diffs = daily.select(
        "day",
        F.when(F.col("x") > F.lag("x").over(w_day), 1)
        .when(F.col("x") < F.lag("x").over(w_day), 0)
        .alias("up"),
    ).filter(F.col("up").isNotNull())
    runs = diffs.select(
        "up",
        F.when(F.col("up") == F.lag("up").over(w_day), 0)
        .otherwise(1)
        .alias("new_run"),
    )
    stats = runs.agg(
        F.sum("up").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("up")).cast("bigint").alias("n2"),
        F.sum("new_run").cast("bigint").alias("r"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    expected = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    var = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1).cast("double"))
    )
    return stats.select(
        n1.alias("n_up"),
        n2.alias("n_down"),
        r.alias("n_runs"),
        F.round((r - expected) / F.sqrt(var), 6).alias("z_score"),
    )
