"""Round-4 product-analytics breadth: growth accounting (user
lifecycle states), DAU/MAU stickiness, rolling-window median,
day-of-week seasonal indices, and multi-aggregate pivot.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import bounded_window_key, davg_sql, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


@query(
    "q_user_lifecycle",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('week', ts) AS DATE) AS week
        FROM events
    ),
    flagged AS (
        SELECT user_id, week,
               MIN(week) OVER (PARTITION BY user_id) AS first_week,
               LAG(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
        FROM uw
    ),
    statused AS (
        SELECT week,
               CASE WHEN week = first_week THEN 'new'
                    WHEN date_diff('day', prev_week, week) = 7 THEN 'retained'
                    ELSE 'resurrected'
               END AS status
        FROM flagged
    ),
    weekly AS (
        SELECT week,
               CAST(COUNT(*) AS BIGINT) AS n_active,
               CAST(COUNT(*) FILTER (WHERE status = 'new') AS BIGINT) AS n_new,
               CAST(COUNT(*) FILTER (WHERE status = 'retained') AS BIGINT)
                   AS n_retained,
               CAST(COUNT(*) FILTER (WHERE status = 'resurrected') AS BIGINT)
                   AS n_resurrected
        FROM statused GROUP BY week
    )
    SELECT strftime(week, '%Y-%m-%d') AS week,
           n_active, n_new, n_retained, n_resurrected,
           CAST(COALESCE(LAG(n_active) OVER (ORDER BY week), 0) - n_retained
                AS BIGINT) AS n_churned_from_prev
    FROM weekly
    ORDER BY week
    """,
    tags=("events", "growth"),
)
def q_user_lifecycle(spark: SparkSession, d: str):
    """Growth accounting: every active (user, week) is classified as
    new (first-ever week), retained (also active the previous week),
    or resurrected (returning after a gap), and churn from the prior
    week falls out as prev_active - retained — the
    new/retained/resurrected/churned ledger every growth team reports.

    The fact stream dedups to (user, week) once; the classification
    windows are user-keyed (bounded by a user's active weeks); the
    weekly ledger is a weeks-sized table, so the final churn LAG is a
    calendar-bounded window. No unbounded windows, one user-keyed
    exchange."""
    return lifecycle_ledger(load_table(spark, d, "events"))


def lifecycle_ledger(e):
    """Core transform of q_user_lifecycle over an events frame —
    shared with its foreachBatch streaming twin."""
    uw = e.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    w_first = Window.partitionBy("user_id")
    w_lag = Window.partitionBy("user_id").orderBy("week")
    flagged = uw.select(
        "week",
        F.min("week").over(w_first).alias("first_week"),
        F.lag("week").over(w_lag).alias("prev_week"),
    )
    status = (
        F.when(F.col("week") == F.col("first_week"), "new")
        .when(F.datediff("week", "prev_week") == 7, "retained")
        .otherwise("resurrected")
    )
    weekly = (
        flagged.select("week", status.alias("status"))
        .groupBy("week")
        .agg(
            F.count(F.lit(1)).alias("n_active"),
            F.count(F.when(F.col("status") == "new", 1)).alias("n_new"),
            F.count(F.when(F.col("status") == "retained", 1)).alias(
                "n_retained"
            ),
            F.count(F.when(F.col("status") == "resurrected", 1)).alias(
                "n_resurrected"
            ),
        )
    )
    w_weeks = Window.partitionBy(bounded_window_key("week")).orderBy("week")
    return (
        weekly.select(
            "week",
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            (
                F.coalesce(F.lag("n_active").over(w_weeks), F.lit(0))
                - F.col("n_retained")
            )
            .cast("bigint")
            .alias("n_churned_from_prev"),
        )
        .select(
            F.date_format("week", "yyyy-MM-dd").alias("week"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            "n_churned_from_prev",
        )
        .orderBy("week")
    )


@query(
    "q_dau_mau",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    coverage AS (
        SELECT user_id, CAST(cd AS DATE) AS day
        FROM ud, UNNEST(generate_series(ud.day, ud.day + 29,
                                        INTERVAL 1 DAY)) AS t(cd)
    ),
    mau AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM coverage GROUP BY day
    )
    SELECT strftime(dau.day, '%Y-%m-%d') AS day,
           dau.dau, mau.mau,
           round(dau.dau / CAST(mau.mau AS DOUBLE), 6) AS stickiness
    FROM dau JOIN mau ON mau.day = dau.day
    ORDER BY day
    """,
    tags=("events", "growth"),
)
def q_dau_mau(spark: SparkSession, d: str):
    """DAU / trailing-30-day MAU / stickiness per day — the
    engagement ratio product dashboards live on.

    Exact trailing-window distinct counts without a range join: each
    deduped (user, day) activity row EXPLODES into the 30 future days
    it keeps that user "monthly active" for (sequence + explode —
    generated JVM-side), and MAU is then a day-keyed COUNT(DISTINCT
    user) — a plain shuffle aggregation, partitioned by day, no
    nested-loop join anywhere. Cost is a fixed 30x fan-out of the
    user-day table (already deduped, so bounded by users x days), the
    standard space-for-shuffle trade for windowed distinct counts.
    Days without activity simply don't report (inner join back to
    real days)."""
    return dau_mau_report(load_table(spark, d, "events"))


def dau_mau_report(e):
    """Core transform of q_dau_mau over an events frame — shared with
    its foreachBatch streaming twin."""
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    ud = track(ud.persist())
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    coverage = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 29))
        ).alias("day"),
    )
    mau = coverage.groupBy("day").agg(
        F.countDistinct("user_id").alias("mau")
    )
    return (
        dau.join(mau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.round(
                F.col("dau") / F.col("mau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


@query(
    "q_rolling_median",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {dsum_sql('value')} AS x
        FROM events GROUP BY day
    )
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           round(a.x, 4) AS daily_value,
           CAST(COUNT(*) AS BIGINT) AS n_window,
           round(quantile_cont(b.x, 0.5), 6) AS rolling_median,
           round({davg_sql('b.x')}, 6) AS rolling_mean
    FROM daily a
    JOIN daily b ON date_diff('day', b.day, a.day) BETWEEN 0 AND 6
    GROUP BY a.day, a.x
    ORDER BY day
    """,
    tags=("timeseries", "monitoring"),
)
def q_rolling_median(spark: SparkSession, d: str):
    """Trailing 7-day rolling median (and mean) of the daily value
    series — the outlier-robust trend line (a single spiked day moves
    the rolling mean but not the median).

    Neither engine supports percentile as a window function over
    arbitrary frames portably, so the rolling window is expressed as
    a self-join of the days-bounded series (each day joins its <= 7
    predecessors) with a grouped exact interpolated median — the
    q_ewma pattern. Calendar-bounded: |days| x 7 join rows total.
    Interpolated medians are engine-identical; the mean uses the
    decimal contract."""
    e = load_table(spark, d, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    a, b = daily.alias("a"), daily.alias("b")
    lag_d = F.datediff(F.col("a.day"), F.col("b.day"))
    return (
        a.join(b, lag_d.between(0, 6))
        .groupBy(F.col("a.day").alias("day"), F.col("a.x").alias("x"))
        .agg(
            F.count(F.lit(1)).alias("n_window"),
            F.round(F.percentile(F.col("b.x"), F.lit(0.5)), 6).alias(
                "rolling_median"
            ),
            F.round(
                dsum(F.col("b.x")) / F.count(F.lit(1)), 6
            ).alias("rolling_mean"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("x", 4).alias("daily_value"),
            "n_window",
            "rolling_median",
            "rolling_mean",
        )
        .orderBy("day")
    )


@query(
    "q_seasonal_index",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {dsum_sql('value')} AS x
        FROM events GROUP BY day
    ),
    overall AS (SELECT {davg_sql('x')} AS mu FROM daily)
    SELECT CAST(dayofweek(day) + 1 AS INT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round({davg_sql('x')}, 4) AS dow_mean,
           round({davg_sql('x')} / MIN(o.mu), 6) AS seasonal_index
    FROM daily CROSS JOIN overall o
    GROUP BY dayofweek(day)
    ORDER BY dow
    """,
    tags=("timeseries", "monitoring"),
)
def q_seasonal_index(spark: SparkSession, d: str):
    """Day-of-week multiplicative seasonal indices: mean daily value
    per weekday divided by the overall daily mean — the 7-number
    seasonality profile used to deseasonalize monitors (an index of
    1.3 on Mondays means Mondays run 30% hot).

    The fact reduces to the days-bounded series once; the overall
    mean is a 1-row broadcast; the per-weekday rollup is a <= 7-row
    aggregate. dayofweek conventions differ (Spark 1=Sunday, DuckDB
    0=Sunday) — pinned with +1 on the oracle per ALIGNMENT."""
    e = load_table(spark, d, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    daily = track(daily.persist())
    overall = daily.agg(
        (dsum("x") / F.count(F.lit(1))).alias("mu")
    )
    return (
        daily.crossJoin(F.broadcast(overall))
        .groupBy(F.dayofweek("day").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(dsum("x") / F.count(F.lit(1)), 4).alias("dow_mean"),
            F.round(
                (dsum("x") / F.count(F.lit(1))) / F.min("mu"), 6
            ).alias("seasonal_index"),
        )
        .select(F.col("dow").cast("int").alias("dow"), "n_days",
                "dow_mean", "seasonal_index")
        .orderBy("dow")
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
