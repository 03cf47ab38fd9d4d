"""Round-4 experimentation/feature-engineering additions: two-
proportion conversion test, seasonally-adjusted anomaly detection,
and smoothed target encoding.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


@query(
    "q_ab_proportions",
    oracle="""
    WITH users AS (
        SELECT user_id,
               CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                    AS BIGINT) % 2 AS INT) AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS x
        FROM users GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN x END) AS x0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN x END) AS x1
        FROM arms
    )
    SELECT n0, x0, n1, x1,
           round(CAST(x0 AS DOUBLE) / n0, 6) AS rate0,
           round(CAST(x1 AS DOUBLE) / n1, 6) AS rate1,
           round((CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                 / NULLIF(sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                               * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                               * (1.0 / n0 + 1.0 / n1)), 0), 6) AS z_score
    FROM wide
    """,
    tags=("ml", "experimentation"),
)
def q_ab_proportions(spark: SparkSession, d: str):
    """Two-proportion z-test on per-user conversion between md5-hashed
    experiment arms (pooled-variance form) — the funnel-conversion
    significance test that complements q_ab_test's continuous-metric
    Welch test (rates need the pooled binomial SE, not Welch).

    Per-user conversion collapses the fact stream user-keyed first
    (one exchange); the arm rollup is 2 rows; the z arithmetic is a
    fixed closed form on exact integer counts written in the same
    operation order on both engines."""
    return ab_proportions_stat(load_table(spark, d, "events"))


def ab_proportions_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        % 2
    ).cast("int")
    users = e.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    # arm is a pure function of user_id, so first() is deterministic
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("x")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).cast("bigint").alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("x"))).cast("bigint").alias("x0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).cast("bigint").alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("x"))).cast("bigint").alias("x1"),
    )
    r0 = F.col("x0").cast("double") / F.col("n0")
    r1 = F.col("x1").cast("double") / F.col("n1")
    pool = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    se = F.sqrt(
        pool * (1.0 - pool) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))
    )
    # degenerate arms (all or none converted) have zero pooled SE:
    # undefined z on both engines, not an error
    return wide.select(
        "n0",
        "x0",
        "n1",
        "x1",
        F.round(r0, 6).alias("rate0"),
        F.round(r1, 6).alias("rate1"),
        F.round(
            F.try_divide(r1 - r0, F.nullif(se, F.lit(0.0))), 6
        ).alias("z_score"),
    )


_SA_K = 3.0  # MAD multiplier


@query(
    "q_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {dsum_sql('value')} AS x
        FROM events GROUP BY day
    ),
    dow_mean AS (
        SELECT dayofweek(day) AS dw, {dsum_sql('x')} / COUNT(*) AS mu
        FROM daily GROUP BY dayofweek(day)
    ),
    resid AS (
        SELECT d.day, d.x, round(d.x - m.mu, 6) AS r
        FROM daily d JOIN dow_mean m ON m.dw = dayofweek(d.day)
    ),
    med AS (SELECT quantile_cont(r, 0.5) AS rmed FROM resid),
    mad AS (
        SELECT quantile_cont(ABS(r - med.rmed), 0.5) AS mad
        FROM resid CROSS JOIN med
    )
    SELECT strftime(r.day, '%Y-%m-%d') AS day,
           round(r.x, 4) AS daily_value,
           r.r AS residual,
           round(ABS(r.r - med.rmed) / NULLIF(mad.mad, 0), 6) AS mad_score
    FROM resid r CROSS JOIN med CROSS JOIN mad
    WHERE ABS(r.r - med.rmed) > {_SA_K} * mad.mad
    ORDER BY day
    """,
    tags=("timeseries", "monitoring"),
)
def q_seasonal_anomaly(spark: SparkSession, d: str):
    """Seasonally-adjusted anomaly days: remove each weekday's mean
    level (the q_seasonal_index decomposition), then flag days whose
    residual exceeds {_SA_K}x the MAD — anomalies that survive "it's
    always high on Mondays", the composition q_anomaly_mad +
    q_seasonal_index that real monitors deploy.

    All statistics live on the days-bounded series (<= 7-row weekday
    means broadcast back; 1-row median/MAD broadcasts). Residuals are
    rounded per-element before the median/MAD (ALIGNMENT: identical
    inputs to the interpolating percentile on both engines)."""
    return seasonal_anomaly_report(load_table(spark, d, "events"))


def seasonal_anomaly_report(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    dow_mean = daily.groupBy(F.dayofweek("day").alias("dw")).agg(
        (dsum("x") / F.count(F.lit(1))).alias("mu")
    )
    resid = daily.join(
        F.broadcast(dow_mean), F.dayofweek("day") == F.col("dw")
    ).select("day", "x", F.round(F.col("x") - F.col("mu"), 6).alias("r"))
    resid = track(resid.persist())
    med = resid.agg(F.percentile("r", F.lit(0.5)).alias("rmed"))
    mad = resid.crossJoin(F.broadcast(med)).agg(
        F.percentile(F.abs(F.col("r") - F.col("rmed")), F.lit(0.5)).alias(
            "mad"
        )
    )
    return (
        resid.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .filter(
            F.abs(F.col("r") - F.col("rmed")) > _SA_K * F.col("mad")
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("x", 4).alias("daily_value"),
            F.col("r").alias("residual"),
            F.round(
                F.abs(F.col("r") - F.col("rmed"))
                / F.nullif(F.col("mad"), F.lit(0.0)),
                6,
            ).alias("mad_score"),
        )
        .orderBy("day")
    )


_TE_SMOOTH = 20.0  # prior strength (pseudo-observations)


@query(
    "q_target_encode",
    oracle=f"""
    WITH labeled AS (
        SELECT source,
               CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    overall AS (
        SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS gmean FROM labeled
    ),
    cats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM labeled GROUP BY source
    )
    SELECT c.source, c.n, c.pos,
           round(CAST(c.pos AS DOUBLE) / c.n, 6) AS raw_rate,
           round((c.pos + {_TE_SMOOTH!r} * o.gmean)
                 / (c.n + {_TE_SMOOTH!r}), 6) AS encoded,
           round(o.gmean, 6) AS global_rate
    FROM cats c CROSS JOIN overall o
    ORDER BY c.source
    """,
    tags=("ml", "features"),
)
def q_target_encode(spark: SparkSession, d: str):
    """Smoothed target (mean) encoding of the source category against
    the 'contains-the' label: encoded = (pos + m·prior)/(n + m) with
    m = {_TE_SMOOTH} pseudo-observations — the high-cardinality
    categorical featurizer (public CatBoost/Micci-Barreca scheme)
    whose smoothing prevents rare categories from memorizing their
    labels.

    One labeled scan aggregates per category; the 1-row global prior
    broadcasts onto the category table. Rates are ratios of exact
    integer counts; the smoothing arithmetic uses the same literal
    and operation order on both engines."""
    docs = load_table(spark, d, "documents")
    labeled = docs.select(
        "source",
        F.when(F.col("text").like("%the%"), 1).otherwise(0).alias("y"),
    )
    labeled = track(labeled.persist())
    overall = labeled.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("gmean")
    )
    cats = labeled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    return (
        cats.crossJoin(F.broadcast(overall))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("pos"),
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round(
                (F.col("pos") + _TE_SMOOTH * F.col("gmean"))
                / (F.col("n") + _TE_SMOOTH),
                6,
            ).alias("encoded"),
            F.round("gmean", 6).alias("global_rate"),
        )
        .orderBy("source")
    )
