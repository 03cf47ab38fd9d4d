"""Daily series and per-user event sequences: smoothing and
forecasting (EWMA, Holt, rolling median), autocorrelation, seasonal
indices and anomalies, change detection, trend tests, symbolization,
interpolation, lateness, and the per-user sequence operators (pattern
matching, funnels, debouncing, bursts, lifecycle, DAU/MAU, overlaps).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import (
    DEC,
    bounded_window_key,
    davg_sql,
    dsum,
    dsum_sql,
    epoch_s,
    epoch_s_sql,
    safe_corr,
)
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


# ---------------------------------------------------------------------------
# EWMA: weights are embedded as identical decimal literals on both
# engines (pow() is libm-dependent and not guaranteed bit-identical
# across engines; a literal table is). Truncated at 20 lags — weight
# (1-alpha)^20 ~= 8e-4, the standard adjusted-EWMA truncation.
_EWMA_ALPHA = 0.3
_EWMA_WINDOW = 20
_EWMA_WEIGHTS = [
    ("%.12f" % round((1.0 - _EWMA_ALPHA) ** k, 12)) for k in range(_EWMA_WINDOW + 1)
]

_DAILY_REV_SQL = """
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               {x} AS x
        FROM orders GROUP BY day
""".format(x=dsum_sql("o_totalprice"))


def _ewma_oracle() -> str:
    vals = ", ".join(f"({k}, {w})" for k, w in enumerate(_EWMA_WEIGHTS))
    return f"""
    WITH daily AS ({_DAILY_REV_SQL}),
    w(lag_d, wt) AS (VALUES {vals})
    SELECT strftime(a.day, '%Y-%m-%d') AS day,
           round(a.x, 4) AS daily_rev,
           -- truncate, not round: the ewma is a RAW DIVISION, and
           -- round() at a 6dp half boundary is engine-divergent
           -- (ALIGNMENT "round() itself disagrees at half-way points")
           FLOOR({dsum_sql('b.x * w.wt')}
                 / {dsum_sql('w.wt')} * 1000000) / 1000000 AS ewma
    FROM daily a
    JOIN daily b ON date_diff('day', b.day, a.day) BETWEEN 0 AND {_EWMA_WINDOW}
    JOIN w ON w.lag_d = date_diff('day', b.day, a.day)
    GROUP BY a.day, a.x
    ORDER BY day
    """


@query(
    "q_ewma",
    oracle=_ewma_oracle(),
    tags=("timeseries", "monitoring"),
)
def q_ewma(spark: SparkSession, d: str):
    """Adjusted EWMA (alpha=0.3, truncated at 20 lags) over the daily
    revenue series — the classic smoothed-trend monitor line.

    The fact table reduces to a days-bounded series first (exact-
    decimal sums); the EWMA is then a weighted self-join over that
    bounded table: for each day, join the up-to-21 preceding days and
    weight them by a LITERAL (1-alpha)^lag table shared verbatim with
    the oracle (libm pow() is not guaranteed bit-identical across
    engines; identical decimal literals are). Numerator and
    denominator use the order-independent decimal-sum contract, so
    the ratio is bit-stable. Calendar-bounded: even at 100 TB the
    join is |days| x 21 rows."""
    return ewma_series(load_table(spark, d, "orders"))


def ewma_series(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(dsum("o_totalprice").alias("x"))
    wdf = orders.sparkSession.createDataFrame(
        [(k, float(w)) for k, w in enumerate(_EWMA_WEIGHTS)],
        "lag_d INT, wt DOUBLE",
    )
    a, b = daily.alias("a"), daily.alias("b")
    lag_d = F.datediff(F.col("a.day"), F.col("b.day"))
    return (
        a.join(b, lag_d.between(0, _EWMA_WINDOW))
        .join(F.broadcast(wdf), lag_d == F.col("lag_d"))
        .groupBy(F.col("a.day").alias("day"), F.col("a.x").alias("x"))
        .agg(
            (
                dsum(F.col("b.x") * F.col("wt")) / dsum(F.col("wt"))
            ).alias("ewma_raw")
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("x", 4).alias("daily_rev"),
            # truncate, not round: raw-division output (ALIGNMENT rule;
            # an sf0.1 row landed exactly on a 6dp half boundary)
            (F.floor(F.col("ewma_raw") * 1000000) / 1000000).alias("ewma"),
        )
        .orderBy("day")
    )


_DAILY_VAL_SQL = """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {x} AS x
        FROM events GROUP BY day
""".format(x=dsum_sql("value"))


@query(
    "q_acf",
    oracle=f"""
    WITH daily AS ({_DAILY_VAL_SQL}),
    lags(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7))
    SELECT k AS lag_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(corr(a.x, b.x), 6) AS acf
    FROM lags
    JOIN daily a ON TRUE
    JOIN daily b ON b.day = a.day - k
    GROUP BY k
    ORDER BY k
    """,
    tags=("timeseries", "monitoring"),
)
def q_acf(spark: SparkSession, d: str):
    """Autocorrelation function of the daily event-value series at
    lags 1..7 — the seasonality/persistence fingerprint (a weekly
    cycle shows as a lag-7 peak).

    One map-side-combined aggregation reduces the fact table to a
    days-bounded series; each lag is then an equi-join of that
    bounded table against itself shifted by k days, with Pearson corr
    per lag. The lag table is 7 literal rows; everything after the
    first aggregate is calendar-bounded. corr is scale-invariant so
    the n/(n-1) convention cancels; rounded to 6dp (float
    accumulation order differs across engines)."""
    return acf_profile(load_table(spark, d, "events"))


def acf_profile(e):
    """q_acf's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    lags = e.sparkSession.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    return (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.day") == F.date_sub(F.col("a.day"), F.col("k")))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(safe_corr(F.col("a.x"), F.col("b.x")), 6).alias("acf"),
        )
        .select(F.col("k").alias("lag_days"), "n_pairs", "acf")
        .orderBy("lag_days")
    )


@query(
    "q_cross_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS p,
               CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS err
        FROM events GROUP BY day
    ),
    lags(k) AS (VALUES (-3), (-2), (-1), (0), (1), (2), (3))
    SELECT k AS lag_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(corr(a.p, b.err), 6) AS xcorr
    FROM lags
    JOIN daily a ON TRUE
    JOIN daily b ON b.day = a.day + k
    GROUP BY k
    ORDER BY k
    """,
    tags=("timeseries", "monitoring"),
)
def q_cross_corr(spark: SparkSession, d: str):
    """Lagged cross-correlation between the daily purchase-count and
    error-count series (lags -3..+3) — does error volume lead or lag
    purchase volume? The lead-lag diagnostic behind incident
    monitoring dashboards.

    Same scale shape as q_acf: the fact table reduces once to a
    days-bounded two-column series (conditional counts in one pass),
    then a 7-literal-row lag table drives bounded shifted
    self-joins. Integer counts feed corr; rounded to 6dp."""
    e = load_table(spark, d, "events")
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("p"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("err"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("int").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    return (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.day") == F.date_add(F.col("a.day"), F.col("k")))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(safe_corr(F.col("a.p"), F.col("b.err")), 6).alias("xcorr"),
        )
        .select(F.col("k").alias("lag_days"), "n_pairs", "xcorr")
        .orderBy("lag_days")
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


@query(
    "q_interpolate_linear",
    oracle="""
    WITH t AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus, value,
               (event_id % 3 = 0) AS known,
               CASE WHEN event_id % 3 = 0 THEN value END AS kv,
               CASE WHEN event_id % 3 = 0 THEN epoch_us(ts) END AS kt
        FROM events
    ),
    w AS (
        SELECT user_id, event_id, tus, value, known,
               last_value(kv IGNORE NULLS) OVER wp AS pv,
               last_value(kt IGNORE NULLS) OVER wp AS pt,
               first_value(kv IGNORE NULLS) OVER wn AS nv,
               first_value(kt IGNORE NULLS) OVER wn AS nt
        FROM t
        WINDOW wp AS (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, known,
           round(CASE WHEN known THEN value
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * ((tus - pt) / (nt - pt))
                 END, 6) AS v
    FROM w
    """,
    tags=("timeseries", "window"),
)
def q_interpolate_linear(spark: SparkSession, d: str):
    """Per-key linear interpolation of a sparsely-observed metric: a
    value is 'known' on every third event; every other event gets the
    time-weighted linear blend of its nearest known neighbors (LOCF at
    the right edge, NOCB at the left — the q_win_locf family completed
    with true interpolation). Timestamps are compared in exact integer
    microseconds; only the final blend is floating-point, and the
    ratio/blend expression is written identically on both engines then
    rounded.

    Scale shape: two per-key frame-bounded windows over the same sort
    (one exchange on user_id, one sort, both window passes reuse it —
    the per-user sequence is the partition unit, the standard
    sessionize contract). Nothing global, nothing collected."""
    ev = load_table(spark, d, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("tus"), "value"
    )
    known = (F.col("event_id") % 3) == 0
    t = ev.select(
        "user_id",
        "event_id",
        "tus",
        "value",
        known.alias("known"),
        F.when(known, F.col("value")).alias("kv"),
        F.when(known, F.col("tus")).alias("kt"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = t.select(
        "user_id",
        "event_id",
        "tus",
        "value",
        "known",
        F.last("kv", ignorenulls=True).over(wp).alias("pv"),
        F.last("kt", ignorenulls=True).over(wp).alias("pt"),
        F.first("kv", ignorenulls=True).over(wn).alias("nv"),
        F.first("kt", ignorenulls=True).over(wn).alias("nt"),
    )
    blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("tus") - F.col("pt")) / (F.col("nt") - F.col("pt"))
    )
    return w.select(
        "user_id",
        "event_id",
        "known",
        F.round(
            F.when(F.col("known"), F.col("value"))
            .when(F.col("pv").isNull(), F.col("nv"))
            .when(F.col("nv").isNull(), F.col("pv"))
            .otherwise(blend),
            6,
        ).alias("v"),
    )


_BB_N = 7  # Bollinger window: current row + 6 preceding


@query(
    "q_bollinger",
    oracle=f"""
    WITH w AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               CAST(round(SUM(CAST(value AS DECIMAL(38,10))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW), 6)
                   AS DOUBLE) AS s1,
               CAST(round(SUM(CAST(value * value AS DECIMAL(38,10))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW), 6)
                   AS DOUBLE) AS s2
        FROM events
    )
    SELECT user_id, event_id,
           round(s1 / {_BB_N}, 6) AS mid,
           round(sqrt(greatest((s2 - s1 * s1 / {_BB_N}) / {_BB_N - 1}, 0.0)), 6)
               AS sd,
           round(value - s1 / {_BB_N}
                 - 2.0 * sqrt(greatest((s2 - s1 * s1 / {_BB_N}) / {_BB_N - 1}, 0.0)),
                 6) > 0 AS breakout
    FROM w WHERE rn >= {_BB_N}
    """,
    tags=("timeseries", "anomaly"),
)
def q_bollinger(spark: SparkSession, d: str):
    """Bollinger-band breakout detection per user: rolling 7-event
    mean and sample stddev over the (ts, event_id)-ordered value
    stream; an event 'breaks out' when it exceeds mid + 2σ — the
    classic volatility-banded anomaly flag (monitoring, fraud, price
    streams). Only full-frame rows are emitted, so the band always
    summarises exactly 7 observations.

    Cross-engine exactness: the two rolling sums are exact decimal
    (frame order is pinned by the window spec, and decimal addition
    is order-independent anyway), rounded once and cast to double, so
    mean/variance/σ derive from bit-identical doubles on both engines;
    the breakout threshold compares a 6 dp-rounded margin per the
    ALIGNMENT.md round-before-compare rule. Scale shape: one
    user-keyed window — bounded per-user frames, no global state."""
    return bollinger_bands(load_table(spark, d, "events"))


def bollinger_bands(ev):
    """The q_bollinger analytic as a DataFrame transform — shared by
    the batch query and its §2.C foreachBatch streaming twin."""
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_BB_N - 1), Window.currentRow)
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(order).alias("rn"),
        F.round(F.sum(F.col("value").cast(DEC)).over(frame), 6)
        .cast("double")
        .alias("s1"),
        F.round(F.sum((F.col("value") * F.col("value")).cast(DEC)).over(frame), 6)
        .cast("double")
        .alias("s2"),
    )
    n = float(_BB_N)
    var = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1), F.lit(0.0)
    )
    return w.filter(F.col("rn") >= _BB_N).select(
        "user_id",
        "event_id",
        F.round(F.col("s1") / n, 6).alias("mid"),
        F.round(F.sqrt(var), 6).alias("sd"),
        (
            F.round(F.col("value") - F.col("s1") / n - 2.0 * F.sqrt(var), 6) > 0
        ).alias("breakout"),
    )


# CUSUM drift threshold: flag when the one-sided CUSUM exceeds this
# many sample standard deviations of the daily series.
_CUSUM_H = 2.0


@query(
    "q_cusum",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {dsum_sql('o_totalprice')} AS s
        FROM orders GROUP BY 1
    ),
    st AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(ROUND(SUM(CAST(s AS DECIMAL(38,10))), 4) AS DOUBLE) AS gs,
               {dsum_sql('s * s')} AS ssq
        FROM daily
    ),
    pre AS (
        SELECT d.day, d.s, st.nd, st.gs, st.ssq,
               CAST(ROUND(SUM(CAST(d.s - st.gs / st.nd AS DECIMAL(38,10)))
                   OVER (ORDER BY d.day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   4) AS DOUBLE) AS p
        FROM daily d, st
    ),
    cs AS (
        SELECT day, nd, gs, ssq,
               round(p - LEAST(MIN(p) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0),
                   6) AS cusum
        FROM pre
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, cusum,
           CASE WHEN cusum > round({_CUSUM_H!r}
                    * sqrt((ssq - gs * gs / nd) / NULLIF(nd - 1, 0.0)), 6)
                THEN 1 ELSE 0 END AS flag
    FROM cs
    """,
    tags=("timeseries", "monitoring", "scale"),
)
def q_cusum(spark: SparkSession, d: str):
    """One-sided CUSUM change detection over the daily revenue series:
    S_t = max(0, S_{t−1} + (x_t − μ)), flagged when S_t exceeds
    2·(sample sd). The sequential drift detector that catches slow
    mean shifts a fixed threshold misses.

    The recursion is NOT a prefix sum — but the closed form
    S_t = P_t − min(0, min_{j≤t} P_j) (P = running sum of deviations)
    IS: two bounded windows over the days-sized series replace the
    sequential loop entirely. The corpus reduces to per-day exact
    decimal sums first (one map-side-combined aggregation); everything
    after runs on the calendar-bounded table. Deviations are decimal-
    summed (order-independent), the prefix min is exact double, and
    the flag compares two 6 dp-rounded values (round-before-compare,
    ALIGNMENT)."""
    return cusum_report(load_table(spark, d, "orders"))


def cusum_report(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    daily = (
        orders
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("s"))
    )
    st = daily.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.round(F.sum(F.col("s").cast(DEC)), 4).cast("double").alias("gs"),
        dsum(F.col("s") * F.col("s")).alias("ssq"),
    )
    # key on the numeric nd column (constant per row after the cross
    # join) — bounded_window_key needs an arithmetic type, day is DATE
    wp = Window.partitionBy(bounded_window_key("nd")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.crossJoin(F.broadcast(st)).select(
        "day",
        "nd",
        "gs",
        "ssq",
        F.round(
            F.sum((F.col("s") - F.col("gs") / F.col("nd")).cast(DEC)).over(wp), 4
        )
        .cast("double")
        .alias("p"),
    )
    cs = pre.select(
        "day",
        "nd",
        "gs",
        "ssq",
        F.round(
            F.col("p") - F.least(F.min("p").over(wp), F.lit(0.0)), 6
        ).alias("cusum"),
    )
    # NULLIF: a one-day series has no sample sd — the comparison is
    # NULL (flag 0) identically on both engines
    thresh = F.round(
        _CUSUM_H
        * F.sqrt(
            (F.col("ssq") - F.col("gs") * F.col("gs") / F.col("nd"))
            / F.nullif(F.col("nd") - 1, F.lit(0.0))
        ),
        6,
    )
    return cs.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cusum",
        F.when(F.col("cusum") > thresh, 1).otherwise(0).alias("flag"),
    )


# ---------------------------------------------------------------------------
# q_holt_linear — Holt's linear-trend smoothing of the purchase series
# ---------------------------------------------------------------------------

# alpha = beta = 0.5: halving is exact in binary, so the recursion's
# float state is trivially bit-identical between the pandas UDF and
# the oracle's recursive CTE (the ops would match for any literal, but
# 0.5 removes even representation doubt).
_HOLT_SQL = """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 4) AS DOUBLE)
                   AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    idx AS (
        SELECT day, y,
               ROW_NUMBER() OVER (ORDER BY day) AS i,
               COALESCE(LEAD(y) OVER (ORDER BY day) - y,
                        CAST(0 AS DOUBLE)) AS b1
        FROM daily
    ),
    holt AS (
        SELECT i, day, y, y AS l, b1 AS b FROM idx WHERE i = 1
        UNION ALL
        SELECT x.i, x.day, x.y,
               0.5 * x.y + 0.5 * (h.l + h.b) AS l,
               0.5 * ((0.5 * x.y + 0.5 * (h.l + h.b)) - h.l) + 0.5 * h.b AS b
        FROM holt h JOIN idx x ON x.i = h.i + 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, y,
           round(l, 6) AS level, round(b, 6) AS trend
    FROM holt
"""


@query(
    "q_holt_linear",
    oracle=_HOLT_SQL,
    tags=("timeseries", "forecast", "udf"),
)
def q_holt_linear(spark: SparkSession, d: str):
    """Holt's linear-trend (double exponential) smoothing of the daily
    purchase-revenue series, α = β = 0.5: level and trend per observed
    day, initialized the textbook way (l₁ = y₁, b₁ = y₂ − y₁) — the
    forecasting-side complement of q_ewma's single smoothing.

    A genuinely SEQUENTIAL recursion — each state depends on the
    previous — so it cannot be a window/prefix expression. The scale
    design is the reduction order: the 100 TB fact first collapses to
    the calendar-bounded daily series (one map-side-combined,
    decimal-exact aggregate — the only data-sized pass), then ONE
    Arrow batch of ≤ a-few-thousand rows runs the recursion in a
    grouped-map pandas UDF (SURVEY.md §2.E's stateful exhibit). The
    oracle replays the identical recurrence as a DuckDB recursive CTE;
    α = 0.5 keeps every step an exact binary halving, so the float
    states match bit-for-bit."""
    return holt_linear(load_table(spark, d, "events"))


def holt_linear(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    import pandas as pd

    daily = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(dsum("value").alias("y"))
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        if len(pdf) == 0:
            return pd.DataFrame({"day": [], "y": [], "l": [], "b": []})
        y = pdf["y"].tolist()
        l = [y[0]]
        b = [y[1] - y[0] if len(y) > 1 else 0.0]
        for t in range(1, len(y)):
            l_new = 0.5 * y[t] + 0.5 * (l[-1] + b[-1])
            b_new = 0.5 * (l_new - l[-1]) + 0.5 * b[-1]
            l.append(l_new)
            b.append(b_new)
        return pd.DataFrame({"day": pdf["day"], "y": y, "l": l, "b": b})

    # one constant group: the recursion runs over the CALENDAR-bounded
    # series (≤ a few thousand rows for any fact size), never the fact
    out = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        holt, "day date, y double, l double, b double"
    )
    return out.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "y",
        F.round("l", 6).alias("level"),
        F.round("b", 6).alias("trend"),
    )


# SAX breakpoints for a 4-symbol alphabet (standard normal quartiles).
_SAX_BP = 0.6745


@query(
    "q_sax_symbols",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               round(SUM(value), 6) AS rev
        FROM events GROUP BY day
    ),
    st AS (
        SELECT AVG(rev) AS mu, stddev_pop(rev) AS sigma FROM daily
    ),
    z AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               round((rev - st.mu) / NULLIF(st.sigma, 0), 6) AS zscore
        FROM daily CROSS JOIN st
    )
    SELECT day, zscore,
           CASE WHEN zscore < -{_SAX_BP} THEN 'a'
                WHEN zscore < 0 THEN 'b'
                WHEN zscore < {_SAX_BP} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
    tags=("timeseries", "stats"),
)
def q_sax_symbols(spark: SparkSession, d: str):
    """SAX symbolization of the daily revenue series: z-normalize the
    days-bounded series and map each day onto a 4-letter alphabet at
    the standard-normal quartile breakpoints (±0.6745, 0) — the
    symbolic time-series representation behind motif discovery and
    cheap sequence indexing (a day's shape becomes a character,
    a quarter becomes a string you can grep).

    One fact aggregation to a days-sized table; mean/stddev are a
    1-row broadcast back onto it. The symbol compares the ROUNDED
    z-score on both engines so accumulation-order float drift cannot
    flip a letter at a breakpoint (ALIGNMENT.md round-before-compare
    rule); a zero-variance series yields NULL z and symbol 'd' —
    pinned by the degenerate-series unit test."""
    return sax_table(load_table(spark, d, "events"))


def sax_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("rev")
    )
    st = daily.agg(
        F.avg("rev").alias("mu"), F.stddev_pop("rev").alias("sigma")
    )
    z = daily.crossJoin(F.broadcast(st)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(
            (F.col("rev") - F.col("mu"))
            / F.nullif(F.col("sigma"), F.lit(0.0)),
            6,
        ).alias("zscore"),
    )
    return z.select(
        "day",
        "zscore",
        F.when(F.col("zscore") < -_SAX_BP, "a")
        .when(F.col("zscore") < 0, "b")
        .when(F.col("zscore") < _SAX_BP, "c")
        .otherwise("d")
        .alias("symbol"),
    )


@query(
    "q_burstiness",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(c) AS DOUBLE) AS s,
               CAST(SUM(c * c) AS DOUBLE) AS ssq
        FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_days,
           round(s / nd, 6) AS mean_daily,
           round(((ssq - s * s / nd) / nd) / (s / nd), 6) AS fano,
           round((sqrt((ssq - s * s / nd) / nd) - s / nd)
                 / (sqrt((ssq - s * s / nd) / nd) + s / nd), 6)
               AS burstiness
    FROM st
    """,
    tags=("events", "timeseries"),
)
def q_burstiness(spark: SparkSession, d: str):
    """Arrival burstiness per event type from daily counts: the Fano
    factor (variance/mean — 1 for Poisson, ≫1 for bursty) and the
    Goh–Barabási burstiness index (σ−μ)/(σ+μ) ∈ (−1, 1) — the
    dispersion diagnostics that separate organic traffic from
    bot-driven spikes at the series level (q_bot_burst flags the
    minutes; this scores the process).

    The corpus reduces to (type × day) integer counts in one
    map-side-combined aggregation; moments are exact integer sums cast
    once, and every derived expression shares operation order with the
    oracle."""
    return burstiness_report(load_table(spark, d, "events"))


def burstiness_report(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    daily = (
        ev
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("c").cast("double").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("ssq"),
    )
    nd, s, ssq = F.col("nd"), F.col("s"), F.col("ssq")
    var = (ssq - s * s / nd) / nd
    mean = s / nd
    return st.select(
        "event_type",
        nd.cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var / mean, 6).alias("fano"),
        F.round(
            (F.sqrt(var) - mean) / (F.sqrt(var) + mean), 6
        ).alias("burstiness"),
    )


_LATE_BLOCK = 1000  # arrival-order block size for the stitched runmax
_LATE_TAU = 300  # "late" threshold (seconds) for the census


@query(
    "q_lateness_watermark",
    oracle=f"""
    WITH arr AS (
        SELECT event_id, event_type, {epoch_s_sql('ts')} AS es
        FROM events
    ),
    runmax AS (
        SELECT event_id, event_type, es,
               MAX(es) OVER (ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS high_before
        FROM arr
    ),
    lat AS (
        SELECT event_type,
               GREATEST(COALESCE(high_before - es, 0), 0) AS late_s
        FROM runmax
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE late_s > {_LATE_TAU}) AS BIGINT)
               AS n_late,
           round(quantile_cont(late_s, 0.5), 6) AS p50_late_s,
           round(quantile_cont(late_s, 0.95), 6) AS p95_late_s,
           CAST(MAX(late_s) AS BIGINT) AS max_late_s
    FROM lat
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "monitoring"),
)
def q_lateness_watermark(spark: SparkSession, d: str):
    """Event-time lateness profile: for each event (in arrival order =
    event_id), how far behind the highest event time seen so far it
    arrives — the exact distribution that sizes `withWatermark` (p95
    lateness is the watermark that keeps 95% of late data; max is the
    loss-free bound). The measurement the reference's ordered-Kafka
    deployment would need before setting any state timeout.

    The naive form is a running max over GLOBAL arrival order — a
    single-partition window. The scale-safe form used here stitches
    it exactly from bounded pieces (the q_islands_ranged pattern):
    (1) within each {_LATE_BLOCK}-event arrival block, a block-local
    running max (windows partitioned BY BLOCK); (2) per-block maxima
    — a blocks-sized table — get a running max over blocks (bounded
    window); (3) each event's global high-water mark is
    max(local_runmax, previous blocks' high) via one broadcast join.
    Identical output to the oracle's global window, no unbounded
    partition anywhere."""
    return lateness_profile(load_table(spark, d, "events"))


def lateness_profile(e, block: int = _LATE_BLOCK):
    """Composable form over any events-shaped frame — also the
    property-test entry point (brute-force global running max on
    arbitrary arrival orders and small blocks,
    tests/test_properties.py)."""
    arr = e.select(
        "event_id",
        "event_type",
        epoch_s("ts").alias("es"),
        F.floor(F.col("event_id") / block).alias("blk"),
    )
    w_local = (
        Window.partitionBy("blk")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = arr.withColumn("local_high", F.max("es").over(w_local))
    blk_max = arr.groupBy("blk").agg(F.max("es").alias("bmax"))
    w_blocks = Window.partitionBy(bounded_window_key("blk")).orderBy("blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prev_high = blk_max.select(
        "blk", F.max("bmax").over(w_blocks).alias("prev_high")
    )
    lat = (
        local.join(F.broadcast(prev_high), "blk")
        .select(
            "event_type",
            # greatest() skips NULLs on both engines; the very first
            # event (no local or previous high) coalesces to 0 late.
            F.greatest(
                F.coalesce(
                    F.greatest(F.col("local_high"), F.col("prev_high"))
                    - F.col("es"),
                    F.lit(0),
                ),
                F.lit(0),
            ).alias("late_s"),
        )
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("late_s") > _LATE_TAU, 1)).alias("n_late"),
            F.round(F.percentile("late_s", F.lit(0.5)), 6).alias(
                "p50_late_s"
            ),
            F.round(F.percentile("late_s", F.lit(0.95)), 6).alias(
                "p95_late_s"
            ),
            F.max("late_s").cast("bigint").alias("max_late_s"),
        )
        .orderBy("event_type")
    )


@query(
    "q_date_gaps",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
               MAX(CAST(o_orderdate AS DATE)) AS hi
        FROM orders
    ),
    spine AS (
        SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
            AS day
        FROM bounds
    ),
    have AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders)
    SELECT strftime(s.day, '%Y-%m-%d') AS missing_day
    FROM spine s LEFT JOIN have h ON h.day = s.day
    WHERE h.day IS NULL
    """,
    tags=("quality", "calendar"),
)
def q_date_gaps(spark: SparkSession, d: str):
    """Calendar-gap detection: days between the first and last order
    date with NO orders at all — the data-delivery completeness check
    every ingestion pipeline runs before trusting a daily series
    (q_cusum, q_ewma and friends silently skip missing days; this
    query makes the skips visible).

    The spine is GENERATED (sequence over the min/max bound row), so
    its size is calendar-bounded at any corpus size; the observed-days
    side reduces the fact to distinct days first, and the anti join
    runs spine × days-bounded. Output is the day string (engine-
    identical strftime)."""
    return date_gaps_report(load_table(spark, d, "orders"))


def date_gaps_report(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    bounds = orders.agg(
        F.min(F.to_date("o_orderdate")).alias("lo"),
        F.max(F.to_date("o_orderdate")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    have = orders.select(F.to_date("o_orderdate").alias("day")).distinct()
    return (
        spine.join(have, "day", "left_anti")
        .select(F.date_format("day", "yyyy-MM-dd").alias("missing_day"))
    )


# Ordered event-sequence regular expressions (MATCH_RECOGNIZE-style
# row-pattern queries, evaluated over each user's full event path).
_SEQ_PATTERNS = (
    "signup.*purchase",
    "view.*click.*purchase",
    "error.*error.*error",
)


@query(
    "q_seq_pattern",
    oracle=f"""
    WITH paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    )
    SELECT p.pattern, COUNT(*) AS n_users
    FROM paths, (VALUES {", ".join(f"('{p}')" for p in _SEQ_PATTERNS)}) AS p(pattern)
    WHERE regexp_matches(paths.path, p.pattern)
    GROUP BY p.pattern
    """,
    tags=("events", "pattern"),
)
def q_seq_pattern(spark: SparkSession, d: str):
    """MATCH_RECOGNIZE-style row-pattern matching: each user's events
    are ordered into a single path string ('view>click>...'), then
    regular expressions over the path count users exhibiting each
    behavioural motif (signup-then-purchase, full browse funnel,
    triple error). This is the declarative core of SQL:2016 row
    pattern recognition, re-expressed as ordered aggregation + regex
    — the form that actually distributes (one user-keyed exchange,
    per-user paths bounded by per-user activity).

    Ordering inside the path is made deterministic without a window
    by array_sort over (ts, event_id, type) structs — groupBy
    collect_list order is not guaranteed across partitions, sorting
    the collected structs is. The pattern table is a literal
    inline VALUES (3 rows, broadcast trivially)."""
    return seq_pattern_counts(load_table(spark, d, "events"))


def seq_pattern_counts(e):
    """Composable form of q_seq_pattern over any (user_id, event_id,
    event_type, ts) DataFrame — also applied per micro-batch snapshot
    by the streaming twin in tests/test_streaming.py."""
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.event_type,
        ),
        ">",
    )
    paths = e.groupBy("user_id").agg(path.alias("path"))
    pats = F.explode(
        F.array(*[F.lit(p) for p in _SEQ_PATTERNS])
    ).alias("pattern")
    return (
        paths.select("path", pats)
        .filter(F.regexp_like(F.col("path"), F.col("pattern")))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Burst detection: max events per sliding minute that flags a user.
_BURST_WINDOW_S = 60
_BURST_THRESHOLD = 5


@query(
    "q_bot_burst",
    oracle=f"""
    WITH sec AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
    ),
    windowed AS (
        SELECT user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_s
                              RANGE BETWEEN {_BURST_WINDOW_S - 1} PRECEDING
                              AND CURRENT ROW) AS in_window
        FROM sec
    ),
    per_user AS (
        SELECT user_id, MAX(in_window) AS max_per_min
        FROM windowed GROUP BY user_id
    ),
    totals AS (
        SELECT user_id, COUNT(*) AS n_events,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_s
        FROM events GROUP BY user_id
    )
    SELECT t.user_id, t.n_events, t.span_s, p.max_per_min,
           p.max_per_min >= {_BURST_THRESHOLD} AS burst_flag
    FROM totals t JOIN per_user p ON t.user_id = p.user_id
    """,
    tags=("events", "quality"),
)
def q_bot_burst(spark: SparkSession, d: str):
    """Burst/bot detection: for each user, the maximum number of
    events falling in any sliding 60-second window, via a RANGE frame
    over integer epoch seconds — the standard automated-traffic
    screen a clickstream pipeline runs before analytics (and an LLM
    corpus pipeline runs on scraped interaction logs).

    The RANGE window and the per-user rollup share one user-keyed
    exchange; per-user frames are bounded by per-user activity, so no
    global order exists anywhere. Epoch math is integer seconds on
    both engines (Spark unix_timestamp truncates, the oracle floors
    epoch() explicitly)."""
    return bot_burst_report(load_table(spark, d, "events"))


def bot_burst_report(e):
    """Composable form of q_bot_burst over any (user_id, event_id,
    event_type, ts) DataFrame — also applied per micro-batch snapshot
    by the streaming twin in tests/test_streaming.py."""
    sec = e.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-(_BURST_WINDOW_S - 1), Window.currentRow)
    )
    per_user = (
        sec.select("user_id", F.count(F.lit(1)).over(w).alias("in_window"))
        .groupBy("user_id")
        .agg(F.max("in_window").alias("max_per_min"))
    )
    totals = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("span_s"),
    )
    return totals.join(per_user, "user_id").select(
        "user_id",
        "n_events",
        "span_s",
        "max_per_min",
        (F.col("max_per_min") >= _BURST_THRESHOLD).alias("burst_flag"),
    )


# Debounce gap: a repeat of the same (user, event_type) within this
# many seconds of the previous occurrence is collapsed.
_DEBOUNCE_S = 300


@query(
    "q_event_debounce",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type
    FROM seq
    WHERE prev_ts IS NULL
       OR date_diff('second', prev_ts, ts) > {_DEBOUNCE_S}
    """,
    tags=("events", "dedup"),
)
def q_event_debounce(spark: SparkSession, d: str):
    """Time-proximity debouncing: collapse repeats of the same
    (user, event_type) arriving within 5 minutes of the previous
    occurrence — double-click / retry / refresh noise removal, the
    temporal cousin of exact dedup (q_dedup drops identical ids,
    this drops near-in-time semantic repeats).

    One (user, type)-keyed window — frames bounded per key, one
    exchange, no global order. The lag comparison is against the
    previous RAW event (simple debounce), which is a pure window
    expression on both engines; chain-collapse semantics (compare
    against the previous KEPT event) is inherently sequential and is
    implemented on the streaming path as
    ``streaming/transforms.py::debounce_stateful``
    (applyInPandasWithState, survivor timestamp carried across
    micro-batches — ``test_debounce_stateful_chain_collapse``)."""
    e = load_table(spark, d, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.select("event_id", "user_id", "event_type", gap_s.alias("gap_s"))
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") > _DEBOUNCE_S))
        .drop("gap_s")
    )


@query(
    "q_funnel_latency",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT s.user_id,
               MIN(date_diff('second', s.signup_ts, e.ts)) AS latency_s
        FROM s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= s.signup_ts
        GROUP BY s.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           COUNT(*) AS n_converted,
           round(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM s), 6) AS conv_rate,
           round(quantile_cont(latency_s, 0.5), 6) AS p50_latency_s,
           round(quantile_cont(latency_s, 0.9), 6) AS p90_latency_s
    FROM conv
    """,
    tags=("events", "funnel"),
)
def q_funnel_latency(spark: SparkSession, d: str):
    """Funnel conversion latency: among users who signed up, the share
    who later purchased and the p50/p90 seconds from first signup to
    first subsequent purchase — the time-to-convert report that
    accompanies every funnel count (q_funnel tells how many, this
    tells how fast).

    Both anchor tables are user-keyed aggregates of one filtered
    fact scan each (filters pushed to the parquet scan); the join is
    user-keyed; the final percentile runs over the converted-users
    table (bounded by the user domain, orders of magnitude under the
    fact). Latency is integer seconds on both engines; percentiles
    are exact interpolated (both engines linear-interpolate), rounded
    to 6dp."""
    return funnel_latency_report(load_table(spark, d, "events"))


def funnel_latency_report(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        s.join(p, "user_id")
        .filter(F.col("p_ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_timestamp("p_ts") - F.unix_timestamp("signup_ts")
            ).alias("latency_s")
        )
    )
    n_signup = s.agg(F.count(F.lit(1)).alias("n_signup"))
    return (
        conv.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias(
                "p50_latency_s"
            ),
            F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias(
                "p90_latency_s"
            ),
        )
        .crossJoin(F.broadcast(n_signup))
        .select(
            "n_signup",
            "n_converted",
            F.round(
                F.try_divide(F.col("n_converted"), F.col("n_signup")), 6
            ).alias("conv_rate"),
            "p50_latency_s",
            "p90_latency_s",
        )
    )


# Windowed funnel: every later stage must land within this many
# seconds of the user's FIRST view (ClickHouse windowFunnel shape).
_WF_WINDOW_S = 7 * 86400


@query(
    "q_funnel_windowed",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT v.user_id, v.t1, MIN(e.ts) AS t2
        FROM v JOIN events e
          ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts >= v.t1
         AND CAST(floor(epoch(e.ts)) AS BIGINT)
             <= CAST(floor(epoch(v.t1)) AS BIGINT) + {_WF_WINDOW_S}
        GROUP BY v.user_id, v.t1
    ),
    p AS (
        SELECT c.user_id
        FROM c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts >= c.t2
         AND CAST(floor(epoch(e.ts)) AS BIGINT)
             <= CAST(floor(epoch(c.t1)) AS BIGINT) + {_WF_WINDOW_S}
        GROUP BY c.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    tags=("events", "funnel"),
)
def q_funnel_windowed(spark: SparkSession, d: str):
    """Windowed strict-order funnel (the ClickHouse windowFunnel
    shape): view → click → purchase where every later stage must fall
    within 7 days of the user's FIRST view — q_funnel3's ordering
    constraint plus a conversion deadline, which is how funnels are
    actually reported (unbounded funnels only ever grow).

    Each stage is one filtered fact scan (filter pushed to parquet)
    reduced user-keyed, then joined user-keyed onto the previous
    stage's anchor — identical exchange budget to q_funnel3 plus the
    deadline predicate in integer epoch seconds (no sub-second float
    drift across engines)."""
    e = load_table(spark, d, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    c = (
        v.join(clicks, "user_id")
        .filter(
            (F.col("c_ts") >= F.col("t1"))
            & (
                F.unix_timestamp("c_ts")
                <= F.unix_timestamp("t1") + _WF_WINDOW_S
            )
        )
        .groupBy("user_id", "t1")
        .agg(F.min("c_ts").alias("t2"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    p = (
        c.join(purchases, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("t2"))
            & (
                F.unix_timestamp("p_ts")
                <= F.unix_timestamp("t1") + _WF_WINDOW_S
            )
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    n1 = v.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    n3 = p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return n1.crossJoin(n2).crossJoin(n3)


@query(
    "q_inter_event",
    oracle=f"""
    WITH gaps AS (
        SELECT event_type,
               {epoch_s_sql('ts')}
                 - {epoch_s_sql("LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)")}
                 AS gap_s
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           round({davg_sql('gap_s')}, 6) AS avg_gap_s,
           round(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
           round(quantile_cont(gap_s, 0.9), 6) AS p90_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("events", "latency"),
)
def q_inter_event(spark: SparkSession, d: str):
    """Inter-event latency profile: seconds since the same user's
    previous event (any type), aggregated per current event type —
    count, mean, exact interpolated p50/p90. The arrival-cadence
    fingerprint behind rate limiting and bot heuristics.

    One user-keyed window (ORDER BY ts, event_id — fully tie-broken)
    produces integer epoch-second gaps; the rollup is a map-side-
    combined aggregation to |types| rows. Integer gaps make the mean
    exact (decimal-sum contract) and the interpolating percentiles
    engine-identical (ALIGNMENT: both engines average the straddling
    values)."""
    return inter_event_profile(load_table(spark, d, "events"))


def inter_event_profile(e):
    """Core transform of q_inter_event over an events frame — shared
    with its foreachBatch streaming twin (tests/test_streaming.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (epoch_s("ts") - epoch_s(F.lag("ts").over(w))).alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.round(
                dsum("gap_s") / F.count("gap_s"), 6
            ).alias("avg_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("p50_gap_s"),
            F.round(F.percentile("gap_s", F.lit(0.9)), 6).alias("p90_gap_s"),
        )
        .orderBy("event_type")
    )


_PRESENCE_S = 300  # each event opens a 5-minute presence interval


@query(
    "q_concurrent_peak",
    oracle=f"""
    WITH pts AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {epoch_s_sql('ts')} AS sec,
               1 AS delta
        FROM events
        UNION ALL
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               LEAST({epoch_s_sql('ts')} + {_PRESENCE_S},
                     {epoch_s_sql("date_trunc('day', ts)")} + 86400) AS sec,
               -1 AS delta
        FROM events
    ),
    net AS (
        SELECT day, sec, CAST(SUM(delta) AS BIGINT) AS net
        FROM pts GROUP BY day, sec
    ),
    run AS (
        SELECT day,
               SUM(net) OVER (PARTITION BY day ORDER BY sec
                              ROWS UNBOUNDED PRECEDING) AS c
        FROM net
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(MAX(c) AS BIGINT) AS peak_concurrent
    FROM run
    GROUP BY day
    ORDER BY day
    """,
    tags=("events", "sweepline"),
)
def q_concurrent_peak(spark: SparkSession, d: str):
    """Peak concurrency per day via the sweep-line algorithm: each
    event opens a 5-minute presence interval (truncated at midnight
    so each day's +1/-1 deltas balance), the deltas are summed per
    distinct second, and the running sum's daily max is the peak
    number of simultaneously-present users — the capacity-planning
    number.

    Scale shape: the union'd endpoint stream aggregates to net delta
    per (day, second) FIRST, so the running-sum window runs over at
    most 86400 rows per day-partition regardless of event volume —
    the unbounded-window trap (one global ORDER BY time) is avoided
    by construction. Summing net per second applies -1s before +1s
    at the same instant, which is exactly the half-open [s, s+300)
    interval semantic."""
    return concurrent_peak_report(load_table(spark, d, "events"))


def concurrent_peak_report(e):
    """Core transform of q_concurrent_peak over an events frame —
    shared with its foreachBatch streaming twin.

    Both interval endpoints are emitted from ONE scan (explode of a
    2-element struct array) — the UNION-of-two-projections form reads
    the fact twice, which is the difference between one and two
    100 TB scans. The oracle keeps the UNION ALL form (same rows)."""
    day = F.date_trunc("day", "ts").cast("date").alias("day")
    day_end = epoch_s(F.date_trunc("day", "ts")) + 86400
    pts = e.select(
        day,
        F.explode(
            F.array(
                F.struct(
                    epoch_s("ts").alias("sec"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.least(epoch_s("ts") + _PRESENCE_S, day_end).alias(
                        "sec"
                    ),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("pt"),
    ).select("day", F.col("pt.sec").alias("sec"), F.col("pt.delta").alias("delta"))
    net = pts.groupBy("day", "sec").agg(F.sum("delta").alias("net"))
    w = Window.partitionBy("day").orderBy("sec").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    run = net.select("day", F.sum("net").over(w).alias("c"))
    return (
        run.groupBy("day")
        .agg(F.max("c").alias("peak_concurrent"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "peak_concurrent",
        )
        .orderBy("day")
    )


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


_IV_LEN = 300  # presence-interval length (seconds)


@query(
    "q_interval_overlap",
    oracle=f"""
    WITH c AS (
        SELECT event_id AS cid,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + {_IV_LEN} AS e
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS pid,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + {_IV_LEN} AS e
        FROM events WHERE event_type = 'purchase'
    ),
    cb AS (
        SELECT cid, day, s, e,
               unnest(list_distinct([s // {_IV_LEN}, (e - 1) // {_IV_LEN}]))
                   AS bucket
        FROM c
    ),
    pb AS (
        SELECT pid, s, e,
               unnest(list_distinct([s // {_IV_LEN}, (e - 1) // {_IV_LEN}]))
                   AS bucket
        FROM p
    ),
    pairs AS (
        SELECT DISTINCT cb.cid, cb.day, pb.pid
        FROM cb JOIN pb ON pb.bucket = cb.bucket
        WHERE cb.s < pb.e AND pb.s < cb.e
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
    FROM pairs
    GROUP BY day
    ORDER BY day
    """,
    tags=("events", "interval"),
)
def q_interval_overlap(spark: SparkSession, d: str):
    """Interval-overlap join: click and purchase presence intervals
    ([ts, ts+300)) that overlap in time, counted per day — the
    co-presence / collision-detection query (ad exposure overlap,
    concurrent-session attribution) that Spark has no native interval
    join for.

    The scale-safe plan: each interval registers in the 1-2
    fixed-size time buckets it touches, candidates join ON BUCKET
    (equi-join — bucket-scoped, never a nested-loop range join), the
    exact overlap predicate filters candidates, and DISTINCT
    (cid, pid) dedups the pair that matched in two buckets. Cost is
    bounded by events-per-bucket², the same bound as every LSH path
    here."""
    return interval_overlap_report(load_table(spark, d, "events"))


def interval_overlap_report(e):
    """Core transform of q_interval_overlap over an events frame —
    shared with its foreachBatch streaming twin."""
    es = F.col("ts").cast("long")

    def _iv(df, idcol):
        return df.select(
            F.col("event_id").alias(idcol),
            F.date_trunc("day", "ts").cast("date").alias("day"),
            es.alias("s"),
            (es + _IV_LEN).alias("e"),
        )

    c = _iv(e.filter(F.col("event_type") == "click"), "cid")
    p = _iv(e.filter(F.col("event_type") == "purchase"), "pid").drop("day")
    bucket = F.explode(
        F.array_distinct(
            F.array(
                F.floor(F.col("s") / _IV_LEN),
                F.floor((F.col("e") - 1) / _IV_LEN),
            )
        )
    )
    cb = c.select("cid", "day", "s", "e", bucket.alias("bucket"))
    pb = p.select(
        F.col("pid"),
        F.col("s").alias("ps"),
        F.col("e").alias("pe"),
        bucket.alias("bucket"),
    )
    pairs = (
        cb.join(pb, "bucket")
        .filter((F.col("s") < F.col("pe")) & (F.col("ps") < F.col("e")))
        .select("cid", "day", "pid")
        .distinct()
    )
    return (
        pairs.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_overlap_pairs",
        )
        .orderBy("day")
    )
