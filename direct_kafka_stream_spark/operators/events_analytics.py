"""Event-sequence analytics: Markov transition matrices and strict
ordered funnels — the path-analysis layer over the events stream
(complements q_funnel / q_retention / q_win_session in
operators/streaming_analog.py).

Reference anchor: the reference's per-batch hook (KafkaDirectStream
.scala:43-51) is where such per-user sequence analysis would attach;
these are mandated-extension (EXT) operators per SURVEY.md §2.

Both operators are LAG/aggregation compositions over a single
(user, time)-ordered shuffle — the natural clustering for event data
at scale (see docstrings).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import bounded_window_key, dsum, dsum_sql, md5_int
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


@query(
    "q_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    pairs AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           round(n * 1.0 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM pairs
    """,
    tags=("events", "sequence"),
)
def q_transition_matrix(spark: SparkSession, d: str):
    """First-order Markov transition matrix over per-user event
    sequences: P(next_type | prev_type) with counts. The
    session-modeling primitive (what follows a view? how often does
    an error precede churn?).

    ONE shuffle partitions by user_id for the LAG (at scale: events
    are naturally stored clustered by user/time, making this shuffle
    free); the pair-count aggregation reduces to |types|² rows, and
    the row-normalization window runs on that tiny table. Ties on ts
    are broken by event_id so the sequence — hence the matrix — is
    deterministic across engines."""
    return transition_matrix(load_table(spark, d, "events"))


def transition_matrix(e):
    """Composable form of q_transition_matrix over any (user_id,
    event_id, event_type, ts) DataFrame — also applied per micro-batch
    snapshot by the streaming twin in tests/test_streaming.py."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wn), 6).alias("p"),
    )


@query(
    "q_funnel3",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t_click
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t_purchase
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    tags=("events", "funnel"),
)
def q_funnel3(spark: SparkSession, d: str):
    """Strict-order three-step funnel (view → click → purchase): a
    user advances a step only with an event strictly AFTER their
    previous step's first event. Generalizes q_funnel's two-step
    interval join to the chained form real product funnels use.

    Each stage is (first-event aggregation) ⋈ (previous stage); the
    stage tables shrink monotonically (users-sized, then converted-
    users-sized), so each join broadcasts the smaller prior stage
    against the fact scan — the fact table never shuffles. Three
    scans of one column-pruned projection beat one shuffle of the
    full table at 100 TB."""
    e = load_table(spark, d, "events").select("user_id", "event_type", "ts")
    return funnel3_counts(e)


def funnel3_counts(e):
    """Composable form of q_funnel3 over any (user_id, event_type, ts)
    DataFrame — also applied per micro-batch snapshot by the streaming
    twin in tests/test_streaming.py (the §2.C batch-analog/streaming
    pattern extended to the round-3 analytics)."""
    view = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    click = (
        e.filter(F.col("event_type") == "click")
        .join(F.broadcast(view), "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchase = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(click), "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = [
        df.agg(F.count(F.lit(1)).alias(name))
        for df, name in (
            (view, "n_view"),
            (click, "n_view_click"),
            (purchase, "n_view_click_purchase"),
        )
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.crossJoin(F.broadcast(c))
    return out


@query(
    "q_attribution",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_id, event_type, ts,
               FIRST_VALUE(event_type) OVER w AS first_touch,
               LAG(CASE WHEN event_type != 'purchase' THEN event_type END
                   IGNORE NULLS) OVER w AS last_touch
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT first_touch,
           COALESCE(last_touch, 'none') AS last_touch,
           COUNT(*) AS n_purchases
    FROM seq WHERE event_type = 'purchase'
    GROUP BY first_touch, last_touch
    """,
    tags=("events", "attribution"),
)
def q_attribution(spark: SparkSession, d: str):
    """Purchase attribution report: for every purchase, the user's
    FIRST-touch event type (their very first event) and LAST-touch
    type (most recent non-purchase event before the purchase),
    aggregated into the (first, last) → purchases matrix marketing
    attribution models read.

    Both touches come from ONE user-partitioned ordered window (the
    same single shuffle every sequence operator here shares —
    naturally free when events are stored clustered by user/time);
    the attribution matrix is |types|² rows. The null-skipping LAG
    (ignorenulls) is the engine-portable way to say 'latest earlier
    event of another type' without a self-join."""
    return attribution_matrix(load_table(spark, d, "events"))


def attribution_matrix(e):
    """Composable form of q_attribution over any (user_id, event_id,
    event_type, ts) DataFrame — also applied per micro-batch snapshot
    by the streaming twin in tests/test_streaming.py."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = w.rowsBetween(Window.unboundedPreceding, -1)
    seq = e.select(
        "event_type",
        F.first("event_type").over(w).alias("first_touch"),
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        )
        .over(wp)
        .alias("last_touch"),
    )
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(
            "first_touch",
            F.coalesce("last_touch", F.lit("none")).alias("last_touch"),
        )
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


@query(
    "q_cohort_ltv",
    oracle=f"""
    WITH first_touch AS (
        SELECT user_id, date_trunc('month', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    purchases AS (
        SELECT e.user_id, f.cohort,
               datediff('month', f.cohort, date_trunc('month', e.ts))
                   AS month_offset,
               e.value
        FROM events e JOIN first_touch f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
    ),
    per_offset AS (
        SELECT strftime(cohort, '%Y-%m') AS cohort, month_offset,
               {dsum_sql("value")}
                   AS revenue
        FROM purchases GROUP BY cohort, month_offset
    )
    SELECT cohort, month_offset, revenue,
           round(SUM(revenue) OVER (PARTITION BY cohort ORDER BY month_offset
                                    ROWS UNBOUNDED PRECEDING), 4)
               AS cum_revenue
    FROM per_offset
    """,
    tags=("events", "cohort"),
)
def q_cohort_ltv(spark: SparkSession, d: str):
    """Cohort lifetime-value curves: users grouped by first-activity
    month, purchase value accumulated by month offset since the cohort
    started — the (cohort × age) revenue matrix growth teams read.

    The cohort assignment is one user-keyed aggregation whose result
    (users-sized, two narrow columns) broadcasts back onto the
    purchase scan; revenue then reduces to (cohorts × offsets) rows
    BEFORE the cumulative window, so the running sum is cosmetically
    cheap. Revenue sums go through exact DECIMAL(38,10) (the engine's
    determinism contract — order-independent and reproducible at any
    scale)."""
    return cohort_ltv_curve(load_table(spark, d, "events"))


def cohort_ltv_curve(e):
    """q_cohort_ltv's transform on an events frame — shared by the
    batch query and its streaming foreachBatch twin."""
    first_touch = e.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(first_touch), "user_id")
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort"),
            (
                F.months_between(
                    F.date_trunc("month", "ts"), F.col("cohort")
                ).cast("long")
            ).alias("month_offset"),
            "value",
        )
    )
    per_offset = purchases.groupBy("cohort", "month_offset").agg(
        dsum("value").alias("revenue")
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("month_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_offset.select(
        "cohort",
        "month_offset",
        "revenue",
        F.round(F.sum("revenue").over(w), 4).alias("cum_revenue"),
    )


@query(
    "q_seasonality",
    oracle=f"""
    SELECT CAST(dayofweek(ts) AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hod,
           COUNT(*) AS n_events,
           {dsum_sql("value")}
               AS total_value
    FROM events
    GROUP BY dow, hod
    ORDER BY dow, hod
    """,
    tags=("events", "seasonality"),
)
def q_seasonality(spark: SparkSession, d: str):
    """Traffic seasonality heatmap: event counts and exact-decimal
    value totals by (day-of-week × hour-of-day) — the load-profile
    census capacity planning and anomaly baselines start from. One
    map-side-combined aggregation to at most 168 output rows
    regardless of table size.

    Dialect note (ALIGNMENT.md): Spark dayofweek and DuckDB dayofweek
    differ by one (Sunday=1 vs Sunday=0) — Spark side subtracts 1."""
    return seasonality_profile(load_table(spark, d, "events"))


def seasonality_profile(e):
    """q_seasonality's transform on an events frame — shared by the
    batch query and its streaming foreachBatch twin."""
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .orderBy("dow", "hod")
    )


@query(
    "q_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (
        SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY type_a, type_b
    )
    SELECT i.type_a, i.type_b, i.n_both,
           sa.n AS n_a, sb.n AS n_b,
           round(i.n_both * 1.0 / (sa.n + sb.n - i.n_both), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON i.type_a = sa.event_type
    JOIN sizes sb ON i.type_b = sb.event_type
    """,
    tags=("events", "overlap"),
)
def q_audience_overlap(spark: SparkSession, d: str):
    """Pairwise audience overlap between event types: for every type
    pair, the Jaccard similarity of their user sets — the
    segment-overlap matrix behind 'do purchasers also file errors?'
    questions (and the audience-dedup problem in ad pipelines).

    The (user, type) distinct projection is one user-keyed shuffle;
    the self-join runs on that deduped table keyed by user, bounded at
    ≤|types| rows per user, so join output is ≤|types|²/2 per user —
    never quadratic in users. Pair counts and the |types|-row size
    table then join broadcast-side."""
    return audience_overlap_report(load_table(spark, d, "events"))


def audience_overlap_report(e):
    """q_audience_overlap's transform on an events frame — shared by
    the batch query and its streaming foreachBatch twin."""
    ut = e.select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@query(
    "q_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               {dsum_sql("value")}
                   AS x
        FROM events GROUP BY day
    ),
    stats AS (SELECT AVG(x) AS mu FROM daily),
    cusum AS (
        SELECT day, x,
               SUM(x - (SELECT mu FROM stats))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           round(x, 4) AS daily_value,
           round(s, 4) AS cusum,
           round(ABS(s), 4) AS abs_cusum
    FROM cusum
    ORDER BY round(ABS(s), 4) DESC, day
    LIMIT 5
    """,
    tags=("events", "monitoring"),
)
def q_changepoint(spark: SparkSession, d: str):
    """CUSUM mean-shift detection over the daily value series: the
    cumulative sum of deviations from the global mean peaks at the
    most likely changepoint — the top-5 |CUSUM| days are where a level
    shift in the feed is most likely to have started (the classic
    page-view/revenue regression monitor).

    The fact table reduces to a days-sized series in one map-side-
    combined aggregation (exact-decimal sums); the mean is a 1-row
    broadcast and the running CUSUM window runs over days, not events.
    Top-5 via TakeOrderedAndProject."""
    return changepoint_report(load_table(spark, d, "events"))


def changepoint_report(e):
    """q_changepoint's transform on an events frame — shared by the
    batch query and its streaming foreachBatch twin."""
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(dsum("value").alias("x"))
    mu = daily.agg(F.avg("x").alias("mu"))
    w = Window.partitionBy(bounded_window_key("day")).orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cusum = (
        daily.crossJoin(F.broadcast(mu))
        .select(
            "day",
            "x",
            F.sum(F.col("x") - F.col("mu")).over(w).alias("s"),
        )
    )
    return (
        cusum.select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("x", 4).alias("daily_value"),
            F.round("s", 4).alias("cusum"),
            F.round(F.abs("s"), 4).alias("abs_cusum"),
        )
        .orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(5)
    )


@query(
    "q_ab_test",
    oracle="""
    WITH tagged AS (
        SELECT CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                    AS BIGINT) % 2 AS BIGINT) AS arm,
               value
        FROM events
    ),
    arms AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS m,
               VAR_POP(value) AS v
        FROM tagged GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN m END) AS m0,
               MAX(CASE WHEN arm = 0 THEN v END) AS v0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN m END) AS m1,
               MAX(CASE WHEN arm = 1 THEN v END) AS v1
        FROM arms
    )
    SELECT n0, n1,
           round(m0, 6) AS mean0,
           round(m1, 6) AS mean1,
           round((m1 - m0) / NULLIF(sqrt(v0 / n0 + v1 / n1), 0.0), 6)
               AS z_score
    FROM wide
    """,
    tags=("events", "experiment"),
)
def q_ab_test(spark: SparkSession, d: str):
    """Two-sample z-test for an A/B experiment on a continuous metric:
    users hash into two arms (md5 — the deterministic assignment a
    real experimentation system uses, identical across engines) and
    the arms' mean event values are compared with the Welch-style
    z-score (m₁−m₀)/√(σ₀²/n₀+σ₁²/n₁) — the readout query of every
    experimentation pipeline. (A conversion-proportion variant is
    degenerate on this fixture — every user purchases — so the
    continuous form is the honest test.)

    One map-side-combined aggregation to a 2-row arm table, then pure
    scalar arithmetic; the statistic rounds at 6 dp (ALIGNMENT.md
    transcendental rule for AVG/VAR_POP)."""
    return ab_test_report(load_table(spark, d, "events"))


def ab_test_report(e):
    """q_ab_test's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    arm = md5_int(F.col("user_id").cast("string"), 2) % 2
    arms = (
        e.select(arm.alias("arm"), "value")
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("value").alias("m"),
            F.var_pop("value").alias("v"),
        )
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("v0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("v1"),
    )
    # NULLIF: two zero-variance arms have an undefined z (NULL on
    # both engines) — ANSI Spark would otherwise abort the job
    z = (F.col("m1") - F.col("m0")) / F.nullif(
        F.sqrt(F.col("v0") / F.col("n0") + F.col("v1") / F.col("n1")),
        F.lit(0.0),
    )
    return wide.select(
        "n0",
        "n1",
        F.round("m0", 6).alias("mean0"),
        F.round("m1", 6).alias("mean1"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q_retention_matrix",
    oracle="""
    WITH first_week AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort,
               datediff('week', f.cohort, date_trunc('week', e.ts))
                   AS week_offset
        FROM events e JOIN first_week f ON e.user_id = f.user_id
    ),
    cohort_sizes AS (
        SELECT cohort, COUNT(*) AS n_users FROM first_week GROUP BY cohort
    )
    SELECT strftime(a.cohort, '%Y-%m-%d') AS cohort,
           a.week_offset,
           COUNT(*) AS n_active,
           s.n_users,
           round(COUNT(*) * 1.0 / s.n_users, 6) AS retention
    FROM activity a JOIN cohort_sizes s ON a.cohort = s.cohort
    GROUP BY a.cohort, a.week_offset, s.n_users
    """,
    tags=("events", "cohort"),
)
def q_retention_matrix(spark: SparkSession, d: str):
    """The full cohort-retention triangle: users bucketed by
    first-activity week, the share still active at each week offset —
    the (cohort × age) matrix every product-analytics dashboard draws
    (q_retention's single week-over-week number generalized).

    Cohort assignment is one user-keyed aggregation broadcast back
    onto the events scan; activity dedupes to (user, offset) rows
    before counting, and the cohort-size table joins broadcast-side.
    Output is the triangle — weeks² rows — regardless of table size."""
    return retention_triangle(load_table(spark, d, "events"))


def retention_triangle(e):
    """Composable form of q_retention_matrix over any (user_id, ts)
    events DataFrame — also applied per micro-batch snapshot by the
    streaming twin in tests/test_streaming.py."""
    first_week = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    activity = (
        e.join(F.broadcast(first_week), "user_id")
        .select(
            "user_id",
            "cohort",
            (
                F.floor(
                    F.datediff(F.date_trunc("week", "ts"), F.col("cohort")) / 7
                ).cast("long")
            ).alias("week_offset"),
        )
        .distinct()
    )
    sizes = first_week.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    return (
        activity.groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort"),
            "week_offset",
            "n_active",
            "n_users",
            F.round(F.col("n_active") / F.col("n_users"), 6).alias(
                "retention"
            ),
        )
    )
