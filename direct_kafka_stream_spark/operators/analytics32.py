"""Round-6 batch 3: ranking-model lift/gain deciles, Wilson proportion
intervals, the Cochran–Armitage trend test, McNemar's paired test, a
k-anonymity census, and the Nelson–Aalen cumulative hazard — the
model-targeting, categorical-inference, privacy-audit and
time-to-event analyses that round out the experimentation surface.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).

Parity notes follow the module conventions of analytics29/30: shared
Python literals for transcendental constants, 6 dp rounding of float
aggregates, exact-decimal sums for order-dependent accumulations
(increments ≤ 1 stay deep inside the cast-safe range per
docs/ALIGNMENT.md's DOUBLE→DECIMAL rule).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import DEC, bounded_window_key
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators.analytics11 import (
    scored_labeled,
    scored_labeled_sql,
)
from direct_kafka_stream_spark.registry import query

_Z95 = 1.959964  # two-sided 95% normal quantile (shared literal)


# ---------------------------------------------------------------------------
# q_lift_gain — decile lift / cumulative-gain table for the quality score
# ---------------------------------------------------------------------------


def _lift_oracle() -> str:
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    by_score AS (
        SELECT score, COUNT(*) AS n, SUM(y) AS pos
        FROM sl GROUP BY score
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
               CAST(SUM(y) AS DOUBLE) AS p
        FROM sl
    ),
    sweep AS (
        SELECT score, n, pos,
               SUM(n) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM by_score
    ),
    deciled AS (
        SELECT LEAST(CAST(ceil(s.cum * 10.0 / t.nn) AS INT), 10) AS decile,
               s.n, s.pos
        FROM sweep s CROSS JOIN tot t
    ),
    per_dec AS (
        SELECT decile, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS pos
        FROM deciled GROUP BY decile
    )
    SELECT d.decile, d.n, d.pos,
           round(CAST(SUM(d.pos) OVER (ORDER BY d.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / NULLIF(t.p, 0.0), 6) AS cum_capture,
           round((CAST(d.pos AS DOUBLE) / d.n)
                 / NULLIF(t.p / t.nn, 0.0), 6) AS lift
    FROM per_dec d CROSS JOIN tot t
    ORDER BY d.decile
    """


@query("q_lift_gain", oracle=_lift_oracle(), tags=("ml", "evaluation"))
def q_lift_gain(spark: SparkSession, d: str):
    """Decile lift / cumulative-gain table for the quality classifier:
    documents ranked by score split into ten equal-population buckets
    (score-group granularity — every doc with the same 6 dp score
    lands in one bucket, the deterministic tie rule), each reporting
    positives, cumulative capture rate, and lift over the base rate —
    the targeting readout that says 'the top 20% of scores holds X%
    of the positives'.

    Scale shape: same bounded sweep as q_auc_pr — deciles assign on
    the ≤10⁶-row distinct-score cumulative table, never by a global
    per-row NTILE; both windows are bounded (bounded_window_key) and
    all rates are exact-integer ratios rounded at 6 dp."""
    sl = scored_labeled(spark, d)
    by_score = sl.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = sl.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum("y").cast("double").alias("p"),
    )
    wdesc = Window.partitionBy(bounded_window_key("score")).orderBy(
        F.col("score").desc()
    )
    sweep = by_score.select(
        "n",
        "pos",
        F.sum("n")
        .over(wdesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    deciled = sweep.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.ceil(F.col("cum") * 10.0 / F.col("nn")).cast("int"), F.lit(10)
        ).alias("decile"),
        "n",
        "pos",
        "nn",
        "p",
    )
    per_dec = deciled.groupBy("decile", "nn", "p").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("pos"),
    )
    wdec = Window.partitionBy(bounded_window_key("decile")).orderBy("decile")
    return per_dec.select(
        "decile",
        "n",
        "pos",
        F.round(
            F.sum("pos")
            .over(
                wdec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("double")
            / F.nullif(F.col("p"), F.lit(0.0)),
            6,
        ).alias("cum_capture"),
        F.round(
            (F.col("pos").cast("double") / F.col("n"))
            / F.nullif(F.col("p") / F.col("nn"), F.lit(0.0)),
            6,
        ).alias("lift"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# q_wilson_ci — Wilson score intervals for per-type proportions
# ---------------------------------------------------------------------------


@query(
    "q_wilson_ci",
    oracle=f"""
    WITH t AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) FILTER (
                   WHERE CAST(json_extract(props, '$.k') AS INTEGER) >= 50)
                   AS DOUBLE) AS x
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(x AS BIGINT) AS successes,
           round(x / n, 6) AS p_hat,
           round((x / n + {_Z95} * {_Z95} / (2 * n)
                  - {_Z95} * sqrt((x / n) * (1 - x / n) / n
                                  + {_Z95} * {_Z95} / (4 * n * n)))
                 / (1 + {_Z95} * {_Z95} / n), 6) AS ci_lo,
           round((x / n + {_Z95} * {_Z95} / (2 * n)
                  + {_Z95} * sqrt((x / n) * (1 - x / n) / n
                                  + {_Z95} * {_Z95} / (4 * n * n)))
                 / (1 + {_Z95} * {_Z95} / n), 6) AS ci_hi
    FROM t ORDER BY event_type
    """,
    tags=("events", "experiment", "proportion"),
)
def q_wilson_ci(spark: SparkSession, d: str):
    """Wilson score 95% confidence interval for the per-type
    proportion of high-k events (props.k ≥ 50) — the proportion CI
    that stays inside [0,1] and behaves at small n or extreme p̂,
    which the naive Wald interval does not; the per-segment
    conversion-rate error bar of every experimentation dashboard.

    One map-side-combined aggregation to |types| rows; p̂ is an exact
    integer ratio, the quantile is a shared literal, and the interval
    is deterministic scalar arithmetic (IEEE sqrt), rounded at 6 dp."""
    return wilson_ci_table(load_table(spark, d, "events"))


def wilson_ci_table(e):
    """q_wilson_ci's transform on an events frame — shared by the
    batch query and its streaming foreachBatch twin."""
    t = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(
            F.when(
                F.get_json_object("props", "$.k").cast("int") >= 50, 1
            )
        )
        .cast("double")
        .alias("x"),
    )
    z2 = _Z95 * _Z95
    p_hat = F.col("x") / F.col("n")
    center = p_hat + z2 / (2 * F.col("n"))
    half = _Z95 * F.sqrt(
        p_hat * (1 - p_hat) / F.col("n") + z2 / (4 * F.col("n") * F.col("n"))
    )
    denom = 1 + z2 / F.col("n")
    return t.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("x").cast("bigint").alias("successes"),
        F.round(p_hat, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_lo"),
        F.round((center + half) / denom, 6).alias("ci_hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q_cochran_armitage — trend in purchase share across ordered weekday doses
# ---------------------------------------------------------------------------


@query(
    "q_cochran_armitage",
    oracle="""
    WITH g AS (
        SELECT CAST(dayofweek(ts) AS DOUBLE) AS w,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS DOUBLE) AS r
        FROM events GROUP BY 1
    ),
    m AS (
        SELECT SUM(n) AS nn, SUM(r) AS rr,
               SUM(w * r) AS swr, SUM(w * n) AS swn,
               SUM(w * w * n) AS swwn
        FROM g
    )
    SELECT CAST(nn AS BIGINT) AS n_events,
           CAST(rr AS BIGINT) AS n_purchases,
           round((swr - swn * (rr / nn))
                 / NULLIF(sqrt((rr / nn) * (1 - rr / nn)
                               * (swwn - swn * swn / nn)), 0.0), 6)
               AS z_trend
    FROM m
    """,
    tags=("events", "experiment", "categorical"),
)
def q_cochran_armitage(spark: SparkSession, d: str):
    """Cochran–Armitage test for trend: is the purchase share rising
    or falling monotonically across the ordered day-of-week groups?
    Z = Σw(r − n·p̄) / √(p̄(1−p̄)(Σw²n − (Σwn)²/N)) with the weekday
    index as the dose score — the categorical trend test that a
    2×k chi-square cannot see direction in.

    The stream reduces to 7 (dose, n, r) rows in one aggregation; the
    statistic is closed-form scalar arithmetic on exact counts (sums
    over 7 exact values via SUM of integer-valued doubles — exact in
    IEEE far below 2⁵³), rounded at 6 dp.

    Dialect note (ALIGNMENT.md): Spark dayofweek = DuckDB dayofweek
    + 1, so the Spark side subtracts 1 — the statistic is shift-
    invariant mathematically, but identical dose literals keep the
    float path bit-identical too."""
    return cochran_armitage_stat(load_table(spark, d, "events"))


def cochran_armitage_stat(e):
    """q_cochran_armitage's transform on an events frame — shared by
    the batch query and its streaming foreachBatch twin."""
    g = e.groupBy((F.dayofweek("ts") - 1).cast("double").alias("w")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("double")
        .alias("r"),
    )
    m = g.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("w") * F.col("r")).alias("swr"),
        F.sum(F.col("w") * F.col("n")).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).alias("swwn"),
    )
    pbar = F.col("rr") / F.col("nn")
    return m.select(
        F.col("nn").cast("bigint").alias("n_events"),
        F.col("rr").cast("bigint").alias("n_purchases"),
        F.round(
            (F.col("swr") - F.col("swn") * pbar)
            / F.nullif(
                F.sqrt(
                    pbar
                    * (1 - pbar)
                    * (F.col("swwn") - F.col("swn") * F.col("swn") / F.col("nn"))
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z_trend"),
    )


# ---------------------------------------------------------------------------
# q_mcnemar — paired click-vs-purchase behavior test
# ---------------------------------------------------------------------------


@query(
    "q_mcnemar",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(COUNT(*) FILTER (WHERE a = 0 AND b = 0) AS BIGINT) AS n00,
               CAST(COUNT(*) FILTER (WHERE a = 0 AND b = 1) AS BIGINT) AS n01,
               CAST(COUNT(*) FILTER (WHERE a = 1 AND b = 0) AS BIGINT) AS n10,
               CAST(COUNT(*) FILTER (WHERE a = 1 AND b = 1) AS BIGINT) AS n11
        FROM per_user
    )
    SELECT n00, n01, n10, n11,
           round(CAST((abs(n01 - n10) - 1) * (abs(n01 - n10) - 1) AS DOUBLE)
                 / NULLIF(n01 + n10, 0), 6) AS chi2_cc
    FROM cells
    """,
    tags=("events", "experiment", "categorical"),
)
def q_mcnemar(spark: SparkSession, d: str):
    """McNemar's test on paired per-user behaviors: does the
    population click without purchasing more often than it purchases
    without clicking? χ² = (|n01−n10|−1)²/(n01+n10) over the
    discordant cells of the paired 2×2 — the within-subject test that
    an unpaired chi-square gets wrong because both indicators belong
    to the same user.

    One user-keyed aggregation to two flags, one global rollup to the
    four cells; the continuity-corrected statistic is exact-integer
    arithmetic divided once, rounded at 6 dp."""
    return mcnemar_cells(load_table(spark, d, "events"))


def mcnemar_cells(e):
    """q_mcnemar's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("a"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "b"
        ),
    )
    cells = per_user.agg(
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n00"),
        F.count(F.when((F.col("a") == 0) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n01"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 0), 1))
        .cast("bigint")
        .alias("n10"),
        F.count(F.when((F.col("a") == 1) & (F.col("b") == 1), 1))
        .cast("bigint")
        .alias("n11"),
    )
    disc = F.abs(F.col("n01") - F.col("n10"))
    return cells.select(
        "n00",
        "n01",
        "n10",
        "n11",
        F.round(
            ((disc - 1) * (disc - 1)).cast("double")
            / F.nullif((F.col("n01") + F.col("n10")).cast("double"), F.lit(0.0)),
            6,
        ).alias("chi2_cc"),
    )


# ---------------------------------------------------------------------------
# q_k_anonymity — quasi-identifier re-identification census
# ---------------------------------------------------------------------------

_KA_BUCKET = 64  # n_chars bucket width in the quasi-identifier
_KA_K = 5


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH qi AS (
        SELECT lang, source,
               CAST(n_chars // {_KA_BUCKET} AS BIGINT) AS len_bucket,
               COUNT(*) AS gsize
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(gsize) AS BIGINT) AS k_anonymity,
           CAST(SUM(gsize) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(gsize) FILTER (WHERE gsize < {_KA_K}), 0)
                AS BIGINT) AS rows_below_k{_KA_K},
           round(COALESCE(SUM(gsize) FILTER (WHERE gsize < {_KA_K}), 0)
                 / CAST(SUM(gsize) AS DOUBLE), 6) AS frac_below_k{_KA_K}
    FROM qi
    """,
    tags=("privacy", "profiling"),
)
def q_k_anonymity(spark: SparkSession, d: str):
    """k-anonymity census over the documents table: treating
    (lang, source, length-bucket) as the quasi-identifier, report the
    equivalence-class count, the dataset's k (smallest class), and how
    many rows sit in classes below k=5 — the re-identification audit
    run before any governed data release (the release-side complement
    of q_dp_laplace's noise mechanism).

    One QI-keyed aggregation (map-side combined) to the class-size
    table, then a bounded rollup; all outputs are exact counts plus
    one 6 dp ratio."""
    return k_anonymity_census(load_table(spark, d, "documents"))


def k_anonymity_census(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    qi = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / _KA_BUCKET).cast("bigint").alias(
            "len_bucket"
        ),
    ).agg(F.count(F.lit(1)).alias("gsize"))
    below = F.when(F.col("gsize") < _KA_K, F.col("gsize"))
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("gsize").cast("bigint").alias("k_anonymity"),
        F.sum("gsize").cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(below), F.lit(0))
        .cast("bigint")
        .alias(f"rows_below_k{_KA_K}"),
        F.round(
            F.coalesce(F.sum(below), F.lit(0))
            / F.sum("gsize").cast("double"),
            6,
        ).alias(f"frac_below_k{_KA_K}"),
    )


# ---------------------------------------------------------------------------
# q_nelson_aalen — cumulative hazard of signup→purchase conversion
# ---------------------------------------------------------------------------


@query(
    "q_nelson_aalen",
    oracle="""
    WITH signup AS (
        SELECT user_id,
               CAST(date_trunc('day', MIN(ts)) AS DATE) AS s_day
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    study AS (
        SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS e_day FROM events
    ),
    conv AS (
        SELECT s.user_id,
               CAST(date_trunc('day', MIN(e.ts)) AS DATE) AS p_day
        FROM signup s
        JOIN events e ON e.user_id = s.user_id
                     AND e.event_type = 'purchase'
                     AND e.ts >= CAST(s.s_day AS TIMESTAMP)
        GROUP BY s.user_id
    ),
    dur AS (
        SELECT CASE WHEN c.p_day IS NOT NULL
                    THEN date_diff('day', s.s_day, c.p_day)
                    ELSE date_diff('day', s.s_day, st.e_day) END AS t,
               CASE WHEN c.p_day IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM signup s LEFT JOIN conv c USING (user_id) CROSS JOIN study st
    ),
    per_t AS (
        SELECT t, CAST(SUM(converted) AS BIGINT) AS d_events,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM dur GROUP BY t
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM dur),
    risk AS (
        SELECT t, d_events,
               n_total - COALESCE(SUM(leaving) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM per_t CROSS JOIN tot
    ),
    inc AS (
        SELECT t, d_events, n_risk,
               round(CAST(d_events AS DOUBLE) / NULLIF(n_risk, 0), 9) AS h
        FROM risk
    )
    SELECT CAST(t AS BIGINT) AS t, d_events, CAST(n_risk AS BIGINT) AS n_risk,
           round(h, 6) AS hazard_inc,
           round(CAST(SUM(CAST(h AS DECIMAL(38,10))) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE), 6) AS cum_hazard
    FROM inc ORDER BY t
    """,
    tags=("events", "survival"),
)
def q_nelson_aalen(spark: SparkSession, d: str):
    """Nelson–Aalen cumulative hazard for signup→first-purchase
    conversion: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ over event days, with censoring
    at study end — the hazard-scale twin of q_km_survival's survival
    curve (H = −ln S asymptotically), preferred when hazards are the
    modeling target (churn-rate curves, conversion intensity).

    Same scale shape as q_km_survival: user-keyed duration build, then
    every window runs on the calendar-bounded day table. The running
    hazard is an exact decimal sum of 9 dp-rounded increments (each
    ≤ 1 — deep inside the cast-safe range), so the cumulative curve is
    order-free identical on both engines."""
    return nelson_aalen_curve(load_table(spark, d, "events"))


def nelson_aalen_curve(e):
    """q_nelson_aalen's transform on an events frame — shared by the
    batch query and its streaming foreachBatch twin."""
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).cast("date").alias("s_day"))
    )
    study_end = e.agg(
        F.date_trunc("day", F.max("ts")).cast("date").alias("e_day")
    )
    conv = (
        signup.join(
            e.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("p_ts")
            ),
            "user_id",
        )
        .filter(F.col("p_ts") >= F.col("s_day").cast("timestamp"))
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("p_ts")).cast("date").alias("p_day"))
    )
    dur = (
        signup.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(study_end))
        .select(
            F.when(
                F.col("p_day").isNotNull(), F.datediff("p_day", "s_day")
            )
            .otherwise(F.datediff("e_day", "s_day"))
            .alias("t"),
            F.when(F.col("p_day").isNotNull(), 1).otherwise(0).alias(
                "converted"
            ),
        )
    )
    per_t = dur.groupBy("t").agg(
        F.sum("converted").cast("bigint").alias("d_events"),
        F.count(F.lit(1)).cast("bigint").alias("leaving"),
    )
    tot = dur.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    wt = Window.partitionBy(bounded_window_key("t")).orderBy("t")
    w_prev = wt.rowsBetween(Window.unboundedPreceding, -1)
    w_cum = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    risk = per_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    inc = risk.select(
        "t",
        "d_events",
        "n_risk",
        F.round(
            F.col("d_events").cast("double")
            / F.nullif(F.col("n_risk").cast("double"), F.lit(0.0)),
            9,
        ).alias("h"),
    )
    return inc.select(
        F.col("t").cast("bigint").alias("t"),
        "d_events",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.round("h", 6).alias("hazard_inc"),
        F.round(
            F.sum(F.col("h").cast(DEC)).over(w_cum).cast("double"), 6
        ).alias("cum_hazard"),
    ).orderBy("t")
