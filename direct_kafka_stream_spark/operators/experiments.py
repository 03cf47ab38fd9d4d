"""A/B testing, causal and survival queries over the events stream:
CUPED, sequential tests, power and allocation, two-proportion tests,
uplift, difference-in-differences, propensity strata, Shapley
attribution, Kaplan-Meier, Nelson-Aalen and the log-rank test.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import (
    DEC,
    bounded_window_key,
    davg_sql,
    dsum,
    dsum_sql,
    md5_int,
)
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


_ARM_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2))"
    " AS BIGINT) % 2 AS BIGINT)"
)


def _arm_col():
    return md5_int(F.col("user_id").cast("string"), 2) % 2


# ---------------------------------------------------------------------------
# q_cuped — CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------


@query(
    "q_cuped",
    oracle=f"""
    WITH per_user AS (
        SELECT {_ARM_SQL} AS arm,
               {dsum_sql("CASE WHEN CAST(EXTRACT(day FROM ts) AS BIGINT) % 2 = 0"
                         " THEN value ELSE 0 END")} AS x,
               {dsum_sql("CASE WHEN CAST(EXTRACT(day FROM ts) AS BIGINT) % 2 = 1"
                         " THEN value ELSE 0 END")} AS y
        FROM events GROUP BY user_id
    ),
    pool AS (
        SELECT round(AVG(x), 6) AS mx,
               round(covar_pop(x, y) / NULLIF(var_pop(x), 0.0), 6) AS theta
        FROM per_user
    ),
    adj AS (
        SELECT arm, y, y - theta * (x - mx) AS y_adj
        FROM per_user CROSS JOIN pool
    ),
    arms AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               round(AVG(y), 6) AS m_raw, round(var_pop(y), 6) AS v_raw,
               round(AVG(y_adj), 6) AS m_adj, round(var_pop(y_adj), 6) AS v_adj
        FROM adj GROUP BY arm
    ),
    wide AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 0 THEN m_raw END) AS m_raw0,
               MAX(CASE WHEN arm = 1 THEN m_raw END) AS m_raw1,
               MAX(CASE WHEN arm = 0 THEN v_raw END) AS v_raw0,
               MAX(CASE WHEN arm = 1 THEN v_raw END) AS v_raw1,
               MAX(CASE WHEN arm = 0 THEN m_adj END) AS m_adj0,
               MAX(CASE WHEN arm = 1 THEN m_adj END) AS m_adj1,
               MAX(CASE WHEN arm = 0 THEN v_adj END) AS v_adj0,
               MAX(CASE WHEN arm = 1 THEN v_adj END) AS v_adj1
        FROM arms
    )
    SELECT (SELECT theta FROM pool) AS theta,
           n0, n1,
           round(m_adj1 - m_adj0, 6) AS adj_effect,
           round((m_raw1 - m_raw0)
                 / NULLIF(sqrt(v_raw0 / n0 + v_raw1 / n1), 0.0), 6) AS z_raw,
           round((m_adj1 - m_adj0)
                 / NULLIF(sqrt(v_adj0 / n0 + v_adj1 / n1), 0.0), 6) AS z_adj,
           round(1.0 - (v_adj0 + v_adj1) / NULLIF(v_raw0 + v_raw1, 0.0), 6)
               AS var_reduction
    FROM wide
    """,
    tags=("events", "experiment"),
)
def q_cuped(spark: SparkSession, d: str):
    """CUPED variance reduction for the md5-armed A/B readout: each
    user's even-day value sum is the pre-period covariate X, the
    odd-day sum the metric Y; θ = cov(X,Y)/var(X) is fitted pooled,
    Y_adj = Y − θ(X − X̄), and the z-score is read on both raw and
    adjusted metrics with the achieved variance-reduction ratio — the
    standard trick that makes small lifts detectable without more
    traffic.

    Scale shape: one user-keyed aggregation (map-side combined decimal
    sums), a 1-row pooled-moment broadcast, a second pass computing
    Y_adj per user (bit-exact on both engines: θ and X̄ are 6 dp-
    rounded broadcasts, X/Y exact 4 dp sums), then a 2-row arm rollup.
    Float aggregates (avg/var_pop/covar_pop) follow q_ab_test's 6 dp
    rounding contract."""
    return cuped_report(load_table(spark, d, "events"))


def cuped_report(e):
    """q_cuped's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    day_par = F.dayofmonth("ts") % 2
    per_user = e.groupBy("user_id").agg(
        dsum(F.when(day_par == 0, F.col("value")).otherwise(0.0)).alias("x"),
        dsum(F.when(day_par == 1, F.col("value")).otherwise(0.0)).alias("y"),
    ).select(_arm_col().alias("arm"), "x", "y")
    pool = per_user.agg(
        F.round(F.avg("x"), 6).alias("mx"),
        F.round(
            F.covar_pop("x", "y") / F.nullif(F.var_pop("x"), F.lit(0.0)), 6
        ).alias("theta"),
    )
    adj = per_user.crossJoin(F.broadcast(pool)).select(
        "arm",
        "y",
        (F.col("y") - F.col("theta") * (F.col("x") - F.col("mx"))).alias("y_adj"),
        "theta",
    )
    arms = adj.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("y"), 6).alias("m_raw"),
        F.round(F.var_pop("y"), 6).alias("v_raw"),
        F.round(F.avg("y_adj"), 6).alias("m_adj"),
        F.round(F.var_pop("y_adj"), 6).alias("v_adj"),
        F.max("theta").alias("theta"),
    )

    def pick(arm, col):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))

    wide = arms.agg(
        F.max("theta").alias("theta"),
        pick(0, "n").alias("n0"),
        pick(1, "n").alias("n1"),
        pick(0, "m_raw").alias("m_raw0"),
        pick(1, "m_raw").alias("m_raw1"),
        pick(0, "v_raw").alias("v_raw0"),
        pick(1, "v_raw").alias("v_raw1"),
        pick(0, "m_adj").alias("m_adj0"),
        pick(1, "m_adj").alias("m_adj1"),
        pick(0, "v_adj").alias("v_adj0"),
        pick(1, "v_adj").alias("v_adj1"),
    )
    z_raw = (F.col("m_raw1") - F.col("m_raw0")) / F.nullif(
        F.sqrt(F.col("v_raw0") / F.col("n0") + F.col("v_raw1") / F.col("n1")),
        F.lit(0.0),
    )
    z_adj = (F.col("m_adj1") - F.col("m_adj0")) / F.nullif(
        F.sqrt(F.col("v_adj0") / F.col("n0") + F.col("v_adj1") / F.col("n1")),
        F.lit(0.0),
    )
    return wide.select(
        "theta",
        "n0",
        "n1",
        F.round(F.col("m_adj1") - F.col("m_adj0"), 6).alias("adj_effect"),
        F.round(z_raw, 6).alias("z_raw"),
        F.round(z_adj, 6).alias("z_adj"),
        F.round(
            1.0
            - (F.col("v_adj0") + F.col("v_adj1"))
            / F.nullif(F.col("v_raw0") + F.col("v_raw1"), F.lit(0.0)),
            6,
        ).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# q_sprt — Wald sequential probability ratio test on the conversion stream
# ---------------------------------------------------------------------------

_SPRT_P0 = 0.20
_SPRT_P1 = 0.25
_SPRT_C1 = repr(math.log(_SPRT_P1 / _SPRT_P0))  # ln-LR slope per success
_SPRT_C2 = repr(math.log((1 - _SPRT_P1) / (1 - _SPRT_P0)))  # per failure
_SPRT_A = repr(math.log(0.95 / 0.05))  # accept-H1 boundary (α=β=0.05)
_SPRT_B = repr(math.log(0.05 / 0.95))  # accept-H0 boundary


@query(
    "q_sprt",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT day,
               SUM(n) OVER w AS cn, SUM(k) OVER w AS ck
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(cn AS BIGINT) AS cum_n,
           CAST(ck AS BIGINT) AS cum_conv,
           round(ck * {_SPRT_C1} + (cn - ck) * {_SPRT_C2}, 6) AS llr,
           CASE WHEN round(ck * {_SPRT_C1} + (cn - ck) * {_SPRT_C2}, 6)
                     >= {_SPRT_A} THEN 'accept_h1'
                WHEN round(ck * {_SPRT_C1} + (cn - ck) * {_SPRT_C2}, 6)
                     <= {_SPRT_B} THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum ORDER BY day
    """,
    tags=("events", "experiment", "sequential"),
)
def q_sprt(spark: SparkSession, d: str):
    """Wald's sequential probability ratio test monitoring the
    purchase-conversion rate day by day: H0 p=0.20 vs H1 p=0.25, the
    cumulative log-likelihood ratio k·ln(p1/p0) + (n−k)·ln(q1/q0)
    against the (α=β=0.05) boundaries — the early-stopping monitor
    that ends experiments as soon as the evidence crosses a line.

    The event stream reduces to a per-day (n, k) table in one map-side
    combined aggregation; the cumulative LLR is a prefix sum over the
    calendar-bounded series (bounded_window_key). The ln slopes and
    boundaries are Python-computed literals shared with the oracle, so
    the LLR arithmetic (int×literal products summed left-to-right) is
    bit-exact on both engines."""
    return sprt_table(load_table(spark, d, "events"))


def sprt_table(e):
    """q_sprt's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    daily = e.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("k"),
    )
    w = (
        Window.partitionBy(bounded_window_key("day"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = daily.select(
        "day",
        F.sum("n").over(w).alias("cn"),
        F.sum("k").over(w).alias("ck"),
    )
    llr = F.round(
        F.col("ck") * F.lit(float(_SPRT_C1))
        + (F.col("cn") - F.col("ck")) * F.lit(float(_SPRT_C2)),
        6,
    )
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("cn").cast("bigint").alias("cum_n"),
        F.col("ck").cast("bigint").alias("cum_conv"),
        llr.alias("llr"),
        F.when(llr >= float(_SPRT_A), "accept_h1")
        .when(llr <= float(_SPRT_B), "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("day")


# Two-sided 97.5% / 80% normal quantiles used by MDE and CUPED z-reads.
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621


# ---------------------------------------------------------------------------
# q_mde_power — minimum detectable effect per event type
# ---------------------------------------------------------------------------


@query(
    "q_mde_power",
    oracle=f"""
    WITH t AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               round(AVG(value), 6) AS m, round(var_pop(value), 6) AS v
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, CAST(n // 2 AS BIGINT) AS n_per_arm, m AS mean_value,
           round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(2 * v / NULLIF(n // 2, 0)), 6)
               AS mde_abs,
           round(({_Z_ALPHA} + {_Z_BETA}) * sqrt(2 * v / NULLIF(n // 2, 0))
                 / NULLIF(m, 0.0), 6) AS mde_rel
    FROM t ORDER BY event_type
    """,
    tags=("events", "experiment"),
)
def q_mde_power(spark: SparkSession, d: str):
    """Power analysis per event type: with the observed variance and
    the available traffic split into two arms, the minimum detectable
    effect at α=0.05 / power 0.8 — MDE = (z_α/2 + z_β)·√(2σ²/n_arm) —
    in absolute units and relative to the mean. The pre-experiment
    sizing read that decides whether a test is worth running.

    One map-side-combined aggregation to a |types|-row table; the
    normal quantiles are shared literals, and all arithmetic past the
    6 dp-rounded moments is deterministic scalar math."""
    return mde_power_table(load_table(spark, d, "events"))


def mde_power_table(e):
    """q_mde_power's transform on an events frame — shared by the
    batch query and its streaming foreachBatch twin."""
    t = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("m"),
        F.round(F.var_pop("value"), 6).alias("v"),
    )
    # NULLIF: a 1-event type has an empty arm — the MDE is undefined
    # (NULL) identically on both engines, never an ANSI 0/0 abort
    n_arm = F.floor(F.col("n") / 2)
    mde = (_Z_ALPHA + _Z_BETA) * F.sqrt(
        2 * F.col("v") / F.nullif(n_arm, F.lit(0))
    )
    return t.select(
        "event_type",
        "n",
        n_arm.cast("bigint").alias("n_per_arm"),
        F.col("m").alias("mean_value"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.nullif(F.col("m"), F.lit(0.0)), 6).alias("mde_rel"),
    ).orderBy("event_type")


# DiD design: treatment assignment by user-id parity, policy cutover
# mid-fixture (events span 2024-01).
_DID_CUT = "2024-01-16"


def _did_cell_sql(treat: int, post: bool) -> str:
    cmp = ">=" if post else "<"
    cond = f"user_id % 2 = {treat} AND ts {cmp} TIMESTAMP '{_DID_CUT}'"
    return (
        f"CAST(ROUND(SUM(CASE WHEN {cond} THEN CAST(value AS DECIMAL(38,10)) END), 4)"
        f" AS DOUBLE) / COUNT(CASE WHEN {cond} THEN 1 END)"
    )


@query(
    "q_did",
    oracle=f"""
    WITH c AS (
        SELECT {_did_cell_sql(0, False)} AS m_c_pre,
               {_did_cell_sql(0, True)} AS m_c_post,
               {_did_cell_sql(1, False)} AS m_t_pre,
               {_did_cell_sql(1, True)} AS m_t_post
        FROM events
    )
    SELECT round(m_c_pre, 6) AS mean_ctrl_pre,
           round(m_c_post, 6) AS mean_ctrl_post,
           round(m_t_pre, 6) AS mean_treat_pre,
           round(m_t_post, 6) AS mean_treat_post,
           round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did
    FROM c
    """,
    tags=("stats", "causal"),
)
def q_did(spark: SparkSession, d: str):
    """Difference-in-differences: treatment by user-id parity, a fixed
    policy-cutover date, and the 2×2 cell means of the outcome metric
    — DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre), the
    workhorse quasi-experimental estimate when randomization isn't
    available (complements the randomized q_ab_test). Cell means use
    the exact-decimal-sum contract (exprs.py) so they're
    shuffle-order-independent; the estimate combines the four already
    engine-identical doubles with one identical expression.

    Scale shape: a single scan, one 4-accumulator partial aggregate,
    one final row. Nothing else."""
    ev = load_table(spark, d, "events")

    def cell(treat: int, post: bool):
        cond = (F.col("user_id") % 2 == treat) & (
            F.col("ts") >= _DID_CUT if post else F.col("ts") < _DID_CUT
        )
        return F.round(
            F.sum(F.when(cond, F.col("value")).cast(DEC)), 4
        ).cast("double") / F.count(F.when(cond, F.lit(1)))

    c = ev.agg(
        cell(0, False).alias("m_c_pre"),
        cell(0, True).alias("m_c_post"),
        cell(1, False).alias("m_t_pre"),
        cell(1, True).alias("m_t_post"),
    )
    return c.select(
        F.round("m_c_pre", 6).alias("mean_ctrl_pre"),
        F.round("m_c_post", 6).alias("mean_ctrl_post"),
        F.round("m_t_pre", 6).alias("mean_treat_pre"),
        F.round("m_t_post", 6).alias("mean_treat_post"),
        F.round(
            (F.col("m_t_post") - F.col("m_t_pre"))
            - (F.col("m_c_post") - F.col("m_c_pre")),
            6,
        ).alias("did"),
    )


@query(
    "q_uplift_segments",
    oracle=f"""
    WITH tagged AS (
        SELECT event_type AS segment,
               CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2))
                    AS BIGINT) % 2 AS INT) AS arm,
               value
        FROM events
    ),
    cells AS (
        SELECT segment, arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               {dsum_sql('value')} AS s,
               {dsum_sql('value * value')} AS ss
        FROM tagged GROUP BY segment, arm
    ),
    wide AS (
        SELECT segment,
               MAX(CASE WHEN arm = 0 THEN n END) AS n0,
               MAX(CASE WHEN arm = 0 THEN s END) AS s0,
               MAX(CASE WHEN arm = 0 THEN ss END) AS ss0,
               MAX(CASE WHEN arm = 1 THEN n END) AS n1,
               MAX(CASE WHEN arm = 1 THEN s END) AS s1,
               MAX(CASE WHEN arm = 1 THEN ss END) AS ss1
        FROM cells GROUP BY segment
    )
    SELECT segment, n0, n1,
           round(s1 / n1 - s0 / n0, 6) AS uplift,
           round((s1 / n1 - s0 / n0)
                 / NULLIF(sqrt((ss0 / n0 - (s0 / n0) * (s0 / n0)) / n0
                        + (ss1 / n1 - (s1 / n1) * (s1 / n1)) / n1), 0.0), 6)
               AS z_score
    FROM wide
    ORDER BY segment
    """,
    tags=("ml", "experimentation"),
)
def q_uplift_segments(spark: SparkSession, d: str):
    """Per-segment uplift (heterogeneous treatment effect): the
    md5-hashed experiment arms of q_ab_test, broken out per event
    type, each with its own Welch z — the segment-level readout that
    finds WHERE a treatment works when the global test is flat.

    One grouped aggregation produces the (segment, arm) sufficient
    statistics (count, exact-decimal sum, sum of squares); the pivot
    to wide and the Welch arithmetic run on a 2x|segments| table.
    Identical operation order on both engines; rounded 6dp."""
    e = load_table(spark, d, "events")
    arm = (md5_int(F.col("user_id").cast("string"), 2) % 2).cast("int")
    tagged = e.select(
        F.col("event_type").alias("segment"), arm.alias("arm"), "value"
    )
    cells = tagged.groupBy("segment", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ss"),
    )
    wide = cells.groupBy("segment").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("s0"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ss0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ss1"),
    )
    m0 = F.col("s0") / F.col("n0")
    m1 = F.col("s1") / F.col("n1")
    v0 = F.col("ss0") / F.col("n0") - m0 * m0
    v1 = F.col("ss1") / F.col("n1") - m1 * m1
    return wide.select(
        "segment",
        F.col("n0").cast("bigint").alias("n0"),
        F.col("n1").cast("bigint").alias("n1"),
        F.round(m1 - m0, 6).alias("uplift"),
        # NULLIF: two zero-variance arms -> NULL z, not an ANSI abort
        F.round(
            (m1 - m0)
            / F.nullif(
                F.sqrt(v0 / F.col("n0") + v1 / F.col("n1")), F.lit(0.0)
            ),
            6,
        ).alias("z_score"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# q_propensity_strata — stratified adjustment for an observational effect
# ---------------------------------------------------------------------------

_PS_STRATA = 5


def _ps_oracle() -> str:
    return f"""
    WITH u AS (
        SELECT user_id,
               CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS INT) AS treated,
               CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                    AS BIGINT) AS clicks,
               {davg_sql("CASE WHEN event_type = 'purchase'"
                         " THEN value ELSE 0 END")} AS y
        FROM events GROUP BY user_id
    ),
    by_clicks AS (
        SELECT clicks, COUNT(*) AS cnt FROM u GROUP BY clicks
    ),
    sweep AS (
        SELECT clicks,
               COALESCE(SUM(cnt) OVER (ORDER BY clicks
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prior,
               (SELECT CAST(SUM(cnt) AS DOUBLE) FROM by_clicks) AS nn
        FROM by_clicks
    ),
    strat AS (
        SELECT u.user_id, u.treated, u.y,
               LEAST(CAST(floor(s.prior * {_PS_STRATA} / s.nn) AS BIGINT),
                     {_PS_STRATA - 1}) AS stratum
        FROM u JOIN sweep s ON s.clicks = u.clicks
    ),
    cells AS (
        SELECT stratum, treated, COUNT(*) AS n,
               {davg_sql('y')} AS ybar
        FROM strat GROUP BY stratum, treated
    ),
    wide AS (
        SELECT stratum,
               MAX(CASE WHEN treated = 1 THEN ybar END) AS y1,
               MAX(CASE WHEN treated = 0 THEN ybar END) AS y0,
               CAST(SUM(n) AS BIGINT) AS n
        FROM cells GROUP BY stratum
    ),
    tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM wide
            WHERE y1 IS NOT NULL AND y0 IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(SUM(w.n) AS BIGINT) AS n_users,
           round(SUM((w.y1 - w.y0) * w.n / t.nn), 6) AS ate_adjusted
    FROM wide w CROSS JOIN tot t
    WHERE w.y1 IS NOT NULL AND w.y0 IS NOT NULL
    """


@query(
    "q_propensity_strata",
    oracle=_ps_oracle(),
    tags=("experiment", "causal"),
)
def q_propensity_strata(spark: SparkSession, d: str):
    """Propensity-score stratification: estimate the effect of
    'experienced an error' on per-user purchase value by slicing users
    into five strata of their activity propensity proxy (click count,
    assigned on the bounded distinct-count sweep — never a global
    NTILE), then averaging the within-stratum treated-vs-control gaps
    weighted by stratum size. Strata missing either arm drop out
    (standard practice). The observational-causal complement of q_did
    (needs no pre-period) and q_cuped (needs no covariate linearity).

    Scale shape: one user-keyed aggregate, then a prefix sweep over
    the BOUNDED distinct-click-count table (non-foldable
    bounded_window_key, the q_weighted_median pattern), strata×2
    cells, and a 5-row rollup — the fact is touched exactly once."""
    return propensity_strata(load_table(spark, d, "events"))


def propensity_strata(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    u = events.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).alias("treated"),
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        (
            F.round(
                F.sum(
                    F.when(F.col("event_type") == "purchase", F.col("value"))
                    .otherwise(0.0)
                    .cast("decimal(38,10)")
                ),
                4,
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("y"),
    )
    u = track(u.persist())
    by_clicks = u.groupBy("clicks").agg(F.count(F.lit(1)).alias("cnt"))
    wsweep = (
        Window.partitionBy(bounded_window_key("clicks"))
        .orderBy("clicks")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tot_users = by_clicks.agg(F.sum("cnt").cast("double").alias("nn"))
    sweep = by_clicks.select(
        "clicks", F.coalesce(F.sum("cnt").over(wsweep), F.lit(0)).alias("prior")
    ).crossJoin(F.broadcast(tot_users))
    strat = u.join(sweep, "clicks").select(
        "treated",
        "y",
        F.least(
            F.floor(F.col("prior") * _PS_STRATA / F.col("nn")).cast("bigint"),
            F.lit(_PS_STRATA - 1),
        ).alias("stratum"),
    )
    cells = strat.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.round(F.sum(F.col("y").cast("decimal(38,10)")), 4).cast("double")
            / F.count(F.lit(1))
        ).alias("ybar"),
    )
    wide = cells.groupBy("stratum").agg(
        F.max(F.when(F.col("treated") == 1, F.col("ybar"))).alias("y1"),
        F.max(F.when(F.col("treated") == 0, F.col("ybar"))).alias("y0"),
        F.sum("n").cast("bigint").alias("n"),
    ).filter(F.col("y1").isNotNull() & F.col("y0").isNotNull())
    tot = wide.agg(F.sum("n").cast("double").alias("nn"))
    return wide.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("n").cast("bigint").alias("n_users"),
        F.round(
            F.sum((F.col("y1") - F.col("y0")) * F.col("n") / F.col("nn")), 6
        ).alias("ate_adjusted"),
    )


# ---------------------------------------------------------------------------
# q_logrank — two-sample log-rank test on signup→purchase survival
# ---------------------------------------------------------------------------

_LR_DUR_SQL = """
    signup AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS s_day
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    study_end AS (
        SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS e_day FROM events
    ),
    conv AS (
        SELECT s.user_id, s.s_day,
               CAST(date_trunc('day', MIN(e.ts)) AS DATE) AS p_day
        FROM signup s
        JOIN events e ON e.user_id = s.user_id
                     AND e.event_type = 'purchase'
                     AND e.ts >= CAST(s.s_day AS TIMESTAMP)
        GROUP BY s.user_id, s.s_day
    ),
    durations AS (
        SELECT s.user_id, s.user_id % 2 AS g,
               CASE WHEN c.p_day IS NOT NULL
                    THEN date_diff('day', s.s_day, c.p_day)
                    ELSE date_diff('day', s.s_day,
                                   (SELECT e_day FROM study_end))
               END AS t,
               CASE WHEN c.p_day IS NOT NULL THEN 1 ELSE 0 END AS ev
        FROM signup s LEFT JOIN conv c ON c.user_id = s.user_id
    )
"""


@query(
    "q_logrank",
    oracle=f"""
    WITH {_LR_DUR_SQL},
    cell AS (
        SELECT t, g, CAST(SUM(ev) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS leave_
        FROM durations GROUP BY t, g
    ),
    etimes AS (
        SELECT t FROM cell GROUP BY t HAVING SUM(d) > 0
    ),
    grid AS (
        SELECT e.t, gg.g, 1 AS is_grid
        FROM etimes e CROSS JOIN (SELECT DISTINCT g FROM durations) gg
    ),
    aug AS (
        SELECT COALESCE(c.t, gr.t) AS t, COALESCE(c.g, gr.g) AS g,
               COALESCE(c.d, 0) AS d, COALESCE(c.leave_, 0) AS leave_,
               COALESCE(gr.is_grid, 0) AS is_grid
        FROM cell c FULL OUTER JOIN grid gr ON c.t = gr.t AND c.g = gr.g
    ),
    risk AS (
        SELECT t, g, d, is_grid,
               (SELECT COUNT(*) FROM durations dd WHERE dd.g = aug.g)
                 - COALESCE(SUM(leave_) OVER (PARTITION BY g ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM aug
    ),
    wide AS (
        SELECT t,
               COALESCE(MAX(CASE WHEN g = 1 THEN d END), 0) AS d1,
               COALESCE(MAX(CASE WHEN g = 1 THEN n_risk END), 0) AS n1,
               COALESCE(MAX(CASE WHEN g = 0 THEN d END), 0) AS d0,
               COALESCE(MAX(CASE WHEN g = 0 THEN n_risk END), 0) AS n0
        FROM risk WHERE is_grid = 1 GROUP BY t
    ),
    terms AS (
        SELECT d1, d1 + d0 AS dt, n1 + n0 AS nt, n1, n0 FROM wide
        WHERE d1 + d0 > 0
    ),
    agg AS (
        SELECT CAST(ROUND(SUM(CAST(
                   CAST(d1 AS DOUBLE)
                   - dt * (CAST(n1 AS DOUBLE) / nt)
               AS DECIMAL(38,10))), 9) AS DOUBLE) AS o_minus_e,
               CAST(ROUND(SUM(CAST(
                   dt * (CAST(n1 AS DOUBLE) / nt)
                      * (1.0 - CAST(n1 AS DOUBLE) / nt)
                      * (CAST(nt - dt AS DOUBLE)
                         / NULLIF(CAST(nt - 1 AS DOUBLE), 0.0))
               AS DECIMAL(38,10))), 9) AS DOUBLE) AS var_sum,
               CAST(SUM(d1) AS BIGINT) AS observed1,
               round(SUM(dt * (CAST(n1 AS DOUBLE) / nt)), 6) AS expected1
        FROM terms
    )
    SELECT observed1, expected1,
           round(o_minus_e * o_minus_e / NULLIF(var_sum, 0.0), 6) AS chi2,
           CAST(1 AS BIGINT) AS df
    FROM agg
    """,
    tags=("stats", "survival", "hypothesis-test"),
)
def q_logrank(spark: SparkSession, d: str):
    """Two-sample log-rank test: does the even-user cohort convert
    (signup→purchase) on a different survival curve than the odd-user
    cohort? At every event time the observed group-1 conversions are
    compared with their hypergeometric expectation given the risk
    sets; χ²₁ = (Σ(O−E))²/ΣV — the standard censoring-aware comparison
    that a naive conversion-rate diff gets wrong. Completes the
    survival kit with q_km_survival (the curve) and q_nelson_aalen
    (the hazard).

    Scale shape: users collapse to one duration row each (the
    km_survival build), per-(time, group) cells aggregate map-side,
    risk sets come from a 2-partition prefix window over the BOUNDED
    distinct-times table, and the O−E / variance sums are 9 dp
    exact-decimal (order-free) before one scalar division."""
    return logrank_stat(load_table(spark, d, "events"))


def logrank_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    signup = events.filter(F.col("event_type") == "signup").groupBy(
        "user_id"
    ).agg(F.date_trunc("day", F.min("ts")).cast("date").alias("s_day"))
    study_end = events.agg(
        F.date_trunc("day", F.max("ts")).cast("date").alias("e_day")
    )
    conv = (
        events.filter(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .filter(F.col("ts") >= F.col("s_day").cast("timestamp"))
        .groupBy("user_id")
        .agg(F.date_trunc("day", F.min("ts")).cast("date").alias("p_day"))
    )
    durations = (
        signup.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(study_end))
        .select(
            (F.col("user_id") % 2).alias("g"),
            F.when(
                F.col("p_day").isNotNull(),
                F.datediff(F.col("p_day"), F.col("s_day")),
            )
            .otherwise(F.datediff(F.col("e_day"), F.col("s_day")))
            .alias("t"),
            F.when(F.col("p_day").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    return logrank_from_durations(durations)


def logrank_from_durations(durations):
    """Core log-rank statistic over a (g, t, ev) durations frame —
    property-tested against a brute-force hand computation in
    tests/test_properties.py."""
    DECS = "decimal(38,10)"
    durations = track(durations.persist())
    cell = durations.groupBy("t", "g").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("leave_"),
    )
    cell = track(cell.persist())
    totals = durations.groupBy("g").agg(F.count(F.lit(1)).alias("n_tot"))
    # The at-risk count for group g must be evaluated at EVERY pooled
    # event time, not only where g has its own (t, g) cell — otherwise
    # an event time unique to the other group would read n_risk=0 for
    # members of g still at risk (expected=0 instead of dt*n_g/nt).
    # Build the pooled distinct-event-time grid × both groups, full-
    # outer it with the cells, and run the cumulative-leaves window
    # over the union so prefixes see censor-only times too.
    etimes = (
        cell.groupBy("t")
        .agg(F.sum("d").alias("d_all"))
        .filter(F.col("d_all") > 0)
        .select("t")
    )
    grid = etimes.crossJoin(F.broadcast(totals.select("g"))).withColumn(
        "is_grid", F.lit(1)
    )
    aug = cell.join(grid, ["t", "g"], "full_outer").select(
        "t",
        "g",
        F.coalesce(F.col("d"), F.lit(0)).alias("d"),
        F.coalesce(F.col("leave_"), F.lit(0)).alias("leave_"),
        F.coalesce(F.col("is_grid"), F.lit(0)).alias("is_grid"),
    )
    wrisk = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    risk = aug.join(totals, "g").select(
        "t",
        "g",
        "d",
        "is_grid",
        (
            F.col("n_tot")
            - F.coalesce(F.sum("leave_").over(wrisk), F.lit(0))
        ).alias("n_risk"),
    )
    wide = risk.filter(F.col("is_grid") == 1).groupBy("t").agg(
        F.coalesce(F.max(F.when(F.col("g") == 1, F.col("d"))), F.lit(0)).alias("d1"),
        F.coalesce(F.max(F.when(F.col("g") == 1, F.col("n_risk"))), F.lit(0)).alias("n1"),
        F.coalesce(F.max(F.when(F.col("g") == 0, F.col("d"))), F.lit(0)).alias("d0"),
        F.coalesce(F.max(F.when(F.col("g") == 0, F.col("n_risk"))), F.lit(0)).alias("n0"),
    )
    terms = wide.filter(F.col("d1") + F.col("d0") > 0).select(
        "d1",
        (F.col("d1") + F.col("d0")).alias("dt"),
        (F.col("n1") + F.col("n0")).alias("nt"),
        "n1",
        "n0",
    )
    share = F.col("n1").cast("double") / F.col("nt")
    o_minus_e = F.col("d1").cast("double") - F.col("dt") * share
    var_t = (
        F.col("dt")
        * share
        * (1.0 - share)
        * (
            (F.col("nt") - F.col("dt")).cast("double")
            / F.nullif((F.col("nt") - 1).cast("double"), F.lit(0.0))
        )
    )
    agg = terms.agg(
        F.round(F.sum(o_minus_e.cast(DECS)), 9).cast("double").alias("ome"),
        F.round(F.sum(var_t.cast(DECS)), 9).cast("double").alias("vs"),
        F.sum("d1").cast("bigint").alias("observed1"),
        F.round(F.sum(F.col("dt") * share), 6).alias("expected1"),
    )
    return agg.select(
        "observed1",
        "expected1",
        F.round(
            F.col("ome") * F.col("ome") / F.nullif(F.col("vs"), F.lit(0.0)), 6
        ).alias("chi2"),
        F.lit(1).cast("bigint").alias("df"),
    )


@query(
    "q_km_survival",
    oracle="""
    WITH signup AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS s_day
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    study_end AS (
        SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS e_day FROM events
    ),
    conv AS (
        SELECT s.user_id, s.s_day,
               CAST(date_trunc('day', MIN(e.ts)) AS DATE) AS p_day
        FROM signup s
        JOIN events e ON e.user_id = s.user_id
                     AND e.event_type = 'purchase'
                     AND e.ts >= CAST(s.s_day AS TIMESTAMP)
        GROUP BY s.user_id, s.s_day
    ),
    durations AS (
        SELECT s.user_id,
               CASE WHEN c.p_day IS NOT NULL
                    THEN date_diff('day', s.s_day, c.p_day)
                    ELSE date_diff('day', s.s_day, (SELECT e_day FROM study_end))
               END AS t,
               CASE WHEN c.p_day IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM signup s LEFT JOIN conv c ON c.user_id = s.user_id
    ),
    per_t AS (
        SELECT t,
               CAST(SUM(converted) AS BIGINT) AS d_events,
               CAST(COUNT(*) - SUM(converted) AS BIGINT) AS c_censored
        FROM durations GROUP BY t
    ),
    risk AS (
        SELECT t, d_events, c_censored,
               (SELECT COUNT(*) FROM durations)
                 - COALESCE(SUM(d_events + c_censored)
                            OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING), 0) AS n_risk
        FROM per_t
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d_events, c_censored,
           round(exp(SUM(ln(GREATEST(1.0 - d_events / CAST(n_risk AS DOUBLE),
                                     1e-300)))
                     OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)), 6)
               AS survival
    FROM risk
    ORDER BY t_days
    """,
    tags=("stats", "survival"),
)
def q_km_survival(spark: SparkSession, d: str):
    """Kaplan-Meier survival curve for days-from-signup-to-first-
    purchase: users who never purchase are right-censored at the study
    end, the risk set shrinks by events + censorings, and the survival
    estimate is the running product of (1 - d/n) — the time-to-event
    analysis behind conversion-latency and churn studies.

    The per-user duration table is user-keyed (one join of signups to
    their first qualifying purchase); it then collapses to at most
    |study days| rows, so the risk-set and survival windows run over a
    calendar-bounded series. The running product is computed as
    exp(running-sum of logs) on BOTH engines (no product window in
    Spark), guarded so a terminal d = n yields survival 0, and
    rounded to 6dp (libm)."""
    e = load_table(spark, d, "events")
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
    durations = (
        signup.join(conv, "user_id", "left")
        .crossJoin(F.broadcast(study_end))
        .select(
            F.when(
                F.col("p_day").isNotNull(),
                F.datediff("p_day", "s_day"),
            )
            .otherwise(F.datediff("e_day", "s_day"))
            .alias("t"),
            F.when(F.col("p_day").isNotNull(), 1).otherwise(0).alias(
                "converted"
            ),
        )
    )
    durations = track(durations.persist())
    n_total = durations.agg(F.count(F.lit(1)).alias("n_total"))
    per_t = durations.groupBy("t").agg(
        F.sum("converted").alias("d_events"),
        (F.count(F.lit(1)) - F.sum("converted")).alias("c_censored"),
    )
    w_prev = Window.partitionBy(bounded_window_key("t")).orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = per_t.crossJoin(F.broadcast(n_total)).select(
        "t",
        "d_events",
        "c_censored",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("c_censored")).over(w_prev),
                F.lit(0),
            )
        ).alias("n_risk"),
    )
    w_run = Window.partitionBy(bounded_window_key("t")).orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    surv = F.exp(
        F.sum(
            F.log(
                F.greatest(
                    F.lit(1.0)
                    - F.col("d_events") / F.col("n_risk").cast("double"),
                    F.lit(1e-300),
                )
            )
        ).over(w_run)
    )
    return risk.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d_events").cast("bigint").alias("d_events"),
        F.col("c_censored").cast("bigint").alias("c_censored"),
        F.round(surv, 6).alias("survival"),
    ).orderBy("t_days")


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


# ---------------------------------------------------------------------------
# q_neyman_alloc — optimal stratified-sample allocation
# ---------------------------------------------------------------------------

_NEY_BUDGET = 1000


def _neyman_sql(tbl: str) -> str:
    return f"""
    WITH m AS (
        SELECT event_type, COUNT(*) AS n,
               {dsum_sql('value')} AS sx,
               {dsum_sql('value * value')} AS sxx
        FROM {tbl} GROUP BY event_type
    ),
    sd AS (
        SELECT event_type, n,
               sqrt(GREATEST((sxx - sx * sx / n) / NULLIF(n - 1.0, 0.0),
                             0.0)) AS s
        FROM m
    ),
    tot AS (SELECT SUM(n * s) AS w FROM sd)
    SELECT sd.event_type,
           CAST(sd.n AS BIGINT) AS n_h,
           round(sd.s, 6) AS sd_h,
           round(sd.n * sd.s / NULLIF(t.w, 0.0), 6) AS alloc_share,
           CAST(round({_NEY_BUDGET} * sd.n * sd.s / NULLIF(t.w, 0.0), 0)
                AS BIGINT) AS alloc_n
    FROM sd CROSS JOIN tot t
    """


@query(
    "q_neyman_alloc",
    oracle=_neyman_sql("events"),
    tags=("stats", "sampling"),
)
def q_neyman_alloc(spark: SparkSession, d: str):
    """Neyman optimal allocation of a 1000-unit sampling budget across
    event-type strata: n_h ∝ N_h·σ_h, the design that minimizes the
    stratified mean's variance at fixed budget — what q_sample_stratified
    should be parameterized WITH when strata differ in spread (the
    survey-design complement of q_mde_power's sizing).

    One map-side-combined moment aggregate to |types| rows; σ_h comes
    from the exact-decimal (n, Σx, Σx²) triple with the variance
    clamped at 0 (GREATEST) before sqrt and NULLIF-guarded normalizer
    — the degenerate-data contract. Same SQL on both engines."""
    load_table(spark, d, "events").createOrReplaceTempView("events")
    return spark.sql(_neyman_sql("events"))


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
    arm = (md5_int(F.col("user_id").cast("string"), 2) % 2).cast("int")
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


# ---------------------------------------------------------------------------
# q_shapley_attribution — exact Shapley credit over 4 touch channels
# ---------------------------------------------------------------------------

_SH_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]
_SH_N = len(_SH_CHANNELS)

# Shapley weight |S|!(n-1-|S|)!/n! for a coalition S of the OTHER
# n-1 = 3 channels. CAST to DOUBLE before dividing: a bare 2.0/24.0
# literal is DECIMAL division in Spark SQL (scale-truncated to
# 0.083333), not the intended double 1/12.
_SH_W = {
    0: "CAST(6 AS DOUBLE) / 24",
    1: "CAST(2 AS DOUBLE) / 24",
    2: "CAST(2 AS DOUBLE) / 24",
    3: "CAST(6 AS DOUBLE) / 24",
}

_SH_SUBSETS = ", ".join(f"({s}, {bin(s).count('1')})" for s in range(2**_SH_N))
_SH_CHANNEL_VALUES = ", ".join(
    f"('{name}', {bit})" for name, bit in _SH_CHANNELS
)
_SH_TOUCH_BITS = ",\n               ".join(
    f"MAX(CASE WHEN event_type = '{name}' THEN {bit} ELSE 0 END) AS b{i}"
    for i, (name, bit) in enumerate(_SH_CHANNELS)
)
_SH_WEIGHT_CASE = (
    "CASE v1.pc "
    + " ".join(f"WHEN {pc} THEN {lit}" for pc, lit in _SH_W.items())
    + " END"
)


def _shapley_sql(tbl: str) -> str:
    return f"""
    WITH touch AS (
        SELECT user_id,
               {_SH_TOUCH_BITS},
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM {tbl} GROUP BY user_id
    ),
    rmask AS (
        SELECT b0 + b1 + b2 + b3 AS r,
               CAST(SUM(conv) AS BIGINT) AS conv
        FROM touch GROUP BY 1
    ),
    subsets AS (SELECT * FROM (VALUES {_SH_SUBSETS}) AS t(s, pc)),
    v AS (
        SELECT t.s, t.pc,
               COALESCE(SUM(r.conv) FILTER (WHERE (r.r & t.s) = r.r),
                        CAST(0 AS BIGINT)) AS v
        FROM subsets t CROSS JOIN rmask r
        GROUP BY t.s, t.pc
    ),
    channels AS (
        SELECT * FROM (VALUES {_SH_CHANNEL_VALUES}) AS c(name, bit)
    )
    SELECT c.name AS channel,
           round(SUM(({_SH_WEIGHT_CASE})
                     * (CAST(v2.v AS DOUBLE) - CAST(v1.v AS DOUBLE))), 6)
               AS shapley,
           CAST(MAX(v1.v) FILTER (WHERE v1.s = 0) AS BIGINT) AS v_empty
    FROM channels c
    JOIN v v1 ON (v1.s & c.bit) = 0
    JOIN v v2 ON v2.s = v1.s + c.bit
    GROUP BY c.name
    """


@query(
    "q_shapley_attribution",
    oracle=_shapley_sql("events"),
    tags=("events", "attribution", "experiment"),
)
def q_shapley_attribution(spark: SparkSession, d: str):
    """Exact Shapley-value attribution over the four non-conversion
    touch channels: each user's touch set is a 4-bit coalition mask,
    the characteristic function v(S) counts conversions (users who
    reached 'purchase') whose touches fit inside S, and every
    channel's credit is the exact Shapley sum Σ w(|S|)·(v(S∪{i})−v(S))
    over the 8 coalitions excluding it — the game-theoretic split that
    first/last-touch (q_attribution) heuristics approximate. The
    efficiency axiom (Σ credit = v(full) − v(∅)) is pinned by a
    property test.

    Scale shape: the corpus collapses user-first (one user-keyed
    aggregate), then to a ≤16-row exact-mask table; all coalition
    algebra runs on 16×16 bounded joins of VALUES literals. Shapley's
    exponential blowup is capped by the channel count, never the data.
    Same SQL runs on both engines; weights are exact double
    literals."""
    load_table(spark, d, "events").createOrReplaceTempView("events")
    return spark.sql(_shapley_sql("events"))


def shapley_attribution(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    events.createOrReplaceTempView("shapley_events_staged")
    return events.sparkSession.sql(_shapley_sql("shapley_events_staged"))


def neyman_alloc(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    events.createOrReplaceTempView("neyman_events_staged")
    return events.sparkSession.sql(_neyman_sql("neyman_events_staged"))
