"""Round-6 experimentation depth kit: CUPED variance reduction, Wald's
SPRT sequential monitor, minimum-detectable-effect power analysis, a
deterministic randomization (permutation) test, Durbin–Watson serial-
correlation diagnostics, a normal QQ table, threshold-free AUC-ROC /
average-precision, and expected calibration error — the analyses an
experimentation + model-eval platform layers over the engine's A/B and
classifier-score operators (q_ab_test, q_roc_curve, q_calibration_bins).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).

Engine-parity notes shared by this module:

* Transcendental constants (ln-likelihood slopes, normal quantiles)
  are PYTHON-computed literals injected into both the Spark plan and
  the oracle SQL — never engine-evaluated ln/Φ⁻¹, so both engines fold
  the identical double.
* Scalar chains round intermediate statistics at 6 dp before reuse
  (theta, slopes, centered means): downstream arithmetic on identical
  rounded doubles is bit-exact IEEE on both engines.
* Order-dependent float accumulations go through the exprs.dsum
  decimal contract; sums of per-row double terms that are themselves
  bit-identical across engines (pure scalar arithmetic on rounded
  inputs) are floored onto a 1e-9 grid and decimal-summed, which is
  exact and order-free.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import (
    DEC,
    bounded_window_key,
    dsum,
    dsum_sql,
    u01,
    u01_sql,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators.analytics11 import (
    scored_labeled,
    scored_labeled_sql,
)
from direct_kafka_stream_spark.registry import query

# Two-sided 97.5% / 80% normal quantiles used by MDE and CUPED z-reads.
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621

_ARM_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2))"
    " AS BIGINT) % 2 AS BIGINT)"
)


def _arm_col():
    return (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10
        ).cast("long")
        % 2
    )


def _grid_sum(term, scale: int = 9):
    """Order-free exact sum of per-row double terms that are already
    bit-identical across engines: floor onto the 1e-`scale` grid (an
    identity-preserving op on identical doubles — no half-boundary
    exists for floor) and decimal-sum."""
    g = float(10**scale)
    return F.sum((F.floor(term * g) / g).cast(DEC))


def _grid_sum_sql(expr: str, scale: int = 9) -> str:
    g = float(10**scale)
    return f"SUM(CAST(floor(({expr}) * {g}) / {g} AS DECIMAL(38,10)))"


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


# ---------------------------------------------------------------------------
# q_permutation_test — deterministic randomization test, click vs purchase
# ---------------------------------------------------------------------------

_PERM_R = 64
_PERM_A = "click"
_PERM_B = "purchase"


@query(
    "q_permutation_test",
    oracle=f"""
    WITH rows_ AS (
        SELECT event_id, event_type, value FROM events
        WHERE event_type IN ('{_PERM_A}', '{_PERM_B}')
    ),
    sizes AS (
        SELECT CAST(COUNT(*) FILTER (WHERE event_type = '{_PERM_B}')
                    AS DOUBLE) / NULLIF(COUNT(*), 0) AS pb,
               {dsum_sql(f"CASE WHEN event_type = '{_PERM_B}'"
                         " THEN value ELSE 0 END")} AS sb,
               {dsum_sql(f"CASE WHEN event_type = '{_PERM_A}'"
                         " THEN value ELSE 0 END")} AS sa,
               COUNT(*) FILTER (WHERE event_type = '{_PERM_B}') AS nb,
               COUNT(*) FILTER (WHERE event_type = '{_PERM_A}') AS na
        FROM rows_
    ),
    obs AS (SELECT sb / NULLIF(nb, 0) - sa / NULLIF(na, 0) AS diff_obs
            FROM sizes),
    reps AS (
        SELECT r.r, rw.value,
               CASE WHEN {u01_sql("concat(CAST(rw.event_id AS VARCHAR), ':', CAST(r.r AS VARCHAR))")}
                    < s.pb THEN 1 ELSE 0 END AS grp
        FROM rows_ rw
        CROSS JOIN (SELECT unnest(generate_series(1, {_PERM_R})) AS r) r
        CROSS JOIN sizes s
    ),
    rep_stats AS (
        SELECT r,
               {dsum_sql("CASE WHEN grp = 1 THEN value ELSE 0 END")} AS s1,
               {dsum_sql("CASE WHEN grp = 0 THEN value ELSE 0 END")} AS s0,
               COUNT(*) FILTER (WHERE grp = 1) AS n1,
               COUNT(*) FILTER (WHERE grp = 0) AS n0
        FROM reps GROUP BY r
        HAVING COUNT(*) FILTER (WHERE grp = 1) > 0
           AND COUNT(*) FILTER (WHERE grp = 0) > 0
    )
    SELECT round((SELECT diff_obs FROM obs), 6) AS obs_diff,
           CAST(COUNT(*) AS BIGINT) AS n_reps,
           CAST(COUNT(*) FILTER (
               WHERE abs(s1 / n1 - s0 / n0)
                     >= abs((SELECT diff_obs FROM obs))) AS BIGINT)
               AS n_extreme,
           round((1.0 + COUNT(*) FILTER (
               WHERE abs(s1 / n1 - s0 / n0)
                     >= abs((SELECT diff_obs FROM obs))))
                 / (COUNT(*) + 1.0), 6) AS p_value
    FROM rep_stats
    """,
    tags=("events", "experiment", "resampling"),
)
def q_permutation_test(spark: SparkSession, d: str):
    """Randomization test for the click-vs-purchase mean-value gap:
    64 replicates each re-assign every row to a pseudo-group by an
    md5-uniform draw keyed on (event_id, replicate) with the observed
    group proportion, and the p-value is the (add-one) fraction of
    replicates whose |mean gap| meets the observed one — the
    distribution-free significance readout that needs no normality.

    Same single-pass shape as q_bootstrap_poisson: rows explode ×R
    with inline draws, then one map-side-combined aggregate to R×2
    sufficient-stat partials; the shuffle never carries more than
    2R rows. Means are exact 4 dp decimal sums over exact counts, so
    every replicate diff is bit-identical across engines and the
    extreme-count comparison can never diverge."""
    return permutation_test_stat(
        spread_scan(load_table(spark, d, "events"), "event_id")
    )


def permutation_test_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events.filter(
        F.col("event_type").isin(_PERM_A, _PERM_B)
    ).select("event_id", "event_type", "value")
    # NULLIF guards: an empty or one-sided slice yields NULL stats on
    # both engines, never an ANSI 0/0 abort
    sizes = e.agg(
        (
            F.count(F.when(F.col("event_type") == _PERM_B, 1)).cast("double")
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0))
        ).alias("pb"),
        dsum(
            F.when(F.col("event_type") == _PERM_B, F.col("value")).otherwise(0.0)
        ).alias("sb"),
        dsum(
            F.when(F.col("event_type") == _PERM_A, F.col("value")).otherwise(0.0)
        ).alias("sa"),
        F.count(F.when(F.col("event_type") == _PERM_B, 1)).alias("nb"),
        F.count(F.when(F.col("event_type") == _PERM_A, 1)).alias("na"),
    )
    reps = (
        e.crossJoin(F.broadcast(sizes))
        .select(
            "event_id",
            "value",
            "pb",
            "sb",
            "sa",
            "nb",
            "na",
            F.explode(F.sequence(F.lit(1), F.lit(_PERM_R))).alias("r"),
        )
        .select(
            "r",
            "value",
            F.when(
                u01(
                    F.concat(
                        F.col("event_id").cast("string"),
                        F.lit(":"),
                        F.col("r").cast("string"),
                    )
                )
                < F.col("pb"),
                1,
            )
            .otherwise(0)
            .alias("grp"),
            (
                F.col("sb") / F.nullif(F.col("nb").cast("double"), F.lit(0.0))
                - F.col("sa") / F.nullif(F.col("na").cast("double"), F.lit(0.0))
            ).alias("diff_obs"),
        )
    )
    rep_stats = (
        reps.groupBy("r")
        .agg(
            dsum(F.when(F.col("grp") == 1, F.col("value")).otherwise(0.0)).alias(
                "s1"
            ),
            dsum(F.when(F.col("grp") == 0, F.col("value")).otherwise(0.0)).alias(
                "s0"
            ),
            F.count(F.when(F.col("grp") == 1, 1)).alias("n1"),
            F.count(F.when(F.col("grp") == 0, 1)).alias("n0"),
            F.max("diff_obs").alias("diff_obs"),
        )
        .filter((F.col("n1") > 0) & (F.col("n0") > 0))
    )
    extreme = F.abs(
        F.col("s1") / F.col("n1") - F.col("s0") / F.col("n0")
    ) >= F.abs(F.col("diff_obs"))
    return rep_stats.agg(
        F.round(F.max("diff_obs"), 6).alias("obs_diff"),
        F.count(F.lit(1)).cast("bigint").alias("n_reps"),
        F.count(F.when(extreme, 1)).cast("bigint").alias("n_extreme"),
        F.round(
            (1.0 + F.count(F.when(extreme, 1)))
            / (F.count(F.lit(1)) + 1.0),
            6,
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# q_durbin_watson — serial correlation of daily-revenue trend residuals
# ---------------------------------------------------------------------------


@query(
    "q_durbin_watson",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               {dsum_sql("o_totalprice")} AS x
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT day, x,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS DOUBLE) AS t
        FROM daily
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql("t")} AS st, {dsum_sql("x")} AS sx,
               {dsum_sql("t * t")} AS stt, {dsum_sql("t * x")} AS stx
        FROM idx
    ),
    coef AS (
        SELECT n,
               round((n * stx - st * sx)
                     / NULLIF(n * stt - st * st, 0.0), 6) AS b,
               round((sx - (n * stx - st * sx)
                            / NULLIF(n * stt - st * st, 0.0) * st) / n, 6)
                   AS a
        FROM fit
    ),
    resid AS (
        -- residuals scaled by the EXACT power of two 2^-24 before
        -- squaring: scaling by 2^-k is exact in IEEE and cancels in
        -- the DW ratio, and it keeps the squared terms small enough
        -- that the floor-grid decimal cast is correctly rounded on
        -- both engines (DuckDB's DOUBLE->DECIMAL cast is NOT
        -- round-to-nearest above ~1e12)
        SELECT i.day, (i.x - (c.a + c.b * i.t)) * {2.0 ** -24!r} AS e,
               lag((i.x - (c.a + c.b * i.t)) * {2.0 ** -24!r})
                   OVER (ORDER BY i.day) AS e_prev,
               c.a, c.b, c.n
        FROM idx i CROSS JOIN coef c
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_days,
           MAX(a) AS intercept, MAX(b) AS slope,
           round(CAST({_grid_sum_sql("(e - e_prev) * (e - e_prev)", 9)}
                      AS DOUBLE)
                 / NULLIF(CAST({_grid_sum_sql("e * e", 9)} AS DOUBLE), 0.0), 6)
               AS dw
    FROM resid
    """,
    tags=("timeseries", "regression"),
)
def q_durbin_watson(spark: SparkSession, d: str):
    """Durbin–Watson serial-correlation statistic on the residuals of
    the daily-revenue-vs-time OLS line: DW = Σ(e_t − e_{t−1})² / Σe_t²
    — the autocorrelation diagnostic read after any trend fit (DW ≈ 2
    means independent residuals; ≪2 means the trend missed structure).

    The fact table reduces to a calendar-bounded daily series first;
    the OLS fit is closed-form from exact decimal moments with slope
    and intercept rounded at 6 dp before the residual pass, so every
    residual is bit-identical on both engines; residuals are scaled
    by the exact power of two 2^-24 (cancels in the ratio, keeps the
    squared terms inside the range where both engines' double→decimal
    casts are correctly rounded) and the two sums go through the
    1e-9 floor-grid decimal contract (order-free)."""
    o = load_table(spark, d, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        dsum("o_totalprice").alias("x")
    )
    wk = Window.partitionBy(bounded_window_key("day")).orderBy("day")
    idx = daily.select(
        "day", "x", F.row_number().over(wk).cast("double").alias("t")
    )
    fit = idx.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("t").alias("st"),
        dsum("x").alias("sx"),
        dsum(F.col("t") * F.col("t")).alias("stt"),
        dsum(F.col("t") * F.col("x")).alias("stx"),
    )
    denom = F.nullif(
        F.col("n") * F.col("stt") - F.col("st") * F.col("st"), F.lit(0.0)
    )
    b = F.round(
        (F.col("n") * F.col("stx") - F.col("st") * F.col("sx")) / denom, 6
    )
    coef = fit.select(
        "n",
        b.alias("b"),
        F.round(
            (
                F.col("sx")
                - (F.col("n") * F.col("stx") - F.col("st") * F.col("sx"))
                / denom
                * F.col("st")
            )
            / F.col("n"),
            6,
        ).alias("a"),
    )
    resid = idx.crossJoin(F.broadcast(coef)).select(
        "day",
        "n",
        "a",
        "b",
        (
            (F.col("x") - (F.col("a") + F.col("b") * F.col("t")))
            * F.lit(2.0**-24)
        ).alias("e"),
    )
    resid = resid.select(
        "n",
        "a",
        "b",
        "e",
        F.lag("e").over(wk).alias("e_prev"),
    )
    return resid.agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.max("a").alias("intercept"),
        F.max("b").alias("slope"),
        F.round(
            _grid_sum(
                (F.col("e") - F.col("e_prev"))
                * (F.col("e") - F.col("e_prev")),
                9,
            ).cast("double")
            / F.nullif(
                _grid_sum(F.col("e") * F.col("e"), 9).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("dw"),
    )


# ---------------------------------------------------------------------------
# q_qq_plot — sample vs normal quantiles of the event-value distribution
# ---------------------------------------------------------------------------

# Standard normal quantiles Φ⁻¹(p) for p = 0.05..0.95 step 0.05, as
# shared 6 dp literals (engine-evaluated Φ⁻¹ exists in neither).
_QQ_POINTS = (
    (0.05, -1.644854), (0.10, -1.281552), (0.15, -1.036433),
    (0.20, -0.841621), (0.25, -0.674490), (0.30, -0.524401),
    (0.35, -0.385320), (0.40, -0.253347), (0.45, -0.125661),
    (0.50, 0.0), (0.55, 0.125661), (0.60, 0.253347),
    (0.65, 0.385320), (0.70, 0.524401), (0.75, 0.674490),
    (0.80, 0.841621), (0.85, 1.036433), (0.90, 1.281552),
    (0.95, 1.644854),
)


@query(
    "q_qq_plot",
    oracle=f"""
    WITH pts(p, z) AS (VALUES {", ".join(f"({p}, {z})" for p, z in _QQ_POINTS)}),
    vc AS (
        SELECT value AS v, COUNT(*) AS c FROM events GROUP BY value
    ),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM vc
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(AVG(value), 6) AS mu,
               round(stddev_pop(value), 6) AS sigma
        FROM events
    ),
    q AS (
        SELECT p.p, p.z, MIN(c.v) AS sample_q
        FROM pts p CROSS JOIN tot t
        JOIN cum c ON c.cc >= CAST(ceil(p.p * t.n) AS BIGINT)
        GROUP BY p.p, p.z
    )
    SELECT q.p, q.z, q.sample_q,
           round(t.mu + t.sigma * q.z, 6) AS normal_q,
           round(q.sample_q - (t.mu + t.sigma * q.z), 6) AS gap
    FROM q CROSS JOIN tot t
    ORDER BY q.p
    """,
    tags=("stats", "distribution"),
)
def q_qq_plot(spark: SparkSession, d: str):
    """Normal QQ table for the event-value distribution: the exact
    sample quantile (quantile_disc semantics — smallest value whose
    cumulative count reaches ⌈p·n⌉) against μ + σ·Φ⁻¹(p) at 19
    probability points — the one-look normality diagnostic behind
    every 'can I use a z-test here' decision.

    Exact and scale-safe without a global sort: values group to a
    value-distinct table (2 dp currency values — bounded regardless of
    row count), the cumulative count runs over that bounded table, and
    each quantile is a min over the qualifying tail. Φ⁻¹ values are
    shared 6 dp literals; μ/σ follow the 6 dp float-aggregate
    contract."""
    return qq_table(load_table(spark, d, "events"))


def qq_table(e):
    """q_qq_plot's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    spark_df = e.sparkSession.createDataFrame(
        list(_QQ_POINTS), "p double, z double"
    )
    vc = e.groupBy(F.col("value").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    wc = (
        Window.partitionBy(bounded_window_key("v"))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.select("v", F.sum("c").over(wc).alias("cc"))
    tot = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    q = (
        F.broadcast(spark_df)
        .crossJoin(F.broadcast(tot))
        .join(
            cum,
            F.col("cc") >= F.ceil(F.col("p") * F.col("n")).cast("bigint"),
        )
        .groupBy("p", "z", "mu", "sigma")
        .agg(F.min("v").alias("sample_q"))
    )
    normal_q = F.col("mu") + F.col("sigma") * F.col("z")
    return q.select(
        "p",
        "z",
        "sample_q",
        F.round(normal_q, 6).alias("normal_q"),
        F.round(F.col("sample_q") - normal_q, 6).alias("gap"),
    ).orderBy("p")


# ---------------------------------------------------------------------------
# q_auc_pr — threshold-free AUC-ROC and average precision
# ---------------------------------------------------------------------------


def _auc_oracle() -> str:
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    by_score AS (
        SELECT score, COUNT(*) AS n, SUM(y) AS pos
        FROM sl GROUP BY score
    ),
    tot AS (
        SELECT CAST(SUM(y) AS DOUBLE) AS p,
               CAST(COUNT(*) - SUM(y) AS DOUBLE) AS neg
        FROM sl
    ),
    sweep AS (
        SELECT score,
               CAST(SUM(pos) OVER w AS DOUBLE) AS ctp,
               CAST(SUM(n - pos) OVER w AS DOUBLE) AS cfp
        FROM by_score
        WINDOW w AS (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    terms AS (
        SELECT s.score,
               (s.ctp - COALESCE(lag(s.ctp) OVER v, 0.0)) / NULLIF(t.p, 0.0)
                   * (s.ctp / (s.ctp + s.cfp)) AS ap_term,
               (s.cfp - COALESCE(lag(s.cfp) OVER v, 0.0)) / NULLIF(t.neg, 0.0)
                   * ((s.ctp / NULLIF(t.p, 0.0)
                       + COALESCE(lag(s.ctp) OVER v, 0.0)
                         / NULLIF(t.p, 0.0)) / 2.0)
                   AS roc_term
        FROM sweep s CROSS JOIN tot t
        WINDOW v AS (ORDER BY score DESC)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_thresholds,
           round(CAST({_grid_sum_sql("ap_term")} AS DOUBLE), 6)
               AS average_precision,
           round(CAST({_grid_sum_sql("roc_term")} AS DOUBLE), 6) AS auc_roc
    FROM terms
    """


@query("q_auc_pr", oracle=_auc_oracle(), tags=("ml", "evaluation"))
def q_auc_pr(spark: SparkSession, d: str):
    """Threshold-free ranking metrics for the hashed-linear quality
    classifier: average precision (step-interpolated PR-curve area)
    and trapezoidal AUC-ROC from a sweep over every DISTINCT score —
    the scalar pair that summarizes the whole q_roc_curve table.

    Scale shape: scores are 6 dp sigmoids, so the distinct-score table
    is ≤10⁶ rows regardless of corpus size; the cumulative TP/FP sweep
    windows run over that bounded table (bounded_window_key), and each
    increment term is a product of exact-integer ratios — bit-identical
    across engines — summed on the 1e-9 floor grid (order-free exact
    decimal sum)."""
    sl = scored_labeled(spark, d)
    by_score = sl.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = sl.agg(
        F.sum("y").cast("double").alias("p"),
        (F.count(F.lit(1)) - F.sum("y")).cast("double").alias("neg"),
    )
    wk = Window.partitionBy(bounded_window_key("score")).orderBy(
        F.col("score").desc()
    )
    wcum = wk.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sweep = by_score.select(
        "score",
        F.sum("pos").over(wcum).cast("double").alias("ctp"),
        F.sum(F.col("n") - F.col("pos")).over(wcum).cast("double").alias("cfp"),
    )
    lag_tp = F.coalesce(F.lag("ctp").over(wk), F.lit(0.0))
    lag_fp = F.coalesce(F.lag("cfp").over(wk), F.lit(0.0))
    p_safe = F.nullif(F.col("p"), F.lit(0.0))
    neg_safe = F.nullif(F.col("neg"), F.lit(0.0))
    terms = sweep.crossJoin(F.broadcast(tot)).select(
        "score",
        (
            (F.col("ctp") - lag_tp)
            / p_safe
            * (F.col("ctp") / (F.col("ctp") + F.col("cfp")))
        ).alias("ap_term"),
        (
            (F.col("cfp") - lag_fp)
            / neg_safe
            * ((F.col("ctp") / p_safe + lag_tp / p_safe) / 2.0)
        ).alias("roc_term"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_thresholds"),
        F.round(_grid_sum(F.col("ap_term")).cast("double"), 6).alias(
            "average_precision"
        ),
        F.round(_grid_sum(F.col("roc_term")).cast("double"), 6).alias("auc_roc"),
    )


# ---------------------------------------------------------------------------
# q_ece — expected calibration error of the quality classifier
# ---------------------------------------------------------------------------

_ECE_BINS = 10


def _ece_oracle() -> str:
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    rng AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM sl),
    binned AS (
        SELECT LEAST(CAST(FLOOR((score - lo)
                                / NULLIF((hi - lo) / {_ECE_BINS}, 0))
                          AS INT), {_ECE_BINS - 1}) AS bin,
               score, y
        FROM sl CROSS JOIN rng
    ),
    bins AS (
        SELECT bin, CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql("score")} AS ssum,
               CAST(SUM(y) AS DOUBLE) AS pos
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nn FROM sl)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           round(CAST({_grid_sum_sql(
               "abs(ssum / n - pos / n) * (n / t.nn)", 9)} AS DOUBLE),
               6) AS ece,
           round(MAX(abs(ssum / n - pos / n)), 6) AS max_gap
    FROM bins CROSS JOIN tot t
    """


@query("q_ece", oracle=_ece_oracle(), tags=("ml", "evaluation"))
def q_ece(spark: SparkSession, d: str):
    """Expected calibration error of the quality classifier: scored
    documents bucket into 10 equi-width score bins (q_calibration_bins'
    binning) and ECE = Σ (n_b/N)·|confidence_b − accuracy_b|, plus the
    worst single-bin gap — the one-number answer to 'can this score be
    used as a probability'.

    One scoring pass, a 2-value range broadcast, a 10-row rollup.
    Per-bin confidence is an exact decimal sum of 6 dp scores over an
    exact count, so every per-bin term is bit-identical across
    engines; the weighted terms are gap·(n/N) ≤ 1 — inside the
    floor-grid contract's proven |term| ≤ 1e4 domain at ANY corpus
    size (ALIGNMENT.md) — summed on the 1e-9 grid."""
    sl = scored_labeled(spark, d)
    rng = sl.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    width = F.nullif((F.col("hi") - F.col("lo")) / _ECE_BINS, F.lit(0.0))
    binned = sl.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor((F.col("score") - F.col("lo")) / width).cast("int"),
            F.lit(_ECE_BINS - 1),
        ).alias("bin"),
        "score",
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("score").alias("ssum"),
        F.sum("y").cast("double").alias("pos"),
    )
    tot = sl.agg(F.count(F.lit(1)).cast("double").alias("nn"))
    gap = F.abs(F.col("ssum") / F.col("n") - F.col("pos") / F.col("n"))
    return bins.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(
            _grid_sum(gap * (F.col("n") / F.col("nn")), 9).cast("double"), 6
        ).alias("ece"),
        F.round(F.max(gap), 6).alias("max_gap"),
    )
