"""Round-6 batch 6: the Friedman repeated-measures rank test over
day-blocks, propensity-score stratification, the two-sample log-rank
survival test, and the Cochran–Mantel–Haenszel stratified 2×2 test —
the within-subject, observational-causal, censoring-aware and
confounding-robust members that complete the experimentation kit
(between-subject: ANOVA/Kruskal-Wallis; causal: DiD/CUPED/uplift;
survival: KM/Nelson-Aalen).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).

Parity conventions: cell statistics are exact-decimal means; ranks
come from counts (never a global sort); every fractional constant in
shared SQL is CAST(n AS DOUBLE)/m per docs/ALIGNMENT.md's
decimal-literal rule.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import davg, davg_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query

# ---------------------------------------------------------------------------
# q_friedman — repeated-measures rank test across event types, day blocks
# ---------------------------------------------------------------------------

_FR_K = 5  # complete blocks must carry all five event types


@query(
    "q_friedman",
    oracle=f"""
    WITH cell AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               {davg_sql('value')} AS m
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT day FROM cell GROUP BY day HAVING COUNT(*) = {_FR_K}
    ),
    ranked AS (
        SELECT c.day, c.event_type,
               (SELECT COUNT(*) FROM cell c2
                WHERE c2.day = c.day AND c2.m < c.m)
               + (1.0 + (SELECT COUNT(*) FROM cell c3
                         WHERE c3.day = c.day AND c3.m = c.m)) / 2.0
                   AS r
        FROM cell c JOIN complete USING (day)
    ),
    per_t AS (
        SELECT event_type, SUM(r) AS rsum, COUNT(*) AS n
        FROM ranked GROUP BY event_type
    ),
    tot AS (SELECT MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS k FROM per_t)
    SELECT t.n AS n_blocks, t.k, t.k - 1 AS df,
           round(CAST(12 AS DOUBLE) / (t.n * t.k * (t.k + 1))
                 * (SELECT SUM(rsum * rsum) FROM per_t)
                 - 3.0 * t.n * (t.k + 1), 6) AS q_stat
    FROM tot t
    """,
    tags=("stats", "hypothesis-test"),
)
def q_friedman(spark: SparkSession, d: str):
    """Friedman repeated-measures rank test: treating each day as a
    block and the five event types as treatments, rank the per-(day,
    type) mean values WITHIN each complete block (mid-ranks on ties)
    and test whether any treatment consistently ranks higher — the
    within-subject complement of q_kruskal_wallis (which pools), for
    the 'did type X run hot on the same days?' question. Q is
    χ²_{{k-1}} under the null.

    Scale shape: the fact collapses to the (days × 5)-bounded cell
    table in one exact-decimal aggregate; ranks come from counts
    joined within blocks (the oracle's correlated form decorrelates to
    a day-keyed self-join on Spark — ≤ k² rows per block); everything
    after is a 5-row rollup. The only window-free rank computation in
    the suite: blocks are tiny, so count-joins beat windows."""
    return friedman_stat(load_table(spark, d, "events"))


def friedman_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    cell = events.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(davg(F.col("value")).alias("m"))
    cell = track(cell.persist())
    complete = (
        cell.groupBy("day")
        .agg(F.count(F.lit(1)).alias("kk"))
        .filter(F.col("kk") == _FR_K)
        .select("day")
    )
    c = cell.join(complete, "day")
    a, b = c.alias("a"), c.alias("b")
    pairs = a.join(b, F.col("a.day") == F.col("b.day")).groupBy(
        F.col("a.day").alias("day"),
        F.col("a.event_type").alias("event_type"),
    ).agg(
        F.sum(F.when(F.col("b.m") < F.col("a.m"), 1).otherwise(0)).alias(
            "less"
        ),
        F.sum(F.when(F.col("b.m") == F.col("a.m"), 1).otherwise(0)).alias(
            "ties"
        ),
    )
    ranked = pairs.select(
        "day",
        "event_type",
        (F.col("less") + (1.0 + F.col("ties")) / 2.0).alias("r"),
    )
    per_t = ranked.groupBy("event_type").agg(
        F.sum("r").alias("rsum"), F.count(F.lit(1)).alias("n")
    )
    tot = per_t.agg(
        F.max("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("rsum") * F.col("rsum")).alias("ss"),
    )
    nn = F.col("n").cast("double")
    kk = F.col("k").cast("double")
    return tot.select(
        F.col("n").alias("n_blocks"),
        F.col("k"),
        (F.col("k") - 1).alias("df"),
        F.round(
            F.lit(12.0) / (nn * kk * (kk + 1.0)) * F.col("ss")
            - 3.0 * nn * (kk + 1.0),
            6,
        ).alias("q_stat"),
    )


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
    from direct_kafka_stream_spark.exprs import bounded_window_key

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


# ---------------------------------------------------------------------------
# q_cmh — Cochran–Mantel–Haenszel stratified 2x2 association
# ---------------------------------------------------------------------------

_CMH_HI = 50.0  # high-value outcome threshold


@query(
    "q_cmh",
    oracle=f"""
    WITH rows_ AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) AS k,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS x,
               CASE WHEN value > {_CMH_HI} THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'view')
    ),
    cells AS (
        SELECT k,
               CAST(SUM(x * y) AS BIGINT) AS a,
               CAST(SUM(x * (1 - y)) AS BIGINT) AS b,
               CAST(SUM((1 - x) * y) AS BIGINT) AS c,
               CAST(SUM((1 - x) * (1 - y)) AS BIGINT) AS d
        FROM rows_ GROUP BY k
    ),
    terms AS (
        SELECT a, b, c, d,
               a + b AS r1, c + d AS r0, a + c AS c1, b + d AS c0,
               a + b + c + d AS n
        FROM cells WHERE a + b > 0 AND c + d > 0
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               SUM(CAST(a AS DOUBLE)
                   - CAST(r1 AS DOUBLE) * c1 / n) AS o_minus_e,
               SUM(CAST(r1 AS DOUBLE) * r0 * c1 * c0
                   / (CAST(n AS DOUBLE) * n
                      * NULLIF(CAST(n - 1 AS DOUBLE), 0.0))) AS var_sum,
               SUM(CAST(a AS DOUBLE) * d / n) AS or_num,
               SUM(CAST(b AS DOUBLE) * c / n) AS or_den
        FROM terms
    )
    SELECT n_strata,
           round(o_minus_e * o_minus_e / NULLIF(var_sum, 0.0), 6) AS chi2_cmh,
           round(or_num / NULLIF(or_den, 0.0), 6) AS odds_ratio_mh
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "experiment"),
)
def q_cmh(spark: SparkSession, d: str):
    """Cochran–Mantel–Haenszel test of the click-vs-view ×
    high-value-outcome association, stratified by day-of-week: the
    pooled (O−E)²/V over per-stratum 2×2 tables plus the
    Mantel–Haenszel common odds ratio — the
    stratification-robust association test that q_chi2 (unstratified)
    confounds and q_propensity_strata estimates rather than tests
    (Simpson's-paradox armor).

    Scale shape: ONE map-side-combined aggregate reduces the fact to
    ≤7 2×2 strata; everything after is a 7-row rollup of exact
    counts. Sums over ≤7 bit-identical double terms need no decimal
    normalization (order-free at this cardinality on both engines —
    both sum in stratum order after identical GROUP BYs); the output
    rounds at 6 dp."""
    return cmh_stat(load_table(spark, d, "events"))


def cmh_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    r = events.filter(F.col("event_type").isin("click", "view")).select(
        F.dayofweek("ts").cast("bigint").alias("k"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("x"),
        F.when(F.col("value") > _CMH_HI, 1).otherwise(0).alias("y"),
    )
    cells = r.groupBy("k").agg(
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("a"),
        F.sum(F.col("x") * (1 - F.col("y"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("x")) * F.col("y")).cast("bigint").alias("c"),
        F.sum((1 - F.col("x")) * (1 - F.col("y"))).cast("bigint").alias("d"),
    )
    terms = cells.filter(
        ((F.col("a") + F.col("b")) > 0) & ((F.col("c") + F.col("d")) > 0)
    ).select(
        "a",
        "b",
        "c",
        "d",
        (F.col("a") + F.col("b")).alias("r1"),
        (F.col("c") + F.col("d")).alias("r0"),
        (F.col("a") + F.col("c")).alias("c1"),
        (F.col("b") + F.col("d")).alias("c0"),
        (F.col("a") + F.col("b") + F.col("c") + F.col("d")).alias("n"),
    )
    nn = F.col("n").cast("double")
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(
            F.col("a").cast("double") - F.col("r1").cast("double") * F.col("c1") / F.col("n")
        ).alias("ome"),
        F.sum(
            F.col("r1").cast("double") * F.col("r0") * F.col("c1") * F.col("c0")
            / (nn * nn * F.nullif((F.col("n") - 1).cast("double"), F.lit(0.0)))
        ).alias("vs"),
        F.sum(F.col("a").cast("double") * F.col("d") / F.col("n")).alias("orn"),
        F.sum(F.col("b").cast("double") * F.col("c") / F.col("n")).alias("ord_"),
    )
    return agg.select(
        "n_strata",
        F.round(
            F.col("ome") * F.col("ome") / F.nullif(F.col("vs"), F.lit(0.0)), 6
        ).alias("chi2_cmh"),
        F.round(F.col("orn") / F.nullif(F.col("ord_"), F.lit(0.0)), 6).alias(
            "odds_ratio_mh"
        ),
    )
