"""Hypothesis tests, intervals, correlations and effect sizes:
parametric and rank tests (chi-squared, Welch, ANOVA, Levene,
Mann-Whitney, Kruskal-Wallis, Friedman, CMH, runs), multiple-testing
control, resampling (jackknife, Poisson bootstrap, permutation),
confidence intervals and association strength.

Rank statistics run on binned average ranks so no step needs a
global sort; every test has an exact DuckDB oracle.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import (
    DEC,
    bounded_window_key,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    md5_int,
    u01,
    u01_sql,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.registry import query


@query(
    "q_chi2",
    oracle="""
    WITH bucketed AS (
        SELECT event_type,
               LEAST(CAST(FLOOR(value / 100) AS INT), 3) AS vbucket
        FROM events
    ),
    obs AS (
        SELECT event_type, vbucket, CAST(COUNT(*) AS BIGINT) AS o
        FROM bucketed GROUP BY event_type, vbucket
    ),
    rt AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT vbucket, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY vbucket),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
        SELECT rt.event_type, ct.vbucket, rt.r, ct.c,
               COALESCE(obs.o, 0) AS o
        FROM rt CROSS JOIN ct
        LEFT JOIN obs ON obs.event_type = rt.event_type
                     AND obs.vbucket = ct.vbucket
    )
    SELECT (SELECT n FROM n) AS n,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           round({chi2}, 6) AS chi2
    FROM grid CROSS JOIN n
    """.format(
        chi2=dsum_sql(
            "POW(o - (r * c / CAST(n AS DOUBLE)), 2)"
            " / (r * c / CAST(n AS DOUBLE))"
        )
    ),
    tags=("stats", "profiling"),
)
def q_chi2(spark: SparkSession, d: str):
    """Chi-squared test of independence between event_type and the
    (capped) value bucket — the categorical-association screen
    (feature selection, drift detection between segments).

    The fact table collapses to the contingency table in one
    aggregation (|types| x 4 cells). Row totals, column totals and N
    are aggregates OF that tiny table; the full grid (cross join of
    the marginals) is rebuilt so EMPTY cells contribute their
    (0-e)^2/e term — aggregating observed cells only would understate
    the statistic. Everything after the first aggregate operates on
    broadcast-sized tables; the chi2 sum uses the exact-decimal
    contract, rounded to 6dp."""
    return chi2_stat(load_table(spark, d, "events"))


def chi2_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    bucketed = e.select(
        "event_type",
        F.least(
            F.floor(F.col("value") / 100).cast("int"), F.lit(3)
        ).alias("vbucket"),
    )
    obs = bucketed.groupBy("event_type", "vbucket").agg(
        F.count(F.lit(1)).alias("o")
    )
    obs = track(obs.persist())
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("vbucket").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    dof = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .select(
            ((F.col("nr") - 1) * (F.col("nc") - 1))
            .cast("bigint")
            .alias("dof")
        )
    )
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(obs), ["event_type", "vbucket"], "left")
        .select("r", "c", F.coalesce("o", F.lit(0)).alias("o"))
        .crossJoin(F.broadcast(n))
    )
    exp = F.col("r") * F.col("c") / F.col("n").cast("double")
    chi2 = grid.agg(
        F.round(dsum(F.pow(F.col("o") - exp, 2) / exp), 6).alias("chi2")
    )
    return (
        n.crossJoin(F.broadcast(dof))
        .crossJoin(F.broadcast(chi2))
        .select("n", "dof", "chi2")
    )


# Mann-Whitney: coarse value bins for the two-level (bin prefix +
# within-bin prefix) rank computation — the q_weighted_median /
# q_drift_ks_binned stitching applied to rank sums.
_MW_BIN = 10.0
_MW_A = "click"
_MW_B = "purchase"


@query(
    "q_mann_whitney",
    oracle=f"""
    WITH ab AS (
        SELECT value AS v,
               CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = '{_MW_B}' THEN 1 ELSE 0 END AS ib
        FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
    ),
    vals AS (
        SELECT v, CAST(floor(v / {_MW_BIN}) AS BIGINT) AS bin,
               SUM(ia) AS na, SUM(ib) AS nb, COUNT(*) AS t
        FROM ab GROUP BY v
    ),
    bins AS (SELECT bin, SUM(t) AS bt FROM vals GROUP BY bin),
    binp AS (
        SELECT bin,
               COALESCE(SUM(bt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        FROM bins
    ),
    ranked AS (
        SELECT vals.v, vals.na, vals.nb, vals.t,
               p.prior + COALESCE(SUM(vals.t) OVER (PARTITION BY vals.bin
                   ORDER BY vals.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
        FROM vals JOIN binp p USING (bin)
    ),
    agg AS (
        SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
               SUM(na * (2 * less + t + 1)) AS r2a,
               SUM(t * t * t - t) AS tiesum
        FROM ranked
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2,
           round((CAST(r2a - n_a * (n_a + 1) AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 / NULLIF(2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
                     * (CAST(n_a + n_b + 1 AS DOUBLE)
                        - CAST(tiesum AS DOUBLE)
                          / NULLIF(CAST(n_a + n_b AS DOUBLE)
                             * CAST(n_a + n_b - 1 AS DOUBLE), 0.0))), 0.0),
                 6) AS z
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "scale"),
)
def q_mann_whitney(spark: SparkSession, d: str):
    """Tie-corrected Mann-Whitney U (Wilcoxon rank-sum) test between
    two event-type value samples — the non-parametric two-sample test
    (does 'click' value stochastically dominate 'purchase' value?).
    Reports n_a, n_b, 2·U (kept integral so the output is exact), and
    the normal-approximation z with the tie correction.

    The textbook form ranks the POOLED sample — a global sort. Here
    ranks come from counts alone, two-level stitched (the
    q_weighted_median pattern): aggregate per distinct value, bin the
    values coarsely, prefix-sum bin totals over the BOUNDED bins table,
    then a within-bin prefix partitioned by bin. avg-rank of a tied
    value group = less-than count + (ties+1)/2, doubled to stay in
    integer arithmetic (r2a = Σ n_a·(2·less + t + 1) = 2·R_a). All
    doubles are derived from the same integers on both engines, so z
    is bit-identical before its 6 dp rounding."""
    return mann_whitney_stat(load_table(spark, d, "events"))


def mann_whitney_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    ev = events.filter(F.col("event_type").isin(_MW_A, _MW_B))
    vals = (
        ev.select(
            F.col("value").alias("v"),
            F.floor(F.col("value") / _MW_BIN).alias("bin"),
            F.when(F.col("event_type") == _MW_A, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == _MW_B, 1).otherwise(0).alias("ib"),
        )
        .groupBy("v", "bin")
        .agg(
            F.sum("ia").alias("na"),
            F.sum("ib").alias("nb"),
            F.count(F.lit(1)).alias("t"),
        )
    )
    bins = vals.groupBy("bin").agg(F.sum("t").alias("bt"))
    # literal partition key: the frame is the BOUNDED bins table, so a
    # one-partition window is the intended (cheap) plan — keying it
    # keeps WindowExec warnings out of plan audits
    wbin = Window.partitionBy(bounded_window_key("bin")).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binp = bins.select(
        "bin", F.coalesce(F.sum("bt").over(wbin), F.lit(0)).alias("prior")
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.join(F.broadcast(binp), "bin").select(
        "na",
        "nb",
        "t",
        (F.col("prior") + F.coalesce(F.sum("t").over(wv), F.lit(0))).alias("less"),
    )
    agg = ranked.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * (2 * F.col("less") + F.col("t") + 1)).alias("r2a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tiesum"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    nad, nbd = n_a.cast("double"), n_b.cast("double")
    nn = (n_a + n_b).cast("double")
    u2 = F.col("r2a") - n_a * (n_a + 1)
    # NULLIF twice: all-tied samples give zero rank variance, and a
    # pooled n <= 1 makes the tie correction undefined — z is NULL on
    # both engines, never an ANSI divide-by-zero abort
    var = (nad * nbd / 12.0) * (
        (n_a + n_b + 1).cast("double")
        - F.col("tiesum").cast("double")
        / F.nullif(nn * (n_a + n_b - 1).cast("double"), F.lit(0.0))
    )
    return agg.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        u2.cast("bigint").alias("u2"),
        F.round(
            (u2.cast("double") - nad * nbd)
            / F.nullif(2.0 * F.sqrt(var), F.lit(0.0)),
            6,
        ).alias("z"),
    )


_TT_A = "view"
_TT_B = "error"


def _welch_moments_sql(tag: str, etype: str) -> str:
    return f"""
    {tag} AS (
        SELECT COUNT(*) AS n,
               CAST(round(SUM(CAST(value AS DECIMAL(38,10))), 6) AS DOUBLE) AS s1,
               CAST(round(SUM(CAST(value * value AS DECIMAL(38,10))), 6) AS DOUBLE)
                   AS s2
        FROM events WHERE event_type = '{etype}'
    )"""


@query(
    "q_welch_ttest",
    oracle=f"""
    WITH {_welch_moments_sql("ga", _TT_A).strip()},
    {_welch_moments_sql("gb", _TT_B).strip()}
    SELECT CAST(ga.n AS BIGINT) AS n_a, CAST(gb.n AS BIGINT) AS n_b,
           round(ga.s1 / ga.n, 6) AS mean_a,
           round(gb.s1 / gb.n, 6) AS mean_b,
           round((ga.s1 / ga.n - gb.s1 / gb.n)
                 / NULLIF(sqrt(((ga.s2 - ga.s1 * ga.s1 / ga.n)
                                / NULLIF(ga.n - 1, 0.0)) / ga.n
                        + ((gb.s2 - gb.s1 * gb.s1 / gb.n)
                           / NULLIF(gb.n - 1, 0.0)) / gb.n), 0.0),
                 6) AS t,
           round(pow(((ga.s2 - ga.s1 * ga.s1 / ga.n)
                      / NULLIF(ga.n - 1, 0.0)) / ga.n
                     + ((gb.s2 - gb.s1 * gb.s1 / gb.n)
                        / NULLIF(gb.n - 1, 0.0)) / gb.n, 2)
                 / NULLIF(pow(((ga.s2 - ga.s1 * ga.s1 / ga.n)
                               / NULLIF(ga.n - 1, 0.0)) / ga.n, 2)
                        / NULLIF(ga.n - 1, 0.0)
                    + pow(((gb.s2 - gb.s1 * gb.s1 / gb.n)
                           / NULLIF(gb.n - 1, 0.0)) / gb.n, 2)
                        / NULLIF(gb.n - 1, 0.0), 0.0),
                 6) AS df
    FROM ga, gb
    """,
    tags=("stats", "hypothesis-test"),
)
def q_welch_ttest(spark: SparkSession, d: str):
    """Welch's unequal-variance t-test between two event-type value
    samples (the default two-sample mean test when variances are not
    assumed equal), with the Welch–Satterthwaite effective degrees of
    freedom. Complements q_mann_whitney (ranks) and q_ab_test
    (proportions) in the experimentation toolkit.

    Everything derives from two (n, Σx, Σx²) moment triples — one
    map-side-combinable aggregate per sample, exact decimal so both
    engines hold bit-identical doubles before the shared t/df formula
    and its 6 dp rounding. Scale shape: two scans' worth of scalar
    aggregation, no shuffle of detail rows at all."""
    return welch_ttest_stat(load_table(spark, d, "events"))


def welch_ttest_stat(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""

    def moments(etype: str, tag: str):
        return (
            ev.filter(F.col("event_type") == etype)
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.round(F.sum(F.col("value").cast(DEC)), 6)
                .cast("double")
                .alias(f"s1_{tag}"),
                F.round(F.sum((F.col("value") * F.col("value")).cast(DEC)), 6)
                .cast("double")
                .alias(f"s2_{tag}"),
            )
        )

    ga, gb = moments(_TT_A, "a"), moments(_TT_B, "b")
    j = ga.crossJoin(gb)
    na, nb = F.col("n_a"), F.col("n_b")
    # NULLIF: one-row samples (n−1 = 0) and two zero-variance samples
    # yield undefined t/df — NULL on both engines, never an ANSI abort
    va = (
        (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / na)
        / F.nullif(na - 1, F.lit(0.0))
    ) / na
    vb = (
        (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / nb)
        / F.nullif(nb - 1, F.lit(0.0))
    ) / nb
    return j.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(F.col("s1_a") / na, 6).alias("mean_a"),
        F.round(F.col("s1_b") / nb, 6).alias("mean_b"),
        F.round(
            (F.col("s1_a") / na - F.col("s1_b") / nb)
            / F.nullif(F.sqrt(va + vb), F.lit(0.0)),
            6,
        ).alias("t"),
        F.round(
            F.pow(va + vb, 2)
            / F.nullif(
                F.pow(va, 2) / F.nullif(na - 1, F.lit(0.0))
                + F.pow(vb, 2) / F.nullif(nb - 1, F.lit(0.0)),
                F.lit(0.0),
            ),
            6,
        ).alias("df"),
    )


@query(
    "q_anova",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS cnt,
               {dsum_sql('value')} AS s,
               {dsum_sql('value * value')} AS ss
        FROM events GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
               CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(ROUND(SUM(CAST(s AS DECIMAL(38,10))), 4) AS DOUBLE) AS gs
        FROM g
    ),
    terms AS (
        SELECT t.n, t.k,
               round(g.cnt * (g.s / g.cnt - t.gs / t.n)
                           * (g.s / g.cnt - t.gs / t.n), 9) AS tb,
               round(g.ss - g.s * g.s / g.cnt, 9) AS tw
        FROM g, tot t
    )
    SELECT CAST(MAX(k) AS BIGINT) AS k,
           CAST(MAX(n) AS BIGINT) AS n,
           round(CAST(ROUND(SUM(CAST(tb AS DECIMAL(38,10))), 6) AS DOUBLE), 6)
               AS ss_between,
           round(CAST(ROUND(SUM(CAST(tw AS DECIMAL(38,10))), 6) AS DOUBLE), 6)
               AS ss_within,
           round((CAST(ROUND(SUM(CAST(tb AS DECIMAL(38,10))), 6) AS DOUBLE)
                      / NULLIF(MAX(k) - 1, 0))
                 / NULLIF(CAST(ROUND(SUM(CAST(tw AS DECIMAL(38,10))), 6)
                              AS DOUBLE)
                          / NULLIF(MAX(n) - MAX(k), 0), 0), 6) AS f_stat
    FROM terms
    """,
    tags=("stats", "hypothesis-test"),
)
def q_anova(spark: SparkSession, d: str):
    """One-way ANOVA F-test of events.value across event types — does
    the mean differ by group more than within-group noise explains?
    The default screen before slicing any metric by a categorical.

    Scale shape: ONE map-side-combined aggregation reduces the corpus
    to |types| sufficient-statistic rows (count, Σx, Σx²); SSB/SSW and
    F are scalar arithmetic on that bounded table against the one-row
    broadcast grand totals. Exactness: moments use the exact-decimal
    contract, the per-group SSB/SSW terms are computed with identical
    operation order on both engines and rounded 9 dp before an exact
    decimal sum, F rounded 6 dp."""
    return anova_stat(load_table(spark, d, "events"))


def anova_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    g = (
        events
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("cnt"),
            dsum("value").alias("s"),
            dsum(F.col("value") * F.col("value")).alias("ss"),
        )
    )
    tot = g.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.round(F.sum(F.col("s").cast(DEC)), 4).cast("double").alias("gs"),
    )
    mean_g = F.col("s") / F.col("cnt")
    mean = F.col("gs") / F.col("n")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        F.round(F.col("cnt") * (mean_g - mean) * (mean_g - mean), 9).alias("tb"),
        F.round(F.col("ss") - F.col("s") * F.col("s") / F.col("cnt"), 9).alias(
            "tw"
        ),
    )
    ssb = F.round(F.sum(F.col("tb").cast(DEC)), 6).cast("double")
    ssw = F.round(F.sum(F.col("tw").cast(DEC)), 6).cast("double")
    return terms.agg(
        F.max("k").cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n"),
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(
            (ssb / F.nullif(F.max("k") - 1, F.lit(0.0)))
            / F.nullif(ssw / F.nullif(F.max("n") - F.max("k"), F.lit(0.0)), F.lit(0.0)),
            6,
        ).alias("f_stat"),
    )


@query(
    "q_levene",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type, abs(e.value - m.med) AS z
        FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS cnt,
               {dsum_sql('z')} AS s,
               {dsum_sql('z * z')} AS ss
        FROM z GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
               CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(ROUND(SUM(CAST(s AS DECIMAL(38,10))), 4) AS DOUBLE) AS gs
        FROM g
    ),
    terms AS (
        SELECT t.n, t.k,
               round(g.cnt * (g.s / g.cnt - t.gs / t.n)
                           * (g.s / g.cnt - t.gs / t.n), 9) AS tb,
               round(g.ss - g.s * g.s / g.cnt, 9) AS tw
        FROM g, tot t
    )
    SELECT CAST(MAX(k) AS BIGINT) AS k,
           CAST(MAX(n) AS BIGINT) AS n,
           round((CAST(ROUND(SUM(CAST(tb AS DECIMAL(38,10))), 6) AS DOUBLE)
                      / NULLIF(MAX(k) - 1, 0))
                 / NULLIF(CAST(ROUND(SUM(CAST(tw AS DECIMAL(38,10))), 6)
                              AS DOUBLE)
                          / NULLIF(MAX(n) - MAX(k), 0), 0), 6) AS w_stat
    FROM terms
    """,
    tags=("stats", "hypothesis-test"),
)
def q_levene(spark: SparkSession, d: str):
    """Brown–Forsythe (median-based Levene) test of variance equality
    across event types: one-way ANOVA on z = |x − group median| — the
    robust pre-check that decides whether pooled-variance tests
    (q_anova, q_welch_ttest's pooled sibling) are even admissible.

    Scale shape: the |types|-row exact-interpolated-median table
    broadcasts onto one fact scan to form z, then the q_anova moment
    machinery takes over (one map-side-combined aggregation to |types|
    sufficient-statistic rows). Same 9 dp-rounded-term + decimal-sum
    exactness discipline as q_anova."""
    return levene_stat(load_table(spark, d, "events"))


def levene_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        dsum("z").alias("s"),
        dsum(F.col("z") * F.col("z")).alias("ss"),
    )
    tot = g.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.round(F.sum(F.col("s").cast(DEC)), 4).cast("double").alias("gs"),
    )
    mean_g = F.col("s") / F.col("cnt")
    mean = F.col("gs") / F.col("n")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        F.round(F.col("cnt") * (mean_g - mean) * (mean_g - mean), 9).alias("tb"),
        F.round(F.col("ss") - F.col("s") * F.col("s") / F.col("cnt"), 9).alias(
            "tw"
        ),
    )
    ssb = F.round(F.sum(F.col("tb").cast(DEC)), 6).cast("double")
    ssw = F.round(F.sum(F.col("tw").cast(DEC)), 6).cast("double")
    return terms.agg(
        F.max("k").cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n"),
        F.round(
            (ssb / F.nullif(F.max("k") - 1, F.lit(0.0)))
            / F.nullif(
                ssw / F.nullif(F.max("n") - F.max("k"), F.lit(0.0)), F.lit(0.0)
            ),
            6,
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# q_kruskal_wallis — k-sample rank test across all event types
# ---------------------------------------------------------------------------

_KW_BIN = 10.0  # coarse value-bin width for the two-level rank stitch


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH vals AS (
        SELECT value AS v, event_type AS g,
               CAST(floor(value / {_KW_BIN}) AS BIGINT) AS bin,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    vtot AS (
        SELECT v, bin, SUM(c) AS t FROM vals GROUP BY v, bin
    ),
    bins AS (SELECT bin, SUM(t) AS bt FROM vtot GROUP BY bin),
    binp AS (
        SELECT bin,
               COALESCE(SUM(bt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prior
        FROM bins
    ),
    ranked AS (
        SELECT vt.v, vt.t,
               p.prior + COALESCE(SUM(vt.t) OVER (PARTITION BY vt.bin
                   ORDER BY vt.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS less
        FROM vtot vt JOIN binp p USING (bin)
    ),
    groups AS (
        SELECT vals.g,
               SUM(vals.c) AS n_g,
               SUM(vals.c * (2 * r.less + r.t + 1)) AS r2
        FROM vals JOIN ranked r ON vals.v = r.v
        GROUP BY vals.g
    ),
    tot AS (
        SELECT SUM(n_g) AS n, SUM(CAST(r2 AS DOUBLE) * r2 / (4.0 * n_g)) AS sq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM groups
    ),
    ties AS (SELECT SUM(t * t * t - t) AS tsum FROM ranked)
    SELECT tot.k - 1 AS df,
           CAST(tot.n AS BIGINT) AS n,
           round(12.0 / (tot.n * (tot.n + 1.0)) * tot.sq
                 - 3.0 * (tot.n + 1.0), 6) AS h_stat,
           round((12.0 / (tot.n * (tot.n + 1.0)) * tot.sq
                  - 3.0 * (tot.n + 1.0))
                 / NULLIF(1.0 - CAST(ties.tsum AS DOUBLE)
                          / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n),
                          0.0), 6) AS h_corrected
    FROM tot CROSS JOIN ties
    """,
    tags=("stats", "hypothesis-test", "scale"),
)
def q_kruskal_wallis(spark: SparkSession, d: str):
    """Kruskal–Wallis one-way rank test of `value` across ALL five
    event types — the k-sample generalization of q_mann_whitney
    (does any event type's value distribution dominate?). Reports df,
    N, the raw H statistic and the tie-corrected H (χ²_{k-1} under
    the null).

    Same scale design as q_mann_whitney: no global sort — per-value
    count aggregation, coarse value bins prefix-summed over the
    BOUNDED bins table, a within-bin prefix window, and avg-ranks kept
    integral as 2R = Σ c·(2·less + t + 1). Every double in H derives
    from the same integers on both engines (identical expression
    structure), so the statistic is bit-identical before its 6 dp
    rounding. The only windows run over bins-sized frames with
    non-foldable keys."""
    return kruskal_wallis_stat(load_table(spark, d, "events"))


def kruskal_wallis_stat(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    vals = (
        ev.select(
            F.col("value").alias("v"),
            F.col("event_type").alias("g"),
            F.floor(F.col("value") / _KW_BIN).alias("bin"),
        )
        .groupBy("v", "g", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vals = track(vals.persist())
    vtot = vals.groupBy("v", "bin").agg(F.sum("c").alias("t"))
    bins = vtot.groupBy("bin").agg(F.sum("t").alias("bt"))
    wbin = (
        Window.partitionBy(bounded_window_key("bin"))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binp = bins.select(
        "bin", F.coalesce(F.sum("bt").over(wbin), F.lit(0)).alias("prior")
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        vtot.withColumn("within", F.coalesce(F.sum("t").over(wv), F.lit(0)))
        .join(binp, "bin")
        .select("v", "t", (F.col("prior") + F.col("within")).alias("less"))
    )
    groups = (
        vals.join(ranked, "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c") * (2 * F.col("less") + F.col("t") + 1)).alias("r2"),
        )
    )
    tot = groups.agg(
        F.sum("n_g").alias("n"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2") / (4.0 * F.col("n_g"))
        ).alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ties = ranked.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tsum")
    )
    nn = F.col("n").cast("double")
    h_raw = 12.0 / (nn * (nn + 1.0)) * F.col("sq") - 3.0 * (nn + 1.0)
    return tot.crossJoin(ties).select(
        (F.col("k") - 1).alias("df"),
        F.col("n").cast("bigint").alias("n"),
        F.round(h_raw, 6).alias("h_stat"),
        F.round(
            h_raw
            / F.nullif(
                1.0 - F.col("tsum").cast("double") / (nn * nn * nn - nn),
                F.lit(0.0),
            ),
            6,
        ).alias("h_corrected"),
    )


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


# ---------------------------------------------------------------------------
# q_bh_fdr — Benjamini–Hochberg step-up over a 100-segment mean screen
# ---------------------------------------------------------------------------

_BH_ALPHA = 0.10


@query(
    "q_bh_fdr",
    oracle=f"""
    WITH seg AS (
        SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS seg, value
        FROM events
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS gn,
               {dsum_sql('value')} AS gs,
               {dsum_sql('value * value')} AS gss
        FROM seg
    ),
    g AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS n, {dsum_sql('value')} AS s
        FROM seg GROUP BY seg
    ),
    z AS (
        SELECT seg, n,
               round(COALESCE(
                   (round(s / n, 9) - round(gs / gn, 9))
                   / NULLIF(round(sqrt(GREATEST(
                                gss / gn - (gs / gn) * (gs / gn), 0.0)), 9)
                            / sqrt(CAST(n AS DOUBLE)), 0.0),
                   0.0), 6) AS z
        FROM g, tot
    ),
    p AS (
        SELECT seg, n, z,
               round(2.0 / (1.0 + exp(1.702 * abs(z))), 6) AS p_raw,
               CAST(COUNT(*) OVER () AS DOUBLE) AS m,
               ROW_NUMBER() OVER (ORDER BY
                   round(2.0 / (1.0 + exp(1.702 * abs(z))), 6),
                   seg NULLS LAST) AS i
        FROM z
    ),
    adj AS (
        SELECT seg, n, z, p_raw,
               round(LEAST(1.0,
                   MIN(m * p_raw / i) OVER (
                       ORDER BY p_raw DESC, seg DESC NULLS LAST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
                   6) AS p_bh
        FROM p
    )
    SELECT seg, n, z, p_raw, p_bh, p_bh <= {_BH_ALPHA!r} AS rejected
    FROM adj ORDER BY seg
    """,
    tags=("stats", "multiple-testing"),
)
def q_bh_fdr(spark: SparkSession, d: str):
    """Benjamini–Hochberg FDR-controlled segment screen: test each of
    the ~100 props.k segments for a mean(value) shift vs the global
    mean, then step-up adjust the p-values so the expected fraction of
    false discoveries among the rejections stays below α=0.10. The
    correction every "scan 10k segments for movers" dashboard needs —
    uncorrected, 5% of segments look significant by luck alone.

    Scale shape: one map-side-combined pass reduces the fact table to
    |segments| sufficient-statistic rows plus a 1-row global-moments
    broadcast; the rank / reverse-running-min windows then run on the
    segments-sized frame only (bounded_window_key keeps the
    single-partition plan intentional and the WindowExec logger quiet).
    The p-value source is the logistic normal-tail approximation (see
    module doc); the BH step-up itself — p(i)·m/i, reverse cumulative
    min, clamp at 1 — is textbook-exact."""
    return bh_fdr_table(load_table(spark, d, "events"))


def bh_fdr_table(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    seg = e.select(
        F.get_json_object("props", "$.k").cast("int").alias("seg"), "value"
    )
    tot = seg.agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        dsum("value").alias("gs"),
        dsum(F.col("value") * F.col("value")).alias("gss"),
    )
    g = seg.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("s")
    )
    mean = F.round(F.col("s") / F.col("n"), 9)
    gmean = F.round(F.col("gs") / F.col("gn"), 9)
    gsd = F.round(
        F.sqrt(
            F.greatest(
                F.col("gss") / F.col("gn")
                - (F.col("gs") / F.col("gn")) * (F.col("gs") / F.col("gn")),
                F.lit(0.0),
            )
        ),
        9,
    )
    z = g.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n",
        F.round(
            F.coalesce(
                (mean - gmean)
                / F.nullif(
                    gsd / F.sqrt(F.col("n").cast("double")), F.lit(0.0)
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z"),
    )
    p_raw = F.round(
        F.lit(2.0) / (F.lit(1.0) + F.exp(F.lit(1.702) * F.abs(F.col("z")))), 6
    )
    wpart = Window.partitionBy(bounded_window_key(F.col("seg")))
    p = z.select(
        "seg",
        "n",
        "z",
        p_raw.alias("p_raw"),
        F.count(F.lit(1)).over(wpart).cast("double").alias("m"),
        F.row_number()
        .over(wpart.orderBy(p_raw.asc(), F.col("seg").asc_nulls_last()))
        .alias("i"),
    )
    wrev = wpart.orderBy(
        F.col("p_raw").desc(), F.col("seg").desc_nulls_last()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    adj = p.select(
        "seg",
        "n",
        "z",
        "p_raw",
        F.round(
            F.least(
                F.lit(1.0),
                F.min(F.col("m") * F.col("p_raw") / F.col("i")).over(wrev),
            ),
            6,
        ).alias("p_bh"),
    )
    return adj.select(
        "seg",
        "n",
        "z",
        "p_raw",
        "p_bh",
        (F.col("p_bh") <= F.lit(_BH_ALPHA)).alias("rejected"),
    ).orderBy("seg")


def _dsum_n(col, scale: int) -> Column:
    """Exact decimal sum rounded at `scale` — only for sums whose
    magnitude × 10^scale provably stays under 2^53 (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)), scale).cast("double")


def _dsum_n_sql(expr: str, scale: int) -> str:
    return (
        f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,10))), {scale})"
        " AS DOUBLE)"
    )


# ---------------------------------------------------------------------------
# q_fisher_method — combine per-segment p-values within each event type
# ---------------------------------------------------------------------------

# ln() floor: a 6 dp-rounded p can round to exactly 0.0 for |z| ≳ 8.5;
# DuckDB ln(0) is -inf while Spark log(0) is NULL — clamp identically.
_P_FLOOR = 1e-09


@query(
    "q_fisher_method",
    oracle=f"""
    WITH seg AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS INTEGER) AS seg, value
        FROM events
    ),
    tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS gn,
               {dsum_sql('value')} AS gs,
               {dsum_sql('value * value')} AS gss
        FROM seg GROUP BY event_type
    ),
    g AS (
        SELECT event_type, seg,
               CAST(COUNT(*) AS BIGINT) AS n, {dsum_sql('value')} AS s
        FROM seg GROUP BY event_type, seg
    ),
    z AS (
        SELECT g.event_type,
               round(COALESCE(
                   (round(s / n, 9) - round(gs / gn, 9))
                   / NULLIF(round(sqrt(GREATEST(
                                gss / gn - (gs / gn) * (gs / gn), 0.0)), 9)
                            / sqrt(CAST(n AS DOUBLE)), 0.0),
                   0.0), 6) AS z
        FROM g JOIN tot ON tot.event_type = g.event_type
    ),
    terms AS (
        SELECT event_type,
               round(ln(GREATEST(
                   round(2.0 / (1.0 + exp(1.702 * abs(z))), 6),
                   {_P_FLOOR!r})), 9) AS term
        FROM z
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_tests,
           round(-2.0 * {_dsum_n_sql('term', 6)}, 6) AS x_stat,
           CAST(2 * COUNT(*) AS BIGINT) AS df
    FROM terms GROUP BY event_type ORDER BY event_type
    """,
    tags=("stats", "multiple-testing"),
)
def q_fisher_method(spark: SparkSession, d: str):
    """Fisher's combined-probability method: within each event type,
    combine the per-segment p-values (same logistic-tail z screen as
    q_bh_fdr, but centered on the event type's own mean) into one
    X = −2·Σ ln p statistic with 2k degrees of freedom — the meta-test
    for "is there ANY segment effect in this stream", complementary to
    BH's per-segment verdicts.

    Scale shape: one map-side-combined aggregation to |types|×|segments|
    cells, a broadcast of the |types|-row moment table onto it, then a
    second aggregation down to |types| rows. No windows, no shuffles
    beyond the two group-bys. ln terms are 9 dp-rounded and decimal-
    summed (|term| ≤ 20.7, bounded — scale-6 sum stays exact)."""
    return fisher_method_stat(load_table(spark, d, "events"))


def fisher_method_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    seg = e.select(
        "event_type",
        F.get_json_object("props", "$.k").cast("int").alias("seg"),
        "value",
    )
    tot = seg.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("gn"),
        dsum("value").alias("gs"),
        dsum(F.col("value") * F.col("value")).alias("gss"),
    )
    g = seg.groupBy("event_type", "seg").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("s")
    )
    mean = F.round(F.col("s") / F.col("n"), 9)
    gmean = F.round(F.col("gs") / F.col("gn"), 9)
    gsd = F.round(
        F.sqrt(
            F.greatest(
                F.col("gss") / F.col("gn")
                - (F.col("gs") / F.col("gn")) * (F.col("gs") / F.col("gn")),
                F.lit(0.0),
            )
        ),
        9,
    )
    z = g.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.round(
            F.coalesce(
                (mean - gmean)
                / F.nullif(
                    gsd / F.sqrt(F.col("n").cast("double")), F.lit(0.0)
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z"),
    )
    p = F.round(
        F.lit(2.0) / (F.lit(1.0) + F.exp(F.lit(1.702) * F.abs(F.col("z")))), 6
    )
    terms = z.select(
        "event_type",
        F.round(F.log(F.greatest(p, F.lit(_P_FLOOR))), 9).alias("term"),
    )
    return (
        terms.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_tests"),
            F.round(F.lit(-2.0) * _dsum_n("term", 6), 6).alias("x_stat"),
            (F.lit(2) * F.count(F.lit(1))).cast("bigint").alias("df"),
        )
        .select("event_type", "n_tests", "x_stat", "df")
        .orderBy("event_type")
    )


_Z95 = 1.959964  # two-sided 95% normal quantile (shared literal)


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


_MC_BIN = 10.0  # events.value bin width for the order-stat refine


@query(
    "q_median_ci",
    oracle=f"""
    WITH v AS (SELECT value AS x, event_id FROM events),
    tot AS (SELECT COUNT(*) AS n FROM v),
    targets AS (
        -- ranks clamped to [1, n]: the conservative CI at tiny n,
        -- and the median rank in INTEGER arithmetic ((n+1)//2 —
        -- float division would round half-to-even at n ≡ 2 mod 4)
        SELECT which, GREATEST(1, LEAST(n, r)) AS r FROM (
            SELECT 'ci_lo' AS which,
                   CAST(floor((n - 1.959964 * sqrt(n)) / 2) AS BIGINT) AS r,
                   n FROM tot
            UNION ALL
            SELECT 'median', (n + 1) // 2, n FROM tot
            UNION ALL
            SELECT 'ci_hi',
                   CAST(ceil(1 + (n + 1.959964 * sqrt(n)) / 2) AS BIGINT),
                   n FROM tot
        )
    ),
    binc AS (
        SELECT CAST(floor(x / {_MC_BIN}) AS BIGINT) AS bin, COUNT(*) AS bc
        FROM v GROUP BY 1
    ),
    bins AS (
        SELECT bin, bc,
               SUM(bc) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM binc
    ),
    tb AS (
        SELECT t.which, t.r, MIN(b.bin) AS tbin
        FROM targets t JOIN bins b ON b.cum >= t.r
        GROUP BY t.which, t.r
    ),
    tbp AS (
        SELECT tb.which, tb.r, tb.tbin, b.cum - b.bc AS prior
        FROM tb JOIN bins b ON b.bin = tb.tbin
    ),
    refine AS (
        SELECT t.which, t.r, t.prior, v.x,
               ROW_NUMBER() OVER (PARTITION BY t.which
                                  ORDER BY v.x, v.event_id) AS rn
        FROM tbp t
        JOIN v ON CAST(floor(v.x / {_MC_BIN}) AS BIGINT) = t.tbin
    )
    SELECT MAX(CASE WHEN which = 'median' THEN x END) AS median,
           MAX(CASE WHEN which = 'ci_lo' THEN x END) AS ci_lo,
           MAX(CASE WHEN which = 'ci_hi' THEN x END) AS ci_hi,
           CAST(MAX(tot.n) AS BIGINT) AS n
    FROM refine, tot
    WHERE prior + rn = r
    """,
    tags=("stats", "order-statistics", "scale"),
)
def q_median_ci(spark: SparkSession, d: str):
    """Median with a distribution-free 95% confidence interval from
    order statistics: the CI endpoints are the values at ranks
    ⌊(n − 1.96√n)/2⌋ and ⌈1 + (n + 1.96√n)/2⌉ (binomial argument — no
    normality assumption), the median at rank (n+1)÷2. The uncertainty
    primitive for robust location estimates at corpus scale.

    Selection generalizes q_weighted_median's bin-then-refine to
    ARBITRARY target ranks: bin counts give a bounded CDF (one window
    over the bins table), each target rank maps to one bin, and only
    those bins' rows are re-scanned with the prior count carried in —
    a rank window PARTITIONED per target over one bin's rows. Three
    order statistics cost one extra bounded join, not three sorts; no
    global total order is ever materialised. The z constant 1.959964
    is a shared decimal literal (the ALIGNMENT.md transcendental
    rule)."""
    return median_ci_report(load_table(spark, d, "events"))


def median_ci_report(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    v = ev.select(F.col("value").alias("x"), "event_id")
    tot = v.agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    # ranks clamped to [1, n] (conservative CI at tiny n); median rank
    # floored to match the oracle's integer (n+1)//2 — a bare double
    # division differs at n ≡ 2 (mod 4) (cast-truncate vs half-even)
    targets = (
        tot.select(
            F.lit("ci_lo").alias("which"),
            F.floor((nd - 1.959964 * F.sqrt(nd)) / 2).cast("bigint").alias("r"),
            "n",
        )
        .unionAll(
            tot.select(
                F.lit("median").alias("which"),
                F.floor((F.col("n") + 1) / 2).cast("bigint").alias("r"),
                "n",
            )
        )
        .unionAll(
            tot.select(
                F.lit("ci_hi").alias("which"),
                F.ceil(1 + (nd + 1.959964 * F.sqrt(nd)) / 2).cast("bigint").alias("r"),
                "n",
            )
        )
        .select(
            "which",
            F.greatest(
                F.lit(1).cast("bigint"), F.least(F.col("n"), F.col("r"))
            ).alias("r"),
        )
    )
    binc = (
        v.select(F.floor(F.col("x") / _MC_BIN).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("bc"))
    )
    # literal key: bins-sized frame, one-partition window intended
    wb = Window.partitionBy(bounded_window_key("bin")).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bins = binc.withColumn("cum", F.sum("bc").over(wb))
    tb = (
        targets.join(F.broadcast(bins), F.col("cum") >= F.col("r"))
        .groupBy("which", "r")
        .agg(F.min("bin").alias("tbin"))
    )
    tbp = tb.join(
        F.broadcast(bins), F.col("bin") == F.col("tbin")
    ).select("which", "r", "tbin", (F.col("cum") - F.col("bc")).alias("prior"))
    refine = v.withColumn("vbin", F.floor(F.col("x") / _MC_BIN)).join(
        F.broadcast(tbp), F.col("vbin") == F.col("tbin")
    )
    wr = Window.partitionBy("which").orderBy("x", "event_id")
    hit = (
        refine.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("prior") + F.col("rn") == F.col("r"))
        .select("which", "x")
    )
    return hit.crossJoin(F.broadcast(tot)).agg(
        F.max(F.when(F.col("which") == "median", F.col("x"))).alias("median"),
        F.max(F.when(F.col("which") == "ci_lo", F.col("x"))).alias("ci_lo"),
        F.max(F.when(F.col("which") == "ci_hi", F.col("x"))).alias("ci_hi"),
        F.max("n").cast("bigint").alias("n"),
    )


_CD_A = "click"
_CD_B = "purchase"


@query(
    "q_cohens_d",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS cnt,
               {dsum_sql('value')} AS s,
               {dsum_sql('value * value')} AS ss
        FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
        GROUP BY event_type
    ),
    ab AS (
        SELECT
            MAX(CASE WHEN event_type = '{_CD_A}' THEN cnt END) AS na,
            MAX(CASE WHEN event_type = '{_CD_A}' THEN s END) AS sa,
            MAX(CASE WHEN event_type = '{_CD_A}' THEN ss END) AS ssa,
            MAX(CASE WHEN event_type = '{_CD_B}' THEN cnt END) AS nb,
            MAX(CASE WHEN event_type = '{_CD_B}' THEN s END) AS sb,
            MAX(CASE WHEN event_type = '{_CD_B}' THEN ss END) AS ssb
        FROM g
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(sa / na - sb / nb, 6) AS mean_diff,
           round((sa / na - sb / nb)
                 / NULLIF(sqrt(((ssa - sa * sa / na) + (ssb - sb * sb / nb))
                        / (na + nb - 2)), 0.0), 6) AS cohens_d
    FROM ab
    """,
    tags=("stats", "effect-size"),
)
def q_cohens_d(spark: SparkSession, d: str):
    """Cohen's d standardized effect size between click and purchase
    values: mean difference over the pooled standard deviation — the
    practical-significance companion every hypothesis test in the
    engine (q_welch_ttest, q_mann_whitney, q_ab_test) should be read
    with (a tiny p-value with d ≈ 0 is noise at corpus scale).

    One filtered map-side-combined aggregation to two moment rows,
    pivoted to a single row; everything after is scalar arithmetic
    written in identical operation order on both engines."""
    return cohens_d_stat(load_table(spark, d, "events"))


def cohens_d_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events.filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ss"),
    )
    ab = g.agg(
        F.max(F.when(F.col("event_type") == _CD_A, F.col("cnt"))).alias("na"),
        F.max(F.when(F.col("event_type") == _CD_A, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("event_type") == _CD_A, F.col("ss"))).alias("ssa"),
        F.max(F.when(F.col("event_type") == _CD_B, F.col("cnt"))).alias("nb"),
        F.max(F.when(F.col("event_type") == _CD_B, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("event_type") == _CD_B, F.col("ss"))).alias("ssb"),
    )
    na, sa, ssa = F.col("na"), F.col("sa"), F.col("ssa")
    nb, sb, ssb = F.col("nb"), F.col("sb"), F.col("ssb")
    diff = sa / na - sb / nb
    pooled = F.sqrt(
        ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) / (na + nb - 2)
    )
    return ab.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(diff, 6).alias("mean_diff"),
        # NULLIF: zero pooled sd (two degenerate samples) must yield
        # NULL identically on both engines, not an engine-specific
        # division-by-zero artifact
        F.round(diff / F.nullif(pooled, F.lit(0.0)), 6).alias("cohens_d"),
    )


# Cramér's V value-bucket width (same grid family as q_chi2).
_CV_BIN = 50.0


@query(
    "q_cramers_v",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS t,
               CAST(FLOOR(value / {_CV_BIN}) AS BIGINT) AS b,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT t, SUM(o) AS rt FROM cells GROUP BY t),
    cm AS (SELECT b, SUM(o) AS ct FROM cells GROUP BY b),
    n AS (SELECT CAST(SUM(o) AS DOUBLE) AS n,
                 CAST((SELECT COUNT(*) FROM rm) AS DOUBLE) AS r,
                 CAST((SELECT COUNT(*) FROM cm) AS DOUBLE) AS c
          FROM cells),
    terms AS (
        SELECT n.n, n.r, n.c,
               round((CAST(cl.o AS DOUBLE) - rm.rt * cm.ct / n.n)
                     * (CAST(cl.o AS DOUBLE) - rm.rt * cm.ct / n.n)
                     / (rm.rt * cm.ct / n.n), 9) AS term,
               round(rm.rt * cm.ct / n.n, 9) AS e
        FROM cells cl
        JOIN rm ON rm.t = cl.t
        JOIN cm ON cm.b = cl.b
        CROSS JOIN n
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(r) AS BIGINT) AS r,
           CAST(MAX(c) AS BIGINT) AS c,
           round(CAST(ROUND(SUM(CAST(term AS DECIMAL(38,10))), 6) AS DOUBLE)
                 + (MAX(n)
                    - CAST(ROUND(SUM(CAST(e AS DECIMAL(38,10))), 6)
                           AS DOUBLE)), 6) AS chi2,
           round(sqrt((CAST(ROUND(SUM(CAST(term AS DECIMAL(38,10))), 6)
                            AS DOUBLE)
                       + (MAX(n)
                          - CAST(ROUND(SUM(CAST(e AS DECIMAL(38,10))), 6)
                                 AS DOUBLE)))
                      / NULLIF(MAX(n) * LEAST(MAX(r) - 1, MAX(c) - 1), 0.0)),
                 6) AS cramers_v
    FROM terms
    """,
    tags=("stats", "association"),
)
def q_cramers_v(spark: SparkSession, d: str):
    """Cramér's V association strength between event type and value
    bucket — the normalized (0‥1) effect size on top of the chi²
    machinery (q_chi2 reports the test statistic; V answers "how
    strongly are they related", comparable across grids of different
    shape).

    Empty contingency cells contribute (0−e)²/e = e, so
    χ² = Σ_observed (o−e)²/e + (n − Σ_observed e) — the observed-cells
    sum plus a closed-form correction, never a grid rebuild. One
    grid-keyed aggregate, marginals joined back on the bounded cell
    table, 9 dp-rounded terms, exact decimal sums."""
    return cramers_v_stat(load_table(spark, d, "events"))


def cramers_v_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    cells = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") / _CV_BIN).cast("bigint").alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rm = cells.groupBy("t").agg(F.sum("o").alias("rt"))
    cm = cells.groupBy("b").agg(F.sum("o").alias("ct"))
    n = cells.agg(
        F.sum("o").cast("double").alias("n"),
    ).crossJoin(
        F.broadcast(rm.agg(F.count(F.lit(1)).cast("double").alias("r")))
    ).crossJoin(
        F.broadcast(cm.agg(F.count(F.lit(1)).cast("double").alias("c")))
    )
    ex = F.col("rt") * F.col("ct") / F.col("n")
    terms = (
        cells.join(F.broadcast(rm), "t")
        .join(F.broadcast(cm), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            "r",
            "c",
            F.round(
                (F.col("o").cast("double") - ex)
                * (F.col("o").cast("double") - ex)
                / ex,
                9,
            ).alias("term"),
            F.round(ex, 9).alias("e"),
        )
    )
    tsum = F.round(F.sum(F.col("term").cast(DEC)), 6).cast("double")
    esum = F.round(F.sum(F.col("e").cast(DEC)), 6).cast("double")
    chi2 = tsum + (F.max("n") - esum)
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("r").cast("bigint").alias("r"),
        F.max("c").cast("bigint").alias("c"),
        F.round(chi2, 6).alias("chi2"),
        # NULLIF: a 1xc or rx1 grid has zero degrees of freedom — V is
        # undefined (NULL on both engines), not a div-by-zero artifact
        F.round(
            F.sqrt(
                chi2
                / F.nullif(
                    F.max("n") * F.least(F.max("r") - 1, F.max("c") - 1),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


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


# Spearman: coarse value bins for the two-level stitched rank
# computation, one width per variable (quantity is near-integral,
# price spans ~1e5).
_SP_QBIN = 5.0
_SP_PBIN = 2000.0


def _rank_sql(col: str, bin_w: float, tag: str) -> str:
    """DuckDB CTEs computing ar2 = 2·(average pooled rank) per distinct
    value of ``col`` with the bin-stitched prefix (no global sort)."""
    return f"""
    vals_{tag} AS (
        SELECT {col} AS v, CAST(floor({col} / {bin_w}) AS BIGINT) AS bin,
               COUNT(*) AS t
        FROM lineitem GROUP BY {col}
    ),
    bins_{tag} AS (SELECT bin, SUM(t) AS bt FROM vals_{tag} GROUP BY bin),
    binp_{tag} AS (
        SELECT bin,
               COALESCE(SUM(bt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        FROM bins_{tag}
    ),
    rank_{tag} AS (
        SELECT v.v,
               2 * (p.prior + COALESCE(SUM(v.t) OVER (PARTITION BY v.bin
                        ORDER BY v.v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               + v.t + 1 AS ar2
        FROM vals_{tag} v JOIN binp_{tag} p USING (bin)
    )"""


@query(
    "q_spearman",
    oracle=f"""
    WITH {_rank_sql("l_quantity", _SP_QBIN, "q").strip()},
    {_rank_sql("l_extendedprice", _SP_PBIN, "p").strip()},
    pairs AS (
        SELECT rq.ar2 AS ra, rp.ar2 AS rb
        FROM lineitem l
        JOIN rank_q rq ON rq.v = l.l_quantity
        JOIN rank_p rp ON rp.v = l.l_extendedprice
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(ra AS DECIMAL(38,0))) AS sa,
               SUM(CAST(rb AS DECIMAL(38,0))) AS sb,
               SUM(CAST(ra AS DECIMAL(38,0)) * rb) AS sab,
               SUM(CAST(ra AS DECIMAL(38,0)) * ra) AS saa,
               SUM(CAST(rb AS DECIMAL(38,0)) * rb) AS sbb
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0.0),
                 6) AS rho
    FROM m
    """,
    tags=("stats", "correlation", "scale"),
)
def q_spearman(spark: SparkSession, d: str):
    """Spearman rank correlation between quantity and extended price
    over the full lineitem table — the monotone-association measure
    robust to outliers and nonlinearity (feature screening where
    Pearson misleads). Ties get average ranks, the exact tie-handling
    Spearman requires.

    The textbook form ranks BOTH columns globally (two total orders).
    Here each variable's average rank per distinct value comes from
    the bin-stitched two-level prefix (the q_mann_whitney machinery,
    once per variable), doubled into integers (ar2 = 2·avg rank) so
    every moment is exact; rows join their value's rank back on the
    value key, and Pearson-on-ranks is one scalar aggregate in
    DECIMAL(38,0) (the ×2 factors cancel in the correlation). Scale
    shape: two distinct-value aggregates with bounded windows, two
    value-keyed joins, one moment rollup — no global sort anywhere."""
    return spearman_report(load_table(spark, d, "lineitem"))


def spearman_report(li):
    """Composable twin entry: the exact q_spearman computation over a
    lineitem-shaped frame (tests/test_streaming.py stages lineitem as
    a file stream and recomputes this per micro-batch)."""
    return spearman_rho(
        li.select("l_quantity", "l_extendedprice"),
        "l_quantity",
        "l_extendedprice",
        _SP_QBIN,
        _SP_PBIN,
    )


def stitched_avg_ranks(df, col: str, bin_w: float):
    """(v, ar2 = 2·average pooled mid-rank) per distinct value of
    ``col`` via the two-level bin-stitched prefix — the shared rank
    kernel (the q_mann_whitney machinery); property-tested against
    brute-force pooled mid-ranks in tests/test_properties.py."""
    vals = (
        df.select(
            F.col(col).alias("v"), F.floor(F.col(col) / bin_w).alias("bin")
        )
        .groupBy("v", "bin")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    bins = vals.groupBy("bin").agg(F.sum("t").alias("bt"))
    # literal key: bins-sized frame, one-partition window intended
    wb = Window.partitionBy(bounded_window_key("bin")).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binp = bins.select(
        "bin", F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("prior")
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return vals.join(F.broadcast(binp), "bin").select(
        "v",
        (
            2
            * (F.col("prior") + F.coalesce(F.sum("t").over(wv), F.lit(0)))
            + F.col("t")
            + 1
        ).alias("ar2"),
    )


def spearman_rho(li, col_a: str, col_b: str, bin_a: float, bin_b: float):
    """Composable Spearman over any two numeric columns of ``li`` —
    also the property-test entry point (brute-force pooled ranks,
    tests/test_properties.py)."""
    rq = stitched_avg_ranks(li, col_a, bin_a).withColumnRenamed("ar2", "ra")
    rp = stitched_avg_ranks(li, col_b, bin_b).withColumnRenamed("ar2", "rb")
    pairs = li.join(
        F.broadcast(rq), li[col_a] == rq.v
    ).join(rp, li[col_b] == rp.v).select("ra", "rb")
    D = "decimal(38,0)"
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ra").cast(D)).alias("sa"),
        F.sum(F.col("rb").cast(D)).alias("sb"),
        F.sum(F.col("ra").cast(D) * F.col("rb")).alias("sab"),
        F.sum(F.col("ra").cast(D) * F.col("ra")).alias("saa"),
        F.sum(F.col("rb").cast(D) * F.col("rb")).alias("sbb"),
    )
    nd = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        # NULLIF: a single-valued column has zero rank variance — rho
        # is undefined (NULL both engines), never an ANSI abort
        F.round(
            (nd * sab - sa * sb)
            / F.nullif(
                F.sqrt((nd * saa - sa * sa) * (nd * sbb - sb * sb)),
                F.lit(0.0),
            ),
            6,
        ).alias("rho"),
    )


@query(
    "q_kendall_grid",
    oracle="""
    WITH grid AS (
        SELECT l_quantity AS q, l_discount AS dd, COUNT(*) AS c
        FROM lineitem GROUP BY l_quantity, l_discount
    ),
    tx AS (SELECT q, SUM(c) AS cx FROM grid GROUP BY q),
    ty AS (SELECT dd, SUM(c) AS cy FROM grid GROUP BY dd),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) * (CAST(SUM(c) AS BIGINT) - 1) / 2 AS n0
        FROM grid
    ),
    t1 AS (SELECT CAST(SUM(cx * (cx - 1) / 2) AS BIGINT) AS n1 FROM tx),
    t2 AS (SELECT CAST(SUM(cy * (cy - 1) / 2) AS BIGINT) AS n2 FROM ty),
    cd AS (
        SELECT
            CAST(COALESCE(SUM(CASE WHEN a.dd < b.dd THEN a.c * b.c END), 0)
                AS BIGINT) AS conc,
            CAST(COALESCE(SUM(CASE WHEN a.dd > b.dd THEN a.c * b.c END), 0)
                AS BIGINT) AS disc
        FROM grid a JOIN grid b ON a.q < b.q
    )
    SELECT tot.n,
           cd.conc AS concordant,
           cd.disc AS discordant,
           round(CAST(cd.conc - cd.disc AS DOUBLE)
                 / NULLIF(sqrt(CAST(tot.n0 - t1.n1 AS DOUBLE)
                        * CAST(tot.n0 - t2.n2 AS DOUBLE)), 0.0), 6) AS tau_b
    FROM tot, t1, t2, cd
    """,
    tags=("stats", "correlation", "scale"),
)
def q_kendall_grid(spark: SparkSession, d: str):
    """Kendall's tau-b rank correlation of quantity vs discount,
    computed ENTIRELY from the joint frequency grid — the robust,
    outlier-immune complement of q_spearman for discrete-domain pairs.

    The textbook form compares all n² row pairs. Both columns have
    bounded value domains (quantity ≤ 50 distinct, discount ≤ 11), so
    the corpus reduces to a ≤550-cell grid in ONE map-side-combined
    aggregation; concordant/discordant pair mass then comes from a
    grid×grid nested-loop join (cells², corpus-size-independent,
    broadcast — never a row-pair join), and tie corrections from the
    two marginal tables. All counts are exact integers; the only
    doubles are the final ratio's operands, cast in the same order on
    both engines. Long arithmetic bounds the exact path to n ≲ 4·10⁹
    rows (n₀ fits int64); past that the grid counts would move to the
    hi/lo split of q_pca_power."""
    li = load_table(spark, d, "lineitem")
    grid = (
        li.groupBy(F.col("l_quantity").alias("q"), F.col("l_discount").alias("dd"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tx = grid.groupBy("q").agg(F.sum("c").alias("cx"))
    ty = grid.groupBy("dd").agg(F.sum("c").alias("cy"))
    tot = grid.agg(
        F.sum("c").cast("bigint").alias("n"),
        (F.sum("c").cast("bigint") * (F.sum("c").cast("bigint") - 1) / 2)
        .cast("bigint")
        .alias("n0"),
    )
    t1 = tx.agg(
        F.sum((F.col("cx") * (F.col("cx") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n1")
    )
    t2 = ty.agg(
        F.sum((F.col("cy") * (F.col("cy") - 1) / 2).cast("bigint"))
        .cast("bigint")
        .alias("n2")
    )
    a = grid.select(
        F.col("q").alias("qa"), F.col("dd").alias("da"), F.col("c").alias("ca")
    )
    b = grid.select(
        F.col("q").alias("qb"), F.col("dd").alias("db"), F.col("c").alias("cb")
    )
    cd = (
        a.join(F.broadcast(b), F.col("qa") < F.col("qb"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(F.col("da") < F.col("db"), F.col("ca") * F.col("cb"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("conc"),
            F.coalesce(
                F.sum(
                    F.when(F.col("da") > F.col("db"), F.col("ca") * F.col("cb"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("disc"),
        )
    )
    return (
        tot.crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .crossJoin(F.broadcast(cd))
        .select(
            "n",
            F.col("conc").alias("concordant"),
            F.col("disc").alias("discordant"),
            # NULLIF: a single-valued column has zero untied pairs —
            # tau is undefined (NULL both engines), not a div-by-zero
            F.round(
                (F.col("conc") - F.col("disc")).cast("double")
                / F.nullif(
                    F.sqrt(
                        (F.col("n0") - F.col("n1")).cast("double")
                        * (F.col("n0") - F.col("n2")).cast("double")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("tau_b"),
        )
    )


_JK_BUCKETS = 20


@query(
    "q_jackknife",
    oracle=f"""
    WITH bucketed AS (
        SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 2))
                    AS BIGINT) % {_JK_BUCKETS} AS g,
               value
        FROM events
    ),
    per_bucket AS (
        SELECT g, COUNT(*) AS n_g,
               SUM(CAST(value AS DECIMAL(38,10))) AS s_g
        FROM bucketed GROUP BY g
    ),
    tot AS (
        SELECT SUM(n_g) AS n, SUM(s_g) AS s,
               COUNT(*) AS k
        FROM per_bucket
    ),
    reps AS (
        SELECT p.g,
               (CAST(t.s - p.s_g AS DOUBLE)) / (t.n - p.n_g) AS theta_i,
               t.n, t.s, t.k
        FROM per_bucket p, tot t
    ),
    jack AS (
        SELECT MAX(n) AS n, MAX(k) AS k,
               CAST(MAX(s) AS DOUBLE) / MAX(n) AS theta,
               SUM(CAST(theta_i AS DECIMAL(38,10))) AS sum_t,
               SUM(CAST(theta_i * theta_i AS DECIMAL(38,10))) AS sum_t2
        FROM reps
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           round(theta, 6) AS mean_value,
           round(sqrt((CAST(k AS DOUBLE) - 1) / k
                      * (CAST(sum_t2 AS DOUBLE)
                         - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / k)),
                 6) AS jk_se,
           round(theta - 1.96 * sqrt((CAST(k AS DOUBLE) - 1) / k
                      * (CAST(sum_t2 AS DOUBLE)
                         - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / k)),
                 6) AS ci_lo,
           round(theta + 1.96 * sqrt((CAST(k AS DOUBLE) - 1) / k
                      * (CAST(sum_t2 AS DOUBLE)
                         - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE) / k)),
                 6) AS ci_hi
    FROM jack
    """,
    tags=("stats", "resampling", "scale"),
)
def q_jackknife(spark: SparkSession, d: str):
    """Delete-one-bucket (delete-d) jackknife confidence interval for
    the mean event value: hash events into 20 deterministic md5
    buckets, form the 20 leave-one-bucket-out means from the bucket
    (n, Σ) moments alone, and take the jackknife standard error — the
    resampling scheme that actually works at 100 TB, because unlike
    the bootstrap it needs NO per-replicate pass over the data: one
    bucket-keyed aggregate and a k-row replicate table.

    Every replicate mean θ_i = (S − s_i)/(N − n_i) derives from exact
    decimal totals; the SE/CI formulas run on identical doubles on
    both engines. The md5 bucketing is the same portable hash used by
    the sketches (operators/engine.py), so buckets are reproducible
    cross-engine and cross-run."""
    ev = load_table(spark, d, "events")
    bucketed = ev.select(
        (md5_int(F.col("event_id").cast("string"), 2) % _JK_BUCKETS).alias("g"),
        "value",
    )
    per_bucket = bucketed.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_g"),
        F.sum(F.col("value").cast(DEC)).alias("s_g"),
    )
    tot = per_bucket.agg(
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
        F.count(F.lit(1)).alias("k"),
    )
    reps = per_bucket.crossJoin(F.broadcast(tot)).select(
        ((F.col("s") - F.col("s_g")).cast("double") / (F.col("n") - F.col("n_g"))).alias(
            "theta_i"
        ),
        "n",
        "s",
        "k",
    )
    jack = reps.agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        (F.max("s").cast("double") / F.max("n")).alias("theta"),
        F.sum(F.col("theta_i").cast(DEC)).alias("sum_t"),
        F.sum((F.col("theta_i") * F.col("theta_i")).cast(DEC)).alias("sum_t2"),
    )
    kd = F.col("k").cast("double")
    se = F.sqrt(
        (kd - 1)
        / kd
        * (
            F.col("sum_t2").cast("double")
            - F.col("sum_t").cast("double") * F.col("sum_t").cast("double") / kd
        )
    )
    return jack.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        F.round(F.col("theta"), 6).alias("mean_value"),
        F.round(se, 6).alias("jk_se"),
        F.round(F.col("theta") - 1.96 * se, 6).alias("ci_lo"),
        F.round(F.col("theta") + 1.96 * se, 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# q_bootstrap_poisson — single-pass Poisson bootstrap CI for group means
# ---------------------------------------------------------------------------

_B_REPS = 32
# Cumulative Poisson(1) CDF at k = 0..6: P(X ≤ k) = e⁻¹·Σ 1/j!.
# Identical literals are injected into both engines' expressions.
_POIS_CDF = tuple(
    sum(math.exp(-1) / math.factorial(j) for j in range(k + 1))
    for k in range(7)
)


def _pois_w_sql(u: str) -> str:
    clauses = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"CASE {clauses} ELSE {len(_POIS_CDF)} END"


def _pois_w_col(u: Column) -> Column:
    expr = F.when(u < F.lit(_POIS_CDF[0]), F.lit(0))
    for k, c in enumerate(_POIS_CDF[1:], start=1):
        expr = expr.when(u < F.lit(c), F.lit(k))
    return expr.otherwise(F.lit(len(_POIS_CDF)))


@query(
    "q_bootstrap_poisson",
    oracle=f"""
    WITH rep AS (
        SELECT e.event_type, e.value, t.r,
               {_pois_w_sql(u01_sql(
                   "CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)"
               ))} AS w
        FROM events e, range(0, {_B_REPS}) t(r)
    ),
    means AS (
        SELECT event_type,
               round({_dsum_n_sql('w * value', 6)}
                     / NULLIF(CAST(SUM(w) AS DOUBLE), 0.0), 9) AS mean_r
        FROM rep GROUP BY event_type, r
    ),
    agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS b_replicates,
               {_dsum_n_sql('mean_r', 6)} AS sm,
               {_dsum_n_sql('mean_r * mean_r', 6)} AS ssm
        FROM means WHERE mean_r IS NOT NULL GROUP BY event_type
    ),
    fin AS (
        SELECT event_type, b_replicates,
               round(sm / b_replicates, 6) AS boot_mean,
               round(sqrt(GREATEST(COALESCE(
                   (ssm - sm * sm / b_replicates)
                   / NULLIF(CAST(b_replicates AS DOUBLE) - 1.0, 0.0),
                   0.0), 0.0)), 6) AS boot_se
        FROM agg
    )
    SELECT event_type, b_replicates, boot_mean, boot_se,
           round(boot_mean - 1.96 * boot_se, 6) AS ci_lo,
           round(boot_mean + 1.96 * boot_se, 6) AS ci_hi
    FROM fin ORDER BY event_type
    """,
    tags=("stats", "resampling"),
)
def q_bootstrap_poisson(spark: SparkSession, d: str):
    """Poisson bootstrap of each event type's mean(value): every row
    contributes a deterministic Poisson(1) weight to each of B=32
    replicates (md5-keyed inverse-CDF draw on event_id:replicate), and
    the spread of the replicate means gives the normal-interval
    standard error and 95% CI. This is THE bootstrap that works at
    100 TB: classical resampling needs B shuffled copies of the data,
    while the Poisson approximation needs ONE pass — weights are
    generated inline per (row, replicate), map-side combine reduces
    each task's contribution to |types|×B partial rows, and the only
    shuffle carries |types|×B sufficient statistics. Ties to
    q_jackknife / q_median_ci as the third resampling primitive.

    Exactness: Poisson(1) CDF constants are module literals injected
    into both engines' CASE ladders; replicate means are 9 dp-rounded
    quotients of scale-6 decimal sums (bounded magnitudes — see module
    doc), and the replicate-variance algebra (ssm − sm²/B)/(B−1) is
    written with identical operation order on both sides. COALESCE
    before GREATEST keeps the degenerate B=1 case (a 1-row group where
    most replicates draw weight 0 and are dropped) at se=0 on both
    engines rather than relying on engine-specific NULL handling in
    GREATEST."""
    return bootstrap_poisson_table(
        spread_scan(load_table(spark, d, "events"), "event_id")
    )


def bootstrap_poisson_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events.select(
        "event_type", "event_id", "value"
    )
    rep = e.withColumn(
        "r", F.explode(F.sequence(F.lit(0), F.lit(_B_REPS - 1)))
    )
    u = u01(
        F.concat(
            F.col("event_id").cast("string"),
            F.lit(":"),
            F.col("r").cast("string"),
        )
    )
    rep = rep.select(
        "event_type", "value", "r", _pois_w_col(u).alias("w")
    )
    means = (
        rep.groupBy("event_type", "r")
        .agg(
            _dsum_n(F.col("w") * F.col("value"), 6).alias("swx"),
            F.sum("w").alias("sw"),
        )
        .select(
            "event_type",
            F.round(
                F.col("swx")
                / F.nullif(F.col("sw").cast("double"), F.lit(0.0)),
                9,
            ).alias("mean_r"),
        )
    )
    agg = (
        means.filter(F.col("mean_r").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("b_replicates"),
            _dsum_n("mean_r", 6).alias("sm"),
            _dsum_n(F.col("mean_r") * F.col("mean_r"), 6).alias("ssm"),
        )
    )
    var = (
        F.col("ssm") - F.col("sm") * F.col("sm") / F.col("b_replicates")
    ) / F.nullif(F.col("b_replicates").cast("double") - F.lit(1.0), F.lit(0.0))
    fin = agg.select(
        "event_type",
        "b_replicates",
        F.round(F.col("sm") / F.col("b_replicates"), 6).alias("boot_mean"),
        F.round(
            F.sqrt(F.greatest(F.coalesce(var, F.lit(0.0)), F.lit(0.0))), 6
        ).alias("boot_se"),
    )
    return fin.select(
        "event_type",
        "b_replicates",
        "boot_mean",
        "boot_se",
        F.round(
            F.col("boot_mean") - F.lit(1.96) * F.col("boot_se"), 6
        ).alias("ci_lo"),
        F.round(
            F.col("boot_mean") + F.lit(1.96) * F.col("boot_se"), 6
        ).alias("ci_hi"),
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


@query(
    "q_grubbs",
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
    dev AS (
        SELECT d.day, d.s,
               round(abs(d.s - st.gs / st.nd), 6) AS adev,
               st.nd, st.gs, st.ssq
        FROM daily d, st
    ),
    pick AS (
        SELECT * FROM dev ORDER BY adev DESC, day ASC LIMIT 1
    )
    SELECT CAST(nd AS BIGINT) AS n_days,
           strftime(day, '%Y-%m-%d') AS peak_day,
           s AS peak_value,
           round(adev / NULLIF(sqrt((ssq - gs * gs / nd)
                                    / NULLIF(nd - 1, 0.0)), 0.0), 6) AS g_stat
    FROM pick
    """,
    tags=("stats", "outlier"),
)
def q_grubbs(spark: SparkSession, d: str):
    """Grubbs outlier statistic for the daily revenue series:
    G = max|x − mean| / sd with the offending day — the single-worst-
    point test that complements the per-row MAD gate (q_anomaly_mad)
    with a series-level answer to "is the worst day abnormal?".

    One aggregation reduces the corpus to the calendar-bounded daily
    table; moments and the argmax run on that bounded series (the
    argmax is a min-of-struct with (−|dev|, day) ordering — exactly
    the oracle's ORDER BY adev DESC, day ASC). |dev| is rounded 6 dp
    BEFORE the comparison so float noise cannot flip the chosen day."""
    return grubbs_report(load_table(spark, d, "orders"))


def grubbs_report(orders):
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
    dev = daily.crossJoin(F.broadcast(st)).select(
        "day",
        "s",
        F.round(F.abs(F.col("s") - F.col("gs") / F.col("nd")), 6).alias("adev"),
        "nd",
        "gs",
        "ssq",
    )
    picked = dev.agg(
        F.min(
            F.struct(
                (-F.col("adev")).alias("na"),
                F.col("day").alias("day"),
                F.col("s").alias("s"),
                F.col("adev").alias("adev"),
                F.col("nd").alias("nd"),
                F.col("gs").alias("gs"),
                F.col("ssq").alias("ssq"),
            )
        ).alias("p")
    )
    # NULLIF twice: a one-day series has no sample sd, a constant
    # series has sd 0 — G is undefined (NULL) identically on both
    # engines (Spark runs ANSI: an unguarded /0 would THROW)
    sd = F.sqrt(
        (F.col("p.ssq") - F.col("p.gs") * F.col("p.gs") / F.col("p.nd"))
        / F.nullif(F.col("p.nd") - 1, F.lit(0.0))
    )
    return picked.select(
        F.col("p.nd").cast("bigint").alias("n_days"),
        F.date_format("p.day", "yyyy-MM-dd").alias("peak_day"),
        F.col("p.s").alias("peak_value"),
        F.round(
            F.col("p.adev") / F.nullif(sd, F.lit(0.0)), 6
        ).alias("g_stat"),
    )
