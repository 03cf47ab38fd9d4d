"""Round-4 ML-prep / analytics additions: market-basket association
rules, winsorization, group-median null imputation, deterministic
weighted sampling (A-ES), Kaplan-Meier survival curves, and int8
embedding quantization with error accounting.

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
    "q_assoc_rules",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM baskets),
    item AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_item
        FROM baskets GROUP BY event_type
    ),
    pair AS (
        SELECT a.event_type AS x, b.event_type AS y,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM baskets a
        JOIN baskets b ON a.user_id = b.user_id
                      AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    ),
    directed AS (
        SELECT x AS antecedent, y AS consequent, n_both FROM pair
        UNION ALL
        SELECT y AS antecedent, x AS consequent, n_both FROM pair
    )
    SELECT d.antecedent, d.consequent, d.n_both,
           round(d.n_both / CAST(n.n_users AS DOUBLE), 6) AS support,
           round(d.n_both / CAST(ia.n_item AS DOUBLE), 6) AS confidence,
           round(d.n_both * CAST(n.n_users AS DOUBLE)
                 / (ia.n_item * CAST(ic.n_item AS DOUBLE)), 6) AS lift
    FROM directed d
    JOIN item ia ON ia.event_type = d.antecedent
    JOIN item ic ON ic.event_type = d.consequent
    CROSS JOIN n
    ORDER BY antecedent, consequent
    """,
    tags=("analytics", "basket"),
)
def q_assoc_rules(spark: SparkSession, d: str):
    """Market-basket association rules over per-user event-type
    baskets: support, confidence, and lift for every directed
    type-pair — the co-occurrence mining behind "users who do X also
    do Y" recommendations and behavioural segmentation.

    The fact table collapses to distinct (user, type) baskets in one
    exchange; the pair count is a user-keyed self-join of that deduped
    stream (bounded at |types|^2/2 rows PER USER — never quadratic in
    users); everything downstream (item supports, the rule table) is
    |types|^2-sized and broadcast. Metrics are ratios of exact
    integer counts — bit-identical division on both engines."""
    e = load_table(spark, d, "events")
    baskets = e.select("user_id", "event_type").distinct()
    baskets = track(baskets.persist())
    n = baskets.agg(F.countDistinct("user_id").alias("n_users"))
    item = baskets.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_item"))
    a = baskets.alias("a")
    b = baskets.select(
        F.col("user_id").alias("user_id"), F.col("event_type").alias("et_b")
    )
    pair = (
        a.join(b, "user_id")
        .filter(F.col("event_type") < F.col("et_b"))
        .groupBy(F.col("event_type").alias("x"), F.col("et_b").alias("y"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    directed = pair.select(
        F.col("x").alias("antecedent"), F.col("y").alias("consequent"), "n_both"
    ).unionAll(
        pair.select(
            F.col("y").alias("antecedent"), F.col("x").alias("consequent"), "n_both"
        )
    )
    ia = item.select(
        F.col("event_type").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ic = item.select(
        F.col("event_type").alias("consequent"), F.col("n_item").alias("n_c")
    )
    return (
        directed.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.round(
                F.col("n_both") / F.col("n_users").cast("double"), 6
            ).alias("support"),
            F.round(
                F.col("n_both") / F.col("n_a").cast("double"), 6
            ).alias("confidence"),
            F.round(
                F.col("n_both")
                * F.col("n_users").cast("double")
                / (F.col("n_a") * F.col("n_c").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


@query(
    "q_winsorize",
    oracle=f"""
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(p.p05), 6) AS p05,
           round(MIN(p.p95), 6) AS p95,
           round({dsum_sql('e.value')} / COUNT(*), 6) AS mean_raw,
           round({dsum_sql('LEAST(GREATEST(e.value, p.p05), p.p95)')}
                 / COUNT(*), 6) AS mean_winsorized
    FROM events e JOIN pct p ON p.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("stats", "cleaning"),
)
def q_winsorize(spark: SparkSession, d: str):
    """Winsorization report: per event type, clip values at the exact
    interpolated p05/p95 and compare the mean before and after — the
    standard outlier-robust preprocessing step (and a direct readout
    of how much tail mass the clip removes).

    The percentile table is one grouped aggregation to |types| rows,
    broadcast back onto the fact scan; the clipped mean is a second
    map-side-combined aggregation. Interpolated percentiles are
    engine-identical (ALIGNMENT), the clip is a pure comparison
    against that exact value, and means use the exact-decimal-sum
    contract."""
    return winsorize_table(load_table(spark, d, "events"))


def winsorize_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    pct = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("p05"), 6).alias("p05"),
            F.round(F.min("p95"), 6).alias("p95"),
            F.round(dsum("value") / F.count(F.lit(1)), 6).alias("mean_raw"),
            F.round(dsum(clipped) / F.count(F.lit(1)), 6).alias(
                "mean_winsorized"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_impute",
    oracle=f"""
    WITH holed AS (
        SELECT event_type,
               CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM holed WHERE v IS NOT NULL GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE h.v IS NULL) AS BIGINT) AS n_missing,
           round(MIN(m.med), 6) AS median_used,
           round({dsum_sql('COALESCE(h.v, m.med)')} / COUNT(*), 6)
               AS mean_imputed
    FROM holed h JOIN med m ON m.event_type = h.event_type
    GROUP BY h.event_type
    ORDER BY h.event_type
    """,
    tags=("stats", "cleaning"),
)
def q_impute(spark: SparkSession, d: str):
    """Group-median null imputation: a deterministic subset of values
    is nulled (event_id % 11 — simulating sensor dropout), each null
    is filled with its event type's exact median over the surviving
    values, and the report shows missingness and the post-imputation
    mean — the fill-before-model preprocessing pass.

    The median table is |types|-sized and broadcasts onto one fact
    scan; COALESCE applies the fill without a second pass. The
    interpolated median is engine-identical and the mean uses the
    exact-decimal contract."""
    return impute_table(load_table(spark, d, "events"))


def impute_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    holed = e.select(
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = (
        holed.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile("v", F.lit(0.5)).alias("med"))
    )
    return (
        holed.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("n_missing"),
            F.round(F.min("med"), 6).alias("median_used"),
            F.round(
                dsum(F.coalesce(F.col("v"), F.col("med")))
                / F.count(F.lit(1)),
                6,
            ).alias("mean_imputed"),
        )
        .orderBy("event_type")
    )


# 2^60 as double (see q_mix_sample): md5 60-bit prefix -> u in [0,1).
_U_DENOM = 1152921504606846976.0
_WS_K = 20  # sample size


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln(GREATEST(
                   CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS DOUBLE) / {_U_DENOM!r},
                   1e-18)) / n_chars AS k
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (ORDER BY round(k, 9) DESC, doc_id) AS rn
        FROM keyed
    )
    SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_WS_K}
    ORDER BY rn
    """,
    tags=("llm", "sampling"),
)
def q_sample_weighted(spark: SparkSession, d: str):
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each document draws u = md5-uniform
    and gets key ln(u)/weight (monotone in u^(1/w)); the top-k keys
    ARE a weighted sample — longer documents proportionally more
    likely, reproducible run-to-run, mergeable across partitions (the
    property that makes A-ES THE distributed weighted sampler).

    Ranking is on the 9dp-rounded key with doc_id tie-break
    (ALIGNMENT ranking rule — ln() is libm and may differ in the last
    ulp across engines). The md5-uniform draw itself is bit-exact.
    Selection is ORDER BY + LIMIT — Spark plans it as
    TakeOrderedAndProject (a distributed k-element heap per
    partition, k-row merge on the driver — no global sort, no
    single-partition window); the ROW_NUMBER for the rn output column
    runs AFTER the limit, over k rows only."""
    docs = load_table(spark, d, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / _U_DENOM
    )
    k = F.log(F.greatest(u, F.lit(1e-18))) / F.col("n_chars")
    keyed = docs.select(
        "doc_id", "source", "n_chars", F.round(k, 9).alias("k9")
    )
    topk = keyed.orderBy(F.col("k9").desc(), "doc_id").limit(_WS_K)
    w = Window.partitionBy(bounded_window_key("doc_id")).orderBy(
        F.col("k9").desc(), "doc_id"
    )
    return (
        topk.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "source", "n_chars", "rn")
        .orderBy("rn")
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


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, i - 1 AS dim, CAST(x AS DOUBLE) AS x
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    scales AS (
        SELECT dim, MAX(ABS(x)) / 127.0 AS scale FROM ev GROUP BY dim
    ),
    q AS (
        SELECT ev.vec_id, ev.dim, ev.x, s.scale,
               FLOOR(ev.x / s.scale + 0.5) AS qx
        FROM ev JOIN scales s ON s.dim = ev.dim
        WHERE s.scale > 0
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           round(MIN(scale), 9) AS scale,
           round({dsum_sql('ABS(x - qx * scale)')} / COUNT(*), 9)
               AS mean_abs_err,
           round(MAX(ABS(x - qx * scale)), 9) AS max_abs_err
    FROM q
    GROUP BY dim
    ORDER BY dim
    """,
    tags=("llm", "quantization"),
)
def q_embed_quantize(spark: SparkSession, d: str):
    """Symmetric int8 quantization of the embedding table with
    per-dimension error accounting: scale each dimension by
    max|x|/127, round to the nearest integer level, and report the
    mean/max reconstruction error per dimension — the precision audit
    run before shipping a quantized ANN index (4x memory saving vs
    recall risk).

    The vector stream explodes once (dim-keyed aggregation for the
    64-row scale table, broadcast back), the quantize + error pass is
    stateless per element, and the final rollup is dim-keyed. Rounding
    uses FLOOR(x/scale + 0.5) explicitly — Spark's round() is
    HALF_UP, DuckDB's is banker's-adjacent on doubles; the explicit
    floor formula is bit-identical on both. All divisions and
    multiplies are IEEE-exact per element; sums use the decimal
    contract."""
    emb = load_table(spark, d, "embeddings")
    ev = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    scales = ev.groupBy("dim").agg(
        (F.max(F.abs(F.col("x"))) / 127.0).alias("scale")
    )
    q = (
        ev.join(F.broadcast(scales), "dim")
        .filter(F.col("scale") > 0)
        .select(
            "dim",
            "x",
            "scale",
            F.floor(F.col("x") / F.col("scale") + 0.5).alias("qx"),
        )
    )
    err = F.abs(F.col("x") - F.col("qx") * F.col("scale"))
    return (
        q.groupBy("dim")
        .agg(
            F.round(F.min("scale"), 9).alias("scale"),
            F.round(dsum(err) / F.count(F.lit(1)), 9).alias("mean_abs_err"),
            F.round(F.max(err), 9).alias("max_abs_err"),
        )
        .select(F.col("dim").cast("bigint").alias("dim"), "scale",
                "mean_abs_err", "max_abs_err")
        .orderBy("dim")
    )
