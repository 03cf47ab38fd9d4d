"""Round-4 statistics / time-series / graph-profiling sweep: EWMA
smoothing, autocorrelation and lagged cross-correlation of daily
series, a pairwise correlation matrix, a chi-squared independence
test, inter-event-gap latency profiles, sweep-line peak concurrency,
a CDC snapshot diff census, blocked edit-distance fuzzy dedup, and
the similarity-graph degree distribution.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import (
    davg_sql,
    dsum,
    dsum_sql,
    epoch_s,
    epoch_s_sql,
)
from direct_kafka_stream_spark.exprs import safe_corr
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import similarity
from direct_kafka_stream_spark.operators.analytics4 import TRI_TAU
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


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]


def _corr_matrix_oracle() -> str:
    aggs = ", ".join(
        f"corr({x}, {y}) AS r{i}" for i, (x, y) in enumerate(_CORR_PAIRS)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{x}' AS col_a, '{y}' AS col_b, round(r{i}, 6) AS r FROM c"
        for i, (x, y) in enumerate(_CORR_PAIRS)
    )
    return f"""
    WITH c AS (SELECT {aggs} FROM lineitem)
    {rows}
    ORDER BY col_a, col_b
    """


@query(
    "q_corr_matrix",
    oracle=_corr_matrix_oracle(),
    tags=("stats", "profiling"),
)
def q_corr_matrix(spark: SparkSession, d: str):
    """Pairwise Pearson correlation matrix of the four lineitem
    numeric measures (upper triangle, 6 pairs) — the feature-
    redundancy screen run before any modeling on tabular data.

    All six correlations are computed in ONE map-side-combined
    aggregation pass over the fact table (each corr is a co-moment
    accumulator — Spark fuses them into a single HashAggregate), then
    the 1-row result is unpivoted to (col_a, col_b, r) rows with
    stack(). One scan, one 1-row exchange, no joins; rounded to 6dp
    (accumulation order)."""
    li = load_table(spark, d, "lineitem")
    one = li.agg(
        *[
            safe_corr(x, y).alias(f"r{i}")
            for i, (x, y) in enumerate(_CORR_PAIRS)
        ]
    )
    stack_args = ", ".join(
        f"'{x}', '{y}', round(r{i}, 6)" for i, (x, y) in enumerate(_CORR_PAIRS)
    )
    return (
        one.selectExpr(
            f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_a, col_b, r)"
        )
        .orderBy("col_a", "col_b")
    )


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
    "q_snapshot_diff",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0
                    ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 97 <> 3
    ),
    new AS (
        SELECT o_orderkey AS k, o_totalprice AS price
        FROM orders WHERE o_orderkey % 89 <> 7
    ),
    diff AS (
        SELECT CASE
                 WHEN old.k IS NULL THEN 'inserted'
                 WHEN new.k IS NULL THEN 'deleted'
                 WHEN new.price <> old.price THEN 'updated'
                 ELSE 'unchanged'
               END AS status,
               COALESCE(new.price, 0) - COALESCE(old.price, 0) AS delta
        FROM old FULL OUTER JOIN new ON old.k = new.k
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n,
           round({dsum_sql('delta')}, 2) AS revenue_delta
    FROM diff
    GROUP BY status
    ORDER BY status
    """,
    tags=("cdc", "diff"),
)
def q_snapshot_diff(spark: SparkSession, d: str):
    """CDC snapshot diff census: given two snapshots of the orders
    table (old = a deterministic subset with some prices perturbed,
    new = a different subset), a key-wise full-outer join classifies
    every row as inserted / deleted / updated / unchanged and rolls
    up the count and net revenue delta per class — the table-diff
    audit every incremental-load pipeline runs.

    The full-outer join shuffles both snapshots once on the primary
    key (co-partitioned, no broadcast needed or wanted at 100 TB);
    the census is a 4-row aggregate with exact-decimal sums. The
    snapshot predicates are modulus-deterministic so both engines
    build identical inputs."""
    o = load_table(spark, d, "orders")
    old = o.filter(F.col("o_orderkey") % 97 != 3).select(
        F.col("o_orderkey").alias("k"),
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("price"),
    )
    new = o.filter(F.col("o_orderkey") % 89 != 7).select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    joined = old.alias("old").join(
        new.alias("new"), F.col("old.k") == F.col("new.k"), "full_outer"
    )
    status = (
        F.when(F.col("old.k").isNull(), "inserted")
        .when(F.col("new.k").isNull(), "deleted")
        .when(F.col("new.price") != F.col("old.price"), "updated")
        .otherwise("unchanged")
    )
    delta = F.coalesce(F.col("new.price"), F.lit(0.0)) - F.coalesce(
        F.col("old.price"), F.lit(0.0)
    )
    return (
        joined.select(status.alias("status"), delta.alias("delta"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum("delta"), 2).alias("revenue_delta"),
        )
        .orderBy("status")
    )


_FUZZY_PREFIX = 12  # blocking-key prefix length
_FUZZY_CMP = 60  # compared prefix length
_FUZZY_TAU = 30  # max edit distance to report


@query(
    "q_dedup_fuzzy",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, text,
               substr(text, 1, {_FUZZY_PREFIX}) AS blk
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, {_FUZZY_CMP}),
                            substr(b.text, 1, {_FUZZY_CMP})) AS BIGINT)
               AS edit_dist
    FROM keyed a
    JOIN keyed b ON a.lang = b.lang AND a.blk = b.blk
                AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, {_FUZZY_CMP}),
                      substr(b.text, 1, {_FUZZY_CMP})) <= {_FUZZY_TAU}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def q_dedup_fuzzy(spark: SparkSession, d: str):
    """Blocked edit-distance fuzzy-duplicate candidates: documents
    sharing (lang, first-{_FUZZY_PREFIX}-chars) form a block;
    within-block pairs whose 60-char-prefix Levenshtein distance is
    <= {_FUZZY_TAU} are reported — the record-linkage pattern
    (blocking key + expensive comparator only within blocks) that
    complements the shingle-based q_dedup_near.

    Scale shape: the quadratic comparator never sees the corpus —
    pairs exist only within blocking buckets (sum of squared bucket
    sizes, the same bound as every LSH path here), and the
    Levenshtein compare is capped at a constant 60-char prefix so
    per-pair cost is O(1). The block key is a pure column function,
    so the only exchange is the block-key self-join shuffle."""
    docs = load_table(spark, d, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.substring("text", 1, _FUZZY_PREFIX).alias("blk"),
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "blk",
        F.substring("text", 1, _FUZZY_CMP).alias("ta"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "blk",
        F.substring("text", 1, _FUZZY_CMP).alias("tb"),
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _FUZZY_TAU)
        .orderBy("doc_a", "doc_b")
    )


def _degree_oracle() -> str:
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    b AS (SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    cand AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb
        FROM b AS a JOIN b AS b2
          ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ),
    dots AS (
        SELECT c.va, c.vb, SUM(ea.x * eb.x) AS dot
        FROM cand c
        JOIN ev ea ON ea.vec_id = c.va
        JOIN ev eb ON eb.vec_id = c.vb AND eb.i = ea.i
        GROUP BY c.va, c.vb
    ),
    e AS MATERIALIZED (
        SELECT d.va AS a, d.vb AS b
        FROM dots d
        JOIN norms na ON na.vec_id = d.va
        JOIN norms nb ON nb.vec_id = d.vb
        WHERE round(d.dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= {TRI_TAU}
    ),
    deg AS (
        SELECT v.vec_id, CAST(COUNT(ends.v) AS BIGINT) AS degree
        FROM embeddings v
        LEFT JOIN (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) ends
          ON ends.v = v.vec_id
        GROUP BY v.vec_id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg
    GROUP BY degree
    ORDER BY degree
    """


@query(
    "q_degree_dist",
    oracle=_degree_oracle(),
    tags=("graph", "llm"),
)
def q_degree_dist(spark: SparkSession, d: str):
    """Degree distribution of the embedding similarity graph (same
    sign-LSH bucketed edge set as q_triangle_count): how many nodes
    have 0, 1, 2, ... similar neighbours. The graph-profiling
    histogram that sizes dedup-cluster expectations before running
    components — a heavy tail here predicts giant components.

    Edges are bucket-scoped (never corpus-quadratic); each edge emits
    its two endpoints, a vertex-keyed count (left join from the
    vertex table so ISOLATED nodes report degree 0) gives per-node
    degree, and the final histogram is a degree-keyed count over a
    vertex-sized table. All exchanges are vertex- or bucket-keyed."""
    emb = load_table(spark, d, "embeddings").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "bucket"
    )
    bb = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "bucket"
    )
    edges = (
        a.join(bb, "bucket")
        .filter(F.col("va") < F.col("vb"))
        .filter(F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6) >= TRI_TAU)
        .select(F.col("va").alias("u"), F.col("vb").alias("v"))
    )
    ends = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = (
        load_table(spark, d, "embeddings")
        .select("vec_id")
        .join(ends, F.col("node") == F.col("vec_id"), "left")
        .groupBy("vec_id")
        .agg(F.count("node").alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("degree")
    )
