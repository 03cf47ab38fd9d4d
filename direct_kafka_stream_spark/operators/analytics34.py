"""Round-6 batch 5: Shapley-value channel attribution (the
cooperative-game credit split over touchpoint coalitions), Neyman
optimal stratified-sample allocation, and TextRank extractive
summarization (per-document sentence-graph PageRank) — attribution
modeling, survey design, and unsupervised summarization.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).

Parity conventions: both operators run the SAME SQL string on Spark
and DuckDB (the q_tpch_q4 pattern), so every arithmetic step is
structurally identical by construction; weights are written as exact
double literals (6.0/24.0), sums of money-like measures go through
the exact-decimal contract.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query

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


def neyman_alloc(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    events.createOrReplaceTempView("neyman_events_staged")
    return events.sparkSession.sql(_neyman_sql("neyman_events_staged"))


# ---------------------------------------------------------------------------
# q_textrank — per-document extractive summarization (TextRank)
# ---------------------------------------------------------------------------

_TR_CHUNK = 8  # words per pseudo-sentence
_TR_ITERS = 5
_TR_DAMP = "CAST(0.85 AS DOUBLE)"
_TR_BASE = "CAST(0.15 AS DOUBLE)"


def _textrank_oracle() -> str:
    iters = []
    prev = "s0"
    for t in range(1, _TR_ITERS + 1):
        iters.append(f"""
    s{t} AS (
        SELECT z.doc_id, z.c AS node,
               {_TR_BASE} + {_TR_DAMP} * COALESCE(i.inb, CAST(0 AS DOUBLE))
                   AS s
        FROM sz z LEFT JOIN (
            SELECT n.doc_id, n.dst,
                   CAST(ROUND(SUM(CAST(n.nw * p.s AS DECIMAL(38,10))), 9)
                        AS DOUBLE) AS inb
            FROM nw n JOIN {prev} p
              ON p.doc_id = n.doc_id AND p.node = n.src
            GROUP BY n.doc_id, n.dst
        ) i ON i.doc_id = z.doc_id AND i.dst = z.c
    )""")
        prev = f"s{t}"
    chain = ",".join(iters)
    return f"""
    WITH words AS (
        SELECT doc_id,
               generate_subscripts(t, 1) - 1 AS pos,
               unnest(t) AS w
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x != '') AS t
              FROM documents)
    ),
    cw AS (
        SELECT DISTINCT doc_id,
               CAST(floor(pos / {_TR_CHUNK}) AS BIGINT) AS c, w
        FROM words
    ),
    sz AS (SELECT doc_id, c, COUNT(*) AS n FROM cw GROUP BY 1, 2),
    pr AS (
        SELECT a.doc_id, a.c AS ca, b.c AS cb, COUNT(*) AS ov
        FROM cw a JOIN cw b
          ON a.doc_id = b.doc_id AND a.w = b.w AND a.c < b.c
        GROUP BY 1, 2, 3
    ),
    ew AS (
        SELECT p.doc_id, p.ca, p.cb,
               CAST(p.ov AS DOUBLE) / (sa.n + sb.n) AS w
        FROM pr p
        JOIN sz sa ON sa.doc_id = p.doc_id AND sa.c = p.ca
        JOIN sz sb ON sb.doc_id = p.doc_id AND sb.c = p.cb
    ),
    ed AS (
        SELECT doc_id, ca AS src, cb AS dst, w FROM ew
        UNION ALL
        SELECT doc_id, cb AS src, ca AS dst, w FROM ew
    ),
    wsum AS (
        SELECT doc_id, src,
               CAST(ROUND(SUM(CAST(w AS DECIMAL(38,10))), 9) AS DOUBLE) AS ws
        FROM ed GROUP BY 1, 2
    ),
    nw AS (
        SELECT e.doc_id, e.src, e.dst, e.w / s.ws AS nw
        FROM ed e JOIN wsum s ON s.doc_id = e.doc_id AND s.src = e.src
    ),
    s0 AS (SELECT doc_id, c AS node, CAST(1.0 AS DOUBLE) AS s FROM sz),
    {chain},
    ranked AS (
        SELECT doc_id, node, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY s DESC, node) AS rk
        FROM s{_TR_ITERS}
    )
    SELECT doc_id, CAST(node AS BIGINT) AS chunk, round(s, 6) AS score
    FROM ranked WHERE rk = 1
    """


@query(
    "q_textrank",
    oracle=_textrank_oracle(),
    tags=("text", "graph", "summarization"),
)
def q_textrank(spark: SparkSession, d: str):
    """TextRank extractive summarization, one top pseudo-sentence per
    document: each doc's 8-word chunks form a similarity graph (edge
    weight = shared-distinct-word count / combined vocab size), and
    five damped power-iteration supersteps (d = 0.85) rank the chunks
    — PageRank on the sentence graph, the classic unsupervised
    summarizer, run for EVERY document simultaneously.

    Scale design: all joins and aggregates are doc-keyed, so the graph
    work partitions by document and the per-doc cost is bounded by
    (words/8)² with ≤40-chunk docs — no cross-document edges ever
    exist. Parity through the iterations: every per-node inbound sum
    (and each node's out-weight normalizer) is an exact-decimal sum
    rounded at 9 dp, so the float state after each superstep is
    bit-identical on both engines and the final ranking (score DESC,
    chunk ASC) can never diverge. The per-doc top-1 window partitions
    by doc_id — data-parallel, never single-partition."""
    return textrank_on(load_table(spark, d, "documents"))


def textrank_on(docs):
    """Composable form over any documents-shaped frame."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from direct_kafka_stream_spark.exprs import DEC

    words = docs.select(
        "doc_id",
        F.posexplode(text.tokens()).alias("pos", "w"),
    )
    cw = track(
        words.select(
            "doc_id",
            F.floor(F.col("pos") / _TR_CHUNK).cast("bigint").alias("c"),
            "w",
        )
        .distinct()
        .persist()
    )
    sz = track(cw.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("n")).persist())
    a, b = cw.alias("a"), cw.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.c") < F.col("b.c")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("a.c").alias("ca"),
            F.col("b.c").alias("cb"),
        )
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    sa = sz.select(
        F.col("doc_id").alias("doc_id"), F.col("c").alias("ca"),
        F.col("n").alias("na"),
    )
    sb = sz.select(
        F.col("doc_id").alias("doc_id"), F.col("c").alias("cb"),
        F.col("n").alias("nb"),
    )
    ew = (
        pr.join(sa, ["doc_id", "ca"])
        .join(sb, ["doc_id", "cb"])
        .select(
            "doc_id", "ca", "cb",
            (F.col("ov").cast("double") / (F.col("na") + F.col("nb"))).alias(
                "w"
            ),
        )
    )
    ed = ew.select(
        "doc_id", F.col("ca").alias("src"), F.col("cb").alias("dst"), "w"
    ).unionAll(
        ew.select(
            "doc_id", F.col("cb").alias("src"), F.col("ca").alias("dst"), "w"
        )
    )
    wsum = ed.groupBy("doc_id", "src").agg(
        F.round(F.sum(F.col("w").cast(DEC)), 9).cast("double").alias("ws")
    )
    nw = track(
        ed.join(wsum, ["doc_id", "src"])
        .select("doc_id", "src", "dst", (F.col("w") / F.col("ws")).alias("nw"))
        .persist()
    )
    scores = sz.select("doc_id", F.col("c").alias("node"), F.lit(1.0).alias("s"))
    for _ in range(_TR_ITERS):
        inb = (
            nw.join(
                scores,
                (nw.doc_id == scores.doc_id) & (nw.src == scores.node),
            )
            .groupBy(nw.doc_id, nw.dst)
            .agg(
                F.round(F.sum((F.col("nw") * F.col("s")).cast(DEC)), 9)
                .cast("double")
                .alias("inb")
            )
            .select(
                nw.doc_id.alias("doc_id"), F.col("dst").alias("node"), "inb"
            )
        )
        scores = (
            sz.select("doc_id", F.col("c").alias("node"))
            .join(inb, ["doc_id", "node"], "left")
            .select(
                "doc_id",
                "node",
                (
                    F.lit(0.15)
                    + F.lit(0.85) * F.coalesce(F.col("inb"), F.lit(0.0))
                ).alias("s"),
            )
        )
    rk = Window.partitionBy("doc_id").orderBy(
        F.col("s").desc(), F.col("node").asc()
    )
    return (
        scores.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("node").alias("chunk"), F.round("s", 6).alias("score"))
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
    from pyspark.sql import functions as F

    from direct_kafka_stream_spark.exprs import dsum

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
