"""Round-4 graph / linkage / stats sweep: bounded-round k-core peeling
and mutual-best-match record linkage over the bucketed similarity
graph, Welch's unequal-variance t-test, a 2-D histogram with per-row
shares, and token↔language mutual information for feature selection.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC, bounded_window_key
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.analytics4 import TRI_TAU
from direct_kafka_stream_spark.registry import query

# k-core order and the fixed peel-round count. Peeling converges on
# the fixture graph well inside 4 rounds (tests prove fixpoint against
# an unbounded Python peel); both engines run EXACTLY this many rounds
# so the unrolled oracle and the Spark loop stay in lockstep.
_KCORE_K = 2
_KCORE_ROUNDS = 4


def sim_edges_sql() -> str:
    """DuckDB: the bucketed similarity edge set (a < b) shared with
    q_triangle_count — intra-sign-LSH-bucket pairs at rounded cosine
    >= the triangle threshold."""
    return f"""
    ev AS ({similarity.EV_SQL}),
    bkt AS (SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    cand AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb
        FROM bkt AS a JOIN bkt AS b2
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
    )
    """


def sim_edges_spark(spark: SparkSession, d: str):
    """Spark: the same bucketed similarity edge set as a DataFrame."""
    emb = load_table(spark, d, "embeddings").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("va") < F.col("vb"))
        .filter(F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6) >= TRI_TAU)
        .select(F.col("va").alias("a"), F.col("vb").alias("b"))
    )


def _kcore_oracle() -> str:
    rounds = []
    prev = "e"
    for r in range(1, _KCORE_ROUNDS + 1):
        rounds.append(f"""
    d{r} AS (
        SELECT node, COUNT(*) AS deg
        FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
        GROUP BY node
    ),
    k{r} AS (SELECT node FROM d{r} WHERE deg >= {_KCORE_K}),
    e{r} AS (
        SELECT p.a, p.b FROM {prev} p
        JOIN k{r} ka ON ka.node = p.a
        JOIN k{r} kb ON kb.node = p.b
    )""")
        prev = f"e{r}"
    return f"""
    WITH {sim_edges_sql().strip()},{",".join(rounds)}
    SELECT node AS vec_id, CAST(deg AS BIGINT) AS core_degree
    FROM (
        SELECT node, COUNT(*) AS deg
        FROM (SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
        GROUP BY node
    ) WHERE deg >= {_KCORE_K}
    """


@query("q_kcore", oracle=_kcore_oracle(), tags=("graph", "scale"))
def q_kcore(spark: SparkSession, d: str):
    """2-core of the bucketed similarity graph by iterative peeling:
    repeatedly drop nodes of degree < k and their incident edges — the
    densest-substructure filter that strips pendant vertices and
    chains, leaving the clusters worth running expensive components /
    community steps on (a standard graph-cleanup pass before dedup
    clustering at corpus scale).

    Both engines run the SAME fixed number of peel rounds (4 — the
    unrolled oracle CTE chain and this loop stay in lockstep), and the
    suite proves the fixture graph reaches its peeling fixpoint within
    them against an unbounded reference peel. Scale shape: each round
    is one node-keyed degree aggregate plus two node-keyed semi-joins
    of the shrinking edge set — no global structure; the edge set is
    bucket-scoped (never corpus-quadratic), and rounds is a fixed
    constant, not data-dependent driver control flow."""
    edges = track(sim_edges_spark(spark, d).persist())
    cur = edges
    for _ in range(_KCORE_ROUNDS):
        ends = cur.select(F.col("a").alias("node")).unionAll(
            cur.select(F.col("b").alias("node"))
        )
        keep = (
            ends.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select("node")
        )
        cur = (
            cur.join(keep.withColumnRenamed("node", "a"), "a")
            .join(keep.withColumnRenamed("node", "b"), "b")
            .select("a", "b")
        )
        cur = track(cur.localCheckpoint(eager=False))
    ends = cur.select(F.col("a").alias("node")).unionAll(
        cur.select(F.col("b").alias("node"))
    )
    return (
        ends.groupBy("node")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .filter(F.col("core_degree") >= _KCORE_K)
        .select(F.col("node").alias("vec_id"), "core_degree")
    )


def _mutual_best_oracle() -> str:
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    bkt AS (SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    cand AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb
        FROM bkt AS a JOIN bkt AS b2
          ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
    ),
    dots AS (
        SELECT c.va, c.vb, SUM(ea.x * eb.x) AS dot
        FROM cand c
        JOIN ev ea ON ea.vec_id = c.va
        JOIN ev eb ON eb.vec_id = c.vb AND eb.i = ea.i
        GROUP BY c.va, c.vb
    ),
    sims AS (
        SELECT d.va, d.vb,
               round(d.dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS cos
        FROM dots d
        JOIN norms na ON na.vec_id = d.va
        JOIN norms nb ON nb.vec_id = d.vb
    ),
    best AS (
        SELECT va, vb, cos FROM (
            SELECT va, vb, cos,
                   ROW_NUMBER() OVER (PARTITION BY va
                                      ORDER BY cos DESC, vb) AS rn
            FROM sims
        ) WHERE rn = 1
    )
    SELECT x.va AS a, x.vb AS b, x.cos
    FROM best x JOIN best y ON y.va = x.vb AND y.vb = x.va
    WHERE x.va < x.vb
    """


@query("q_mutual_best", oracle=_mutual_best_oracle(), tags=("linkage", "similarity"))
def q_mutual_best(spark: SparkSession, d: str):
    """Mutual-best-match record linkage over the bucketed similarity
    graph: each vector's single best neighbor (highest rounded cosine,
    id tiebreak) among its LSH-bucket mates; a pair links only when
    the choice is RECIPROCAL — a's best is b and b's best is a. The
    reciprocal-nearest-neighbor rule is the classical high-precision
    matcher in entity resolution (and the clustering step of RNN-based
    agglomerative methods): one-sided attraction, e.g. a near-copy
    pointing at a hub template, does not link.

    Scale shape: candidate generation is bucket-scoped (sum of bucket
    sizes squared, never corpus²); per-node argmax is a node-keyed
    window over each node's bucket-bounded candidates; the reciprocity
    check is a self-join of the one-row-per-node best table on the
    (node, best) key. Ranking compares the ROUNDED cosine with the id
    tiebreak per the ALIGNMENT.md ranking rule."""
    emb = load_table(spark, d, "embeddings").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "bucket"
    )
    sims = (
        a.join(b, "bucket")
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("va").orderBy(F.col("cos").desc(), "vb")
    best = track(
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("va", "vb", "cos")
        .persist()
    )
    other = best.select(
        F.col("va").alias("yva"), F.col("vb").alias("yvb")
    )
    return (
        best.join(
            other,
            (F.col("yva") == F.col("vb")) & (F.col("yvb") == F.col("va")),
        )
        .filter(F.col("va") < F.col("vb"))
        .select(F.col("va").alias("a"), F.col("vb").alias("b"), "cos")
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


_H2_VBIN = 20.0  # value-bin width for the 2-D histogram


@query(
    "q_hist2d",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
               CAST(floor(value / {_H2_VBIN}) AS BIGINT) AS vbin,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    )
    SELECT hour_of_day, vbin, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY hour_of_day), 6)
               AS hour_share
    FROM cells
    """,
    tags=("profiling", "histogram"),
)
def q_hist2d(spark: SparkSession, d: str):
    """2-D histogram of the event stream — hour-of-day × value bin —
    with each cell's share of its hour (the conditional distribution
    P(value bin | hour)). The heat-map primitive behind load-profile
    dashboards and the drift checks that compare a day's conditional
    distribution against a reference (q_psi over one axis is the 1-D
    special case).

    Scale shape: one grid-keyed map-side-combinable aggregate; the
    share window partitions by hour over the BOUNDED cell grid (≤ 24 ×
    value-range/binwidth rows), never over raw events. Integer bin
    arithmetic on both engines; the share is a ratio of exact counts
    rounded once."""
    return hist2d_grid(load_table(spark, d, "events"))


def hist2d_grid(ev):
    """The q_hist2d analytic as a DataFrame transform — shared by the
    batch query and its §2.C foreachBatch streaming twin."""
    cells = (
        ev.select(
            F.hour("ts").cast("bigint").alias("hour_of_day"),
            F.floor(F.col("value") / _H2_VBIN).alias("vbin"),
        )
        .groupBy("hour_of_day", "vbin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hour_of_day")
    return cells.select(
        "hour_of_day",
        "vbin",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "hour_share"
        ),
    )


_MI_TOPK = 20


@query(
    "q_mutual_info",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
        WHERE text IS NOT NULL
    ),
    dt2 AS (SELECT doc_id, token FROM dt WHERE token <> ''),
    top AS (
        SELECT token, df FROM (
            SELECT token, COUNT(*) AS df,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
            FROM dt2 GROUP BY token
        ) WHERE rn <= {_MI_TOPK}
    ),
    nl AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    ntot AS (SELECT COUNT(*) AS n FROM documents),
    n11 AS (
        SELECT t.token, doc.lang, COUNT(*) AS n11
        FROM dt2 j
        JOIN top t ON t.token = j.token
        JOIN documents doc ON doc.doc_id = j.doc_id
        GROUP BY t.token, doc.lang
    ),
    grid AS (
        SELECT t.token, t.df, l.lang, l.n_l, COALESCE(x.n11, 0) AS n11
        FROM top t CROSS JOIN nl l
        LEFT JOIN n11 x ON x.token = t.token AND x.lang = l.lang
    ),
    terms AS (
        SELECT token, df,
               CASE WHEN n11 > 0 THEN
                   (CAST(n11 AS DOUBLE) / n.n)
                   * ln((CAST(n11 AS DOUBLE) * n.n)
                        / (CAST(df AS DOUBLE) * n_l))
               ELSE 0.0 END
               + CASE WHEN n_l - n11 > 0 THEN
                   (CAST(n_l - n11 AS DOUBLE) / n.n)
                   * ln((CAST(n_l - n11 AS DOUBLE) * n.n)
                        / (CAST(n.n - df AS DOUBLE) * n_l))
               ELSE 0.0 END AS term
        FROM grid, ntot n
    )
    SELECT token, CAST(df AS BIGINT) AS df,
           round(CAST(SUM(CAST(term AS DECIMAL(38,10))) AS DOUBLE), 6) AS mi
    FROM terms
    GROUP BY token, df
    """,
    tags=("features", "text", "selection"),
)
def q_mutual_info(spark: SparkSession, d: str):
    """Mutual information I(token-presence; language) for the top-20
    document-frequency tokens — the filter-method feature selector
    (which tokens carry signal about the class?) used to rank features
    before training a lightweight classifier like q_quality_classifier.

    MI over the binary presence × language grid: p(x,y)·ln of exact
    count ratios, zero-count cells contributing 0 by convention. The
    token×language grid is tiny (20 × #langs) — built by crossing the
    broadcast top-k vocabulary with the language totals and left-joining
    observed presence counts, so absent (token, lang) cells still emit
    their x=0 term. Scale shape: the only corpus-sized work is the
    distinct (doc, token) projection and its token-keyed count; terms
    and the final sum live on the bounded grid. Exact decimal for the
    term sum; single 6 dp rounding."""
    docs = load_table(spark, d, "documents")
    dt = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(text.space_split()).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    top = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(bounded_window_key("token")).orderBy(
                    F.col("df").desc(), "token"
                )
            ),
        )
        .filter(F.col("rn") <= _MI_TOPK)
        .select("token", "df")
    )
    nl = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    ntot = docs.agg(F.count(F.lit(1)).alias("n"))
    n11 = (
        dt.join(F.broadcast(top.select("token")), "token")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("token", "lang")
        .agg(F.count(F.lit(1)).alias("n11"))
    )
    grid = (
        top.crossJoin(F.broadcast(nl))
        .join(n11, ["token", "lang"], "left")
        .withColumn("n11", F.coalesce(F.col("n11"), F.lit(0)))
        .crossJoin(F.broadcast(ntot))
    )
    n = F.col("n").cast("double")
    n11c = F.col("n11").cast("double")
    n01c = (F.col("n_l") - F.col("n11")).cast("double")
    dfc = F.col("df").cast("double")
    nlc = F.col("n_l").cast("double")
    term = F.when(
        F.col("n11") > 0, (n11c / n) * F.log((n11c * n) / (dfc * nlc))
    ).otherwise(F.lit(0.0)) + F.when(
        (F.col("n_l") - F.col("n11")) > 0,
        (n01c / n) * F.log((n01c * n) / ((n - dfc) * nlc)),
    ).otherwise(F.lit(0.0))
    return (
        grid.select("token", "df", term.alias("term"))
        .groupBy("token", "df")
        .agg(F.round(F.sum(F.col("term").cast(DEC)).cast("double"), 6).alias("mi"))
        .select("token", F.col("df").cast("bigint").alias("df"), "mi")
    )
