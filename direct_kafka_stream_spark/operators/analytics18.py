"""Round-4 traversal / fusion / causal-inference sweep: reciprocal-rank
fusion of the sparse (BM25) and dense (embedding-cosine) retrieval
rankings, bounded-depth BFS over the nation trade graph, per-key linear
interpolation of missing time-series values, a difference-in-differences
estimate on the events fixture, and an exact weighted median computed
with the scale-safe bin-then-refine two-pass (no corpus-wide
single-partition window).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC, bounded_window_key
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import similarity
from direct_kafka_stream_spark.operators.retrieval import BM25_SCORED_SQL
from direct_kafka_stream_spark.registry import query

# Reciprocal-rank fusion: the standard k=60 damping constant and the
# per-list candidate depth.
_RRF_K = 60
_RRF_N = 20

_RRF_ORACLE = f"""
    WITH {BM25_SCORED_SQL},
    lex_top AS (
        SELECT doc_id, round(score, 6) AS s
        FROM scored ORDER BY s DESC, doc_id LIMIT {_RRF_N}
    ),
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r_lex
        FROM lex_top
    ),
    ev AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    qv AS (SELECT i, x AS qx FROM ev WHERE vec_id = 0),
    dots AS (
        SELECT e.vec_id, SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev e JOIN qv q USING (i) GROUP BY e.vec_id
    ),
    nq AS (SELECT SUM(qx * qx) AS nq FROM qv),
    sem_top AS (
        SELECT d.vec_id AS doc_id,
               round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
        FROM dots d, nq WHERE d.vec_id != 0
        ORDER BY sim DESC, doc_id LIMIT {_RRF_N}
    ),
    sem AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r_sem
        FROM sem_top
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
           round(COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + r_lex), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + r_sem), 0),
                 6) AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
"""


@query(
    "q_rrf_fusion",
    oracle=_RRF_ORACLE,
    tags=("retrieval", "llm", "composite"),
)
def q_rrf_fusion(spark: SparkSession, d: str):
    """Reciprocal-rank fusion (RRF) of the lexical BM25 top-20 and the
    dense cosine top-20 for the fixed query: score(d) = Σ_lists
    1/(k + rank_list(d)), the standard hybrid-retrieval merge. Shares
    q_rag_bm25's scoring helper (``retrieval.bm25_scored``) and
    q_rag_retrieve's cosine shape, so the fused ranking is consistent
    with both single-mode paths.

    Scale shape: each list is cut to its top-N FIRST via
    TakeOrderedAndProject (per-partition heaps), so the rank-assigning
    global window runs over ≤N rows — bounded by construction, never
    corpus-sized. The fusion join is a ≤2N-row full outer join.
    Ranking uses the ALIGNMENT.md rule: ROUNDED score desc with id
    tiebreak, identical on both engines."""
    from direct_kafka_stream_spark.operators.retrieval import bm25_scored

    lex_top = (
        bm25_scored(spark, d)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_N)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(bounded_window_key("doc_id")).orderBy(
                F.col("s").desc(), "doc_id"
            )
        )
        .cast("long")
        .alias("r_lex"),
    )

    e = load_table(spark, d, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sem_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(_RRF_N)
    )
    sem = sem_top.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(bounded_window_key("doc_id")).orderBy(
                F.col("sim").desc(), "doc_id"
            )
        )
        .cast("long")
        .alias("r_sem"),
    )

    one = F.lit(1.0)
    fused = lex.join(sem, "doc_id", "full")
    return fused.select(
        "doc_id",
        "r_lex",
        "r_sem",
        F.round(
            F.coalesce(one / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(one / (_RRF_K + F.col("r_sem")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )


# BFS depth bound (supersteps) and the per-vertex out-edge fanout kept
# after sparsification.
_BFS_DEPTH = 3
_BFS_FANOUT = 2


@query(
    "q_bfs_hops",
    oracle=f"""
    WITH RECURSIVE e0 AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY src, dst
    ),
    e AS (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY w DESC, dst) AS rn
            FROM e0 WHERE src <> dst
        ) WHERE rn <= {_BFS_FANOUT}
    ),
    seed AS (
        SELECT src AS node FROM e0
        GROUP BY src ORDER BY SUM(w) DESC, src LIMIT 1
    ),
    walk(node, hop) AS (
        SELECT node, 0 FROM seed
        UNION ALL
        SELECT e.dst, w.hop + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.hop < {_BFS_DEPTH}
    )
    SELECT n.n_name, CAST(MIN(w.hop) AS BIGINT) AS hops
    FROM walk w JOIN nation n ON n.n_nationkey = w.node
    GROUP BY n.n_name
    """,
    tags=("graph", "tpch"),
)
def q_bfs_hops(spark: SparkSession, d: str):
    """Bounded-depth BFS (shortest hop count ≤ 3) from the busiest
    exporter nation over the directed supplier-nation → customer-nation
    trade graph, sparsified to each vertex's top-2 strongest outgoing
    lanes (self-loops dropped) — the frontier-expansion superstep that
    Pregel/GraphX BFS lowers to, expressed as per-round keyed joins.
    The top-k-out-edges sparsification is SF-independent: the nation
    graph saturates to a clique as data grows, but a k-out-regular
    subgraph keeps genuine multi-hop structure at any scale.

    Scale shape: edge construction is the Q7-shaped fact-scan join
    (the only heavy exchanges); the per-src top-k window partitions on
    src (bounded by out-degree), and the graph itself is
    nation-bounded so each superstep is a broadcast-sized join with a
    keyed hop-min combine. On an unbounded vertex set the identical
    loop runs with edges/dist both distributed and dist checkpointed
    per superstep (the q_dedup_components pattern). The driver loop is
    a FIXED depth bound (no data-dependent collect); the oracle's
    recursive CTE enumerates walks to the same bound and takes the
    per-node min."""
    li = load_table(spark, d, "lineitem")
    sup = load_table(spark, d, "supplier")
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")

    e0 = track(
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"), F.col("c_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .persist()
    )
    edges = track(
        e0.filter(F.col("src") != F.col("dst"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.col("w").desc(), "dst")
            ),
        )
        .filter(F.col("rn") <= _BFS_FANOUT)
        .select("src", "dst")
        .persist()
    )

    dist = (
        e0.groupBy("src")
        .agg(F.sum("w").alias("tw"))
        .orderBy(F.col("tw").desc(), "src")
        .limit(1)
        .select(F.col("src").alias("node"), F.lit(0).cast("long").alias("hop"))
    )
    for k in range(1, _BFS_DEPTH + 1):
        frontier = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), F.lit(k).cast("long").alias("hop"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return (
        dist.join(nation, dist.node == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.min("hop").alias("hops"))
    )


@query(
    "q_interpolate_linear",
    oracle="""
    WITH t AS (
        SELECT user_id, event_id, epoch_us(ts) AS tus, value,
               (event_id % 3 = 0) AS known,
               CASE WHEN event_id % 3 = 0 THEN value END AS kv,
               CASE WHEN event_id % 3 = 0 THEN epoch_us(ts) END AS kt
        FROM events
    ),
    w AS (
        SELECT user_id, event_id, tus, value, known,
               last_value(kv IGNORE NULLS) OVER wp AS pv,
               last_value(kt IGNORE NULLS) OVER wp AS pt,
               first_value(kv IGNORE NULLS) OVER wn AS nv,
               first_value(kt IGNORE NULLS) OVER wn AS nt
        FROM t
        WINDOW wp AS (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY tus, event_id
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, event_id, known,
           round(CASE WHEN known THEN value
                      WHEN pv IS NULL THEN nv
                      WHEN nv IS NULL THEN pv
                      ELSE pv + (nv - pv) * ((tus - pt) / (nt - pt))
                 END, 6) AS v
    FROM w
    """,
    tags=("timeseries", "window"),
)
def q_interpolate_linear(spark: SparkSession, d: str):
    """Per-key linear interpolation of a sparsely-observed metric: a
    value is 'known' on every third event; every other event gets the
    time-weighted linear blend of its nearest known neighbors (LOCF at
    the right edge, NOCB at the left — the q_win_locf family completed
    with true interpolation). Timestamps are compared in exact integer
    microseconds; only the final blend is floating-point, and the
    ratio/blend expression is written identically on both engines then
    rounded.

    Scale shape: two per-key frame-bounded windows over the same sort
    (one exchange on user_id, one sort, both window passes reuse it —
    the per-user sequence is the partition unit, the standard
    sessionize contract). Nothing global, nothing collected."""
    ev = load_table(spark, d, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("tus"), "value"
    )
    known = (F.col("event_id") % 3) == 0
    t = ev.select(
        "user_id",
        "event_id",
        "tus",
        "value",
        known.alias("known"),
        F.when(known, F.col("value")).alias("kv"),
        F.when(known, F.col("tus")).alias("kt"),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    w = t.select(
        "user_id",
        "event_id",
        "tus",
        "value",
        "known",
        F.last("kv", ignorenulls=True).over(wp).alias("pv"),
        F.last("kt", ignorenulls=True).over(wp).alias("pt"),
        F.first("kv", ignorenulls=True).over(wn).alias("nv"),
        F.first("kt", ignorenulls=True).over(wn).alias("nt"),
    )
    blend = F.col("pv") + (F.col("nv") - F.col("pv")) * (
        (F.col("tus") - F.col("pt")) / (F.col("nt") - F.col("pt"))
    )
    return w.select(
        "user_id",
        "event_id",
        "known",
        F.round(
            F.when(F.col("known"), F.col("value"))
            .when(F.col("pv").isNull(), F.col("nv"))
            .when(F.col("nv").isNull(), F.col("pv"))
            .otherwise(blend),
            6,
        ).alias("v"),
    )


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


# Weighted-median bin width over the account-balance domain.
_WM_BIN = 100


@query(
    "q_weighted_median",
    oracle=f"""
    WITH cw AS (
        SELECT c_mktsegment AS seg, c_acctbal, c_custkey,
               c_custkey % 7 + 1 AS w,
               CAST(floor(c_acctbal / {_WM_BIN}) AS BIGINT) AS bin
        FROM customer
    ),
    tot AS (SELECT seg, SUM(w) AS tot FROM cw GROUP BY seg),
    binw AS (SELECT seg, bin, SUM(w) AS bw FROM cw GROUP BY seg, bin),
    bins AS (
        SELECT seg, bin, bw,
               SUM(bw) OVER (PARTITION BY seg ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
        FROM binw
    ),
    mb AS (
        SELECT b.seg, MIN(b.bin) AS mbin
        FROM bins b JOIN tot t ON t.seg = b.seg
        WHERE 2 * b.cum >= t.tot
        GROUP BY b.seg
    ),
    mbrow AS (
        SELECT b.seg, b.bin, b.cum - b.bw AS prior
        FROM bins b JOIN mb ON mb.seg = b.seg AND mb.mbin = b.bin
    ),
    q AS (
        SELECT cw.seg, cw.c_acctbal, m.prior, t.tot,
               SUM(cw.w) OVER (PARTITION BY cw.seg
                               ORDER BY cw.c_acctbal, cw.c_custkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS c2
        FROM cw
        JOIN mbrow m ON m.seg = cw.seg AND m.bin = cw.bin
        JOIN tot t ON t.seg = cw.seg
    )
    SELECT seg,
           MIN(CASE WHEN 2 * (prior + c2) >= tot THEN c_acctbal END)
               AS wmedian,
           CAST(MAX(tot) AS BIGINT) AS total_w
    FROM q
    GROUP BY seg
    """,
    tags=("stats", "scale"),
)
def q_weighted_median(spark: SparkSession, d: str):
    """Exact weighted median per segment via the scale-safe
    bin-then-refine two-pass: (1) aggregate weights into fixed-width
    value bins and walk the per-segment bin CDF (a window over a
    BOUNDED, bins-sized table) to locate the median bin; (2) scan only
    that bin's rows with the prior cumulative weight carried in, and
    take the first value where twice the running weight reaches the
    total (lower weighted median, integer arithmetic throughout — no
    tot/2 float). This is the q_drift_ks_binned answer applied to
    order statistics: the naive form needs a total order per segment
    (single-partition at 100 TB); here every window is either
    bins-bounded or one-bin-bounded.

    Scale shape: two keyed aggregates + one bounded window + a
    bin-pruned second scan (at scale the bin filter prunes parquet row
    groups via min/max zone maps — the q_zonemap_prune effect)."""
    return weighted_median_report(load_table(spark, d, "customer"))


def weighted_median_report(cust):
    """Composable twin entry: the exact q_weighted_median computation
    over a customer-shaped frame (tests/test_streaming.py stages
    customer as a file stream and recomputes this per micro-batch)."""
    cw = cust.select(
        F.col("c_mktsegment").alias("seg"),
        "c_acctbal",
        "c_custkey",
        (F.col("c_custkey") % 7 + 1).alias("w"),
    )
    return weighted_median_stat(cw, _WM_BIN)


def weighted_median_stat(cw, bin_w: float = _WM_BIN):
    """Composable form over any (seg, c_acctbal, c_custkey, w) frame —
    also the property-test entry point (brute-force weighted median,
    tests/test_properties.py)."""
    cw = cw.withColumn("bin", F.floor(F.col("c_acctbal") / bin_w))
    tot = cw.groupBy("seg").agg(F.sum("w").alias("tot"))
    binw = cw.groupBy("seg", "bin").agg(F.sum("w").alias("bw"))
    wcum = (
        Window.partitionBy("seg")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bins = binw.withColumn("cum", F.sum("bw").over(wcum))
    mb = (
        bins.join(F.broadcast(tot), "seg")
        .filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("seg")
        .agg(F.min("bin").alias("mbin"))
        .withColumnRenamed("seg", "mseg")
    )
    mbrow = (
        bins.join(
            F.broadcast(mb),
            (F.col("seg") == F.col("mseg")) & (F.col("bin") == F.col("mbin")),
        )
        .select("seg", "bin", (F.col("cum") - F.col("bw")).alias("prior"))
    )
    q = (
        cw.join(F.broadcast(mbrow), ["seg", "bin"])
        .join(F.broadcast(tot), "seg")
        .withColumn(
            "c2",
            F.sum("w").over(
                Window.partitionBy("seg")
                .orderBy("c_acctbal", "c_custkey")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return q.groupBy("seg").agg(
        F.min(
            F.when(2 * (F.col("prior") + F.col("c2")) >= F.col("tot"), F.col("c_acctbal"))
        ).alias("wmedian"),
        F.max("tot").alias("total_w"),
    )
