"""Graph operators over the embedding similarity graph and the
TPC-H trade graph: triangle counts, degree distribution, k-core
peeling, mutual-best-match linkage, link prediction, modularity,
PageRank, bounded BFS, the Markov stationary distribution, TextRank,
and the shared pieces they build on (the bucketed similarity edge set
and min-label propagation).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.events_analytics import transition_matrix
from direct_kafka_stream_spark.registry import query


def propagate_min_labels(edges, max_rounds: int = 15):
    """Iterative min-label propagation with pointer jumping over a
    SYMMETRIC edge list (src, dst): returns (doc_id, label) for every
    node with at least one edge, label = min node id reachable.
    Raises rather than silently returning unconverged labels if the
    O(log diameter) bound is ever violated. Composable so the
    convergence tests can drive it with adversarial synthetic graphs
    (long paths needing genuine pointer jumping)."""
    # Iterate ONLY over nodes that have at least one edge; singleton
    # documents (the overwhelming majority of a deduped corpus) never
    # enter the loop and are unioned back labeled with themselves —
    # at 100 TB this shrinks every per-round join from corpus-sized to
    # duplicate-cluster-sized.
    connected = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    labels = track(
        connected.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint()
    )
    cur_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_rounds):
        prop = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        ptr = stepped.select(
            F.col("doc_id").alias("p_doc"), F.col("label").alias("p_label")
        )
        nxt = track(
            stepped.join(ptr, stepped.label == ptr.p_doc, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("p_label", F.col("label"))
                ).alias("label"),
            )
            # lazy checkpoint: materialized by the convergence sum
            # below instead of by a job of its own, while still
            # truncating lineage for every later reference. A round is
            # still several jobs, because AQE submits each shuffle
            # stage as its own job: at sf0.001 on local[4] one round
            # runs 9 to 11 jobs, and the build of q_dedup_components,
            # which converges in two rounds, runs 32 (bench.py counts)
            .localCheckpoint(eager=False)
        )
        nxt_sum = nxt.agg(F.sum("label")).collect()[0][0]
        labels = nxt
        if nxt_sum == cur_sum:
            converged = True
            break
        cur_sum = nxt_sum
    if not converged:
        # Pointer jumping converges in O(log diameter) rounds, so the
        # cap covers any real graph — but wrong labels must never be
        # returned silently if that assumption ever breaks.
        raise RuntimeError(
            "propagate_min_labels: label propagation did not converge "
            f"in {max_rounds} rounds"
        )
    return labels


# ---------------------------------------------------------------------------
# Graph analytics over the bounded similarity graph / trade graph
# ---------------------------------------------------------------------------

# Similarity-graph edge threshold (rounded cosine within sign-LSH
# buckets; picked so the fixture graph has a non-trivial triangle
# census: sf0.01 -> 751 edges, 132 triangles).
TRI_TAU = 0.2


def _triangle_oracle() -> str:
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
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
            FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
               AS n_triangles
    """


@query(
    "q_triangle_count",
    oracle=_triangle_oracle(),
    tags=("graph", "llm"),
)
def q_triangle_count(spark: SparkSession, d: str):
    """Triangle counting over the embedding similarity graph: edges
    are intra-LSH-bucket pairs with rounded cosine >= 0.2 (oriented
    a < b), and triangles are found with the standard distributed
    edge-join algorithm — e1(a,b) ⋈ e2(b,c) produces wedges, closed
    by a semi-check against e3(a,c). Triangle density is the
    clustering-coefficient numerator — the graph-level summary of how
    clumped near-duplicate content is (complement of
    q_dup_cluster_stats' component sizes).

    Scale shape: edge generation is the bucket-scoped q_dedup_embed
    pattern (sum of squared bucket sizes, never corpus²); the wedge
    join is keyed on the shared vertex and the closing join on the
    (a, b) edge pair — the exact plan GraphX/Pregel triangle counting
    lowers to, entirely as DataFrame joins. Because sign-buckets are
    a function of the vector, every triangle's three edges share one
    bucket, so all joins stay bucket-local (skew bounded by the
    bucket-size cap that the bit-count controls)."""
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
        .filter(
            F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6) >= TRI_TAU
        )
        .select(F.col("va").alias("a"), F.col("vb").alias("b"))
    )
    edges = track(edges.persist())
    wedges = edges.alias("e1").join(
        edges.alias("e2"), F.col("e2.a") == F.col("e1.b")
    )
    tris = wedges.join(
        edges.alias("e3"),
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        "inner",
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tris = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.crossJoin(n_tris)


# PageRank damping factor.
_PR_D = 0.85


@query(
    "q_pagerank_step",
    oracle=f"""
    WITH edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY src, dst
    ),
    outdeg AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nation),
    contrib AS (
        SELECT e.dst,
               SUM((1.0 / nn.n) * e.w / od.outw) AS inflow
        FROM edges e JOIN outdeg od ON od.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst
    )
    SELECT n.n_name,
           round(0.15 / nn.n + {_PR_D} * COALESCE(c.inflow, 0), 6) AS rank
    FROM nation n
    CROSS JOIN nn
    LEFT JOIN contrib c ON c.dst = n.n_nationkey
    """,
    tags=("graph", "tpch"),
)
def q_pagerank_step(spark: SparkSession, d: str):
    """One PageRank iteration over the international trade graph:
    vertices are nations, edge weight supplier-nation → customer-nation
    is the count of lineitems shipped between them (the TPC-H Q7
    bilateral-trade shape), rank starts uniform and one damped step
    redistributes it along outgoing-weight shares. The iterate-to-
    fixpoint form of the same math is q_markov_stationary's driver
    loop; this registers the distributed single-step that would run
    per superstep on an unbounded vertex set.

    Scale shape: the only heavy work is the fact scan + the
    lineitem→supplier / →orders→customer key joins (exactly Q7's
    exchanges); everything after is nation²-bounded (edges ≤ 625
    rows). The vertex count and outdegree tables are broadcast-sized.
    Dangling vertices (no outgoing trade) keep the base 0.15/N mass —
    documented single-step semantics on both engines."""
    li = load_table(spark, d, "lineitem")
    sup = load_table(spark, d, "supplier")
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")

    edges = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    n = nation.agg(F.count(F.lit(1)).alias("n"))
    contrib = (
        edges.join(F.broadcast(outdeg), "src")
        .crossJoin(F.broadcast(n))
        .groupBy("dst")
        .agg(
            F.sum((1.0 / F.col("n")) * F.col("w") / F.col("outw")).alias(
                "inflow"
            )
        )
    )
    return (
        nation.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(contrib),
            nation.n_nationkey == contrib.dst,
            "left",
        )
        .select(
            "n_name",
            F.round(
                0.15 / F.col("n")
                + _PR_D * F.coalesce(F.col("inflow"), F.lit(0.0)),
                6,
            ).alias("rank"),
        )
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


# Power-iteration count for the stationary distribution (contraction
# converges in far fewer; fixed so both engines run identical math).
_MARKOV_ITERS = 40

_MARKOV_M_SQL = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    cnt AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    ),
    m AS MATERIALIZED (
        SELECT prev_type, next_type,
               n * 1.0 / SUM(n) OVER (PARTITION BY prev_type) AS p
        FROM cnt
    )
"""


def _markov_oracle() -> str:
    """Unrolled power iteration: v0 = uniform over states, v_{k+1} =
    P^T v_k, 40 stages of tiny GROUP BY CTEs (the state space is the
    event-type vocabulary — bounded), rounded at the end."""
    stages = [
        """
    types AS MATERIALIZED (SELECT DISTINCT prev_type AS typ FROM m),
    v0 AS MATERIALIZED (
        SELECT typ, 1.0 / (SELECT COUNT(*) FROM types) AS p FROM types)"""
    ]
    for k in range(_MARKOV_ITERS):
        stages.append(
            f"""
    v{k + 1} AS MATERIALIZED (
        SELECT m.next_type AS typ, SUM(v{k}.p * m.p) AS p
        FROM v{k} JOIN m ON m.prev_type = v{k}.typ
        GROUP BY m.next_type
    )"""
        )
    return (
        _MARKOV_M_SQL
        + ","
        + ",".join(stages)
        + f"""
    SELECT typ AS event_type, round(p, 6) AS stationary_p
    FROM v{_MARKOV_ITERS}
    """
    )


@query(
    "q_markov_stationary",
    oracle=_markov_oracle(),
    tags=("events", "iterative"),
)
def q_markov_stationary(spark: SparkSession, d: str):
    """Stationary distribution of the user-behaviour Markov chain
    (where does a random surfer of the event graph spend time?) via
    power iteration on the q_transition_matrix chain — the PageRank
    primitive applied to the event-type graph.

    Scale shape: the distributed work is exactly one pass — the
    user-keyed LAG + the |types|²-bounded transition-count aggregate
    (identical to q_transition_matrix). The matrix is then COLLECTED
    (bounded by the event-type vocabulary squared — 25 rows here,
    never corpus-sized) and the 40 vector iterations run driver-side
    in microseconds, exactly like q_kmeans_train's k-row center
    collect. Iterating distributed would cost 40 tiny jobs for a
    matrix that fits in a cache line. Summation inside each iteration
    runs in sorted state order on both engines; the result is rounded
    to 6dp (contraction keeps cross-engine float drift ~1e-14).

    Dangling guard: every state must have outgoing mass (true here —
    each event type both precedes and follows others); states never
    appearing as prev_type would leak mass and are asserted against."""
    e = load_table(spark, d, "events")
    m_rows = transition_matrix(e).collect()  # bounded: |types|^2
    states = sorted({r["prev_type"] for r in m_rows})
    next_states = {r["next_type"] for r in m_rows}
    assert next_states <= set(states), "dangling state: mass would leak"
    p = {(r["prev_type"], r["next_type"]): r["n"] for r in m_rows}
    row_tot = {
        s: sum(n for (a, _), n in p.items() if a == s) for s in states
    }
    prob = {(a, b): n / row_tot[a] for (a, b), n in p.items()}
    v = {s: 1.0 / len(states) for s in states}
    for _ in range(_MARKOV_ITERS):
        v = {
            t: sum(v[s] * prob.get((s, t), 0.0) for s in states)
            for t in states
        }
    # Round half-away-from-zero to match both engines' SQL round()
    # (Python's built-in round is banker's).
    import math

    rows = [
        (s, math.floor(v[s] * 1e6 + 0.5) / 1e6) for s in states
    ]
    return spark.createDataFrame(
        rows, "event_type string, stationary_p double"
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


_LP_TOPK = 20


def _link_predict_oracle() -> str:
    return f"""
    WITH {sim_edges_sql().strip()},
    und AS (
        SELECT a AS u, b AS v FROM e
        UNION ALL
        SELECT b AS u, a AS v FROM e
    ),
    deg AS (SELECT u, COUNT(*) AS dg FROM und GROUP BY u),
    common AS (
        SELECT x.v AS a, y.v AS c, COUNT(*) AS cn
        FROM und x JOIN und y ON y.u = x.u AND x.v < y.v
        GROUP BY x.v, y.v
    ),
    nonedge AS (
        SELECT cm.a, cm.c, cm.cn
        FROM common cm
        LEFT JOIN e ON e.a = cm.a AND e.b = cm.c
        WHERE e.a IS NULL
    ),
    scored AS (
        SELECT ne.a, ne.c, ne.cn,
               round(CAST(ne.cn AS DOUBLE)
                     / (da.dg + dc.dg - ne.cn), 6) AS jaccard
        FROM nonedge ne
        JOIN deg da ON da.u = ne.a
        JOIN deg dc ON dc.u = ne.c
    )
    SELECT a, c, CAST(cn AS BIGINT) AS common_neighbors, jaccard
    FROM scored
    ORDER BY jaccard DESC, a, c
    LIMIT {_LP_TOPK}
    """


@query("q_link_predict", oracle=_link_predict_oracle(), tags=("graph", "similarity"))
def q_link_predict(spark: SparkSession, d: str):
    """Link prediction on the bucketed similarity graph: for every
    NON-adjacent pair with at least one common neighbor, the Jaccard
    neighborhood score |N(a)∩N(c)| / |N(a)∪N(c)|, top-20 — the
    classical common-neighbors recommender ('these two documents
    share many near-duplicates but were never compared directly'),
    and the candidate generator for a second-pass exact comparison in
    dedup pipelines.

    Scale shape: candidate pairs come from the wedge join (edges
    joined on the SHARED endpoint — the q_triangle_count pattern), so
    cost is Σ deg², bounded by the LSH bucket cap, never corpus².
    Existing edges drop out via a left-anti join on the pair key;
    degrees broadcast (node-sized). The final top-k is
    TakeOrderedAndProject on the ROUNDED score with (a, c) tiebreak —
    no global sort materialises."""
    e = track(sim_edges_spark(spark, d).persist())
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    x = und.select("u", F.col("v").alias("a"))
    y = und.select("u", F.col("v").alias("c"))
    common = (
        x.join(y, "u")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = common.join(
        e, (e.a == common.a) & (e.b == common.c), "left_anti"
    )
    da = deg.select(F.col("u").alias("a"), F.col("dg").alias("da"))
    dc = deg.select(F.col("u").alias("c"), F.col("dg").alias("dc"))
    scored = (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            "a",
            "c",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double") / (F.col("da") + F.col("dc") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "a", "c"
    ).limit(_LP_TOPK)


def _modularity_oracle() -> str:
    return f"""
    WITH {sim_edges_sql().strip()},
    -- min-label connected components via recursive closure (bounded:
    -- the bucketed edge set is sparse and cluster diameters are small)
    und AS (
        SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ),
    labels AS (
        WITH RECURSIVE reach(node, root) AS (
            SELECT DISTINCT u AS node, u AS root FROM und
            UNION
            SELECT und.v, reach.root
            FROM reach JOIN und ON und.u = reach.node
            WHERE reach.root < und.v
        )
        SELECT node, MIN(root) AS comp FROM reach GROUP BY node
    ),
    m AS (SELECT COUNT(*) AS m FROM e),
    intra AS (
        SELECT la.comp, COUNT(*) AS e_c
        FROM e
        JOIN labels la ON la.node = e.a
        JOIN labels lb ON lb.node = e.b AND lb.comp = la.comp
        GROUP BY la.comp
    ),
    degsum AS (
        SELECT l.comp, SUM(cnt) AS d_c
        FROM (SELECT u, COUNT(*) AS cnt FROM und GROUP BY u) dg
        JOIN labels l ON l.node = dg.u
        GROUP BY l.comp
    ),
    terms AS (
        SELECT ds.comp,
               COALESCE(i.e_c, 0) AS e_c, ds.d_c, m.m
        FROM degsum ds LEFT JOIN intra i ON i.comp = ds.comp, m
    )
    SELECT CAST(MAX(m) AS BIGINT) AS n_edges,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           round(CAST(SUM(CAST(
                     CAST(e_c AS DOUBLE) / m
                     - (CAST(d_c AS DOUBLE) / (2 * m))
                       * (CAST(d_c AS DOUBLE) / (2 * m))
                 AS DECIMAL(38,10))) AS DOUBLE), 6) AS modularity
    FROM terms
    """


@query("q_modularity", oracle=_modularity_oracle(), tags=("graph", "quality"))
def q_modularity(spark: SparkSession, d: str):
    """Newman modularity Q = Σ_c (e_c/m − (d_c/2m)²) of the
    connected-component partition of the bucketed similarity graph —
    the partition-quality score that tells a dedup pipeline whether
    its clusters are denser than chance (Q near 0 means the 'clusters'
    are an artifact of degree, not structure; the metric consumed when
    tuning the LSH threshold).

    Components come from the same superstep min-label propagation as
    q_dedup_components (localCheckpoint between rounds, convergence
    asserted by a scalar sum); the modularity terms are then two
    component-keyed aggregates (intra-edge count, degree mass) over
    the labeled edge list, summed in exact decimal on a
    components-sized table. The oracle derives labels independently
    via a recursive closure, so the label propagation itself is also
    cross-checked."""
    e = track(sim_edges_spark(spark, d).persist())
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    # components from the ONE shared superstep kernel (pointer-jumping
    # min-label propagation, convergence-asserted) — same fixpoint as
    # the inline loop it replaces: label = min node id reachable
    labels = propagate_min_labels(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
    ).select(F.col("doc_id").alias("u"), F.col("label").alias("comp"))
    la = labels.select(F.col("u").alias("a"), F.col("comp").alias("ca"))
    lb = labels.select(F.col("u").alias("b"), F.col("comp").alias("cb"))
    intra = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("comp"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    degsum = (
        und.groupBy("u")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(labels, "u")
        .groupBy("comp")
        .agg(F.sum("cnt").alias("d_c"))
    )
    m_df = e.agg(F.count(F.lit(1)).alias("m"))
    terms = (
        degsum.join(intra, "comp", "left")
        .withColumn("e_c", F.coalesce(F.col("e_c"), F.lit(0)))
        .crossJoin(F.broadcast(m_df))
    )
    md = F.col("m").cast("double")
    term = F.col("e_c").cast("double") / md - (
        F.col("d_c").cast("double") / (2 * md)
    ) * (F.col("d_c").cast("double") / (2 * md))
    return terms.agg(
        F.max("m").cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_components"),
        F.round(F.sum(term.cast(DEC)).cast("double"), 6).alias("modularity"),
    )


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
