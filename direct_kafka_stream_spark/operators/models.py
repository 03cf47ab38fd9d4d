"""Model fitting and evaluation: closed-form and one-step regressions,
naive Bayes, decision stumps, k-means and k-center, PCA, item-item
collaborative filtering, association rules, local outlier factors,
and the metrics that score them (ROC, PR-AUC, calibration, Brier,
lift, nDCG, MRR, ANN recall, kappa, per-class F1, Durbin-Watson).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC, bounded_window_key, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.features import (
    FH_DIM,
    QC_BIAS,
    qc_weight_sql,
    quality_scores,
)
from direct_kafka_stream_spark.registry import query


@query(
    "q_ols_multi",
    oracle=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('l_quantity')} AS s1,
               {dsum_sql('l_discount')} AS s2,
               {dsum_sql('l_extendedprice')} AS sy,
               {dsum_sql('l_quantity * l_quantity')} AS s11,
               {dsum_sql('l_quantity * l_discount')} AS s12,
               {dsum_sql('l_discount * l_discount')} AS s22,
               {dsum_sql('l_quantity * l_extendedprice')} AS s1y,
               {dsum_sql('l_discount * l_extendedprice')} AS s2y
        FROM lineitem
    ),
    solved AS (
        SELECT n, s1, s2, sy, s1y, s2y,
               (n * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)) AS det,
               (sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)) AS det0,
               (n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)) AS det1,
               (n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)) AS det2
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(det0 / NULLIF(det, 0.0), 6) AS b0,
           round(det1 / NULLIF(det, 0.0), 6) AS b1,
           round(det2 / NULLIF(det, 0.0), 6) AS b2
    FROM solved
    """,
    tags=("ml", "regression"),
)
def q_ols_multi(spark: SparkSession, d: str):
    """Two-feature linear regression trained in one SQL pass:
    l_extendedprice ~ b0 + b1*l_quantity + b2*l_discount via the
    normal equations, with the 3x3 system solved by Cramer's rule on
    the moment sums — multi-feature regression TRAINING as a
    distributed aggregation (the engine-native regr_slope surface in
    q_agg_regression is single-feature only).

    Scale shape: ONE map-side-combined aggregation produces the nine
    sufficient moments; everything after is scalar arithmetic on one
    row. Exactness: every moment goes through the exact-decimal
    contract (identical rounded inputs on both engines), and the
    determinant expressions are written in the SAME operation order
    on both sides, so the IEEE arithmetic is bit-identical; final
    coefficients rounded 6dp."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    q, disc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("s1"),
        dsum(disc).alias("s2"),
        dsum(y).alias("sy"),
        dsum(q * q).alias("s11"),
        dsum(q * disc).alias("s12"),
        dsum(disc * disc).alias("s22"),
        dsum(q * y).alias("s1y"),
        dsum(disc * y).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    sy, s11, s12 = F.col("sy"), F.col("s11"), F.col("s12")
    s22, s1y, s2y = F.col("s22"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    det0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    det1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    # NULLIF: constant features make the normal equations singular —
    # coefficients are undefined (NULL), not an ANSI abort
    detg = F.nullif(det, F.lit(0.0))
    return m.select(
        n.cast("bigint").alias("n"),
        F.round(det0 / detg, 6).alias("b0"),
        F.round(det1 / detg, 6).alias("b1"),
        F.round(det2 / detg, 6).alias("b2"),
    )


# Ridge penalty — shared literal on both engines (not a tuned value;
# the point is the closed-form solve with a regularized diagonal).
_RIDGE_L = 10.0


@query(
    "q_ridge_closed",
    oracle=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('l_quantity')} AS s1,
               {dsum_sql('l_discount')} AS s2,
               {dsum_sql('l_extendedprice')} AS sy,
               {dsum_sql('l_quantity * l_quantity')} AS s11,
               {dsum_sql('l_quantity * l_discount')} AS s12,
               {dsum_sql('l_discount * l_discount')} AS s22,
               {dsum_sql('l_quantity * l_extendedprice')} AS s1y,
               {dsum_sql('l_discount * l_extendedprice')} AS s2y
        FROM lineitem
    ),
    solved AS (
        SELECT n, sy, s1y, s2y,
               (n * ((s11 + {_RIDGE_L!r}) * (s22 + {_RIDGE_L!r}) - s12 * s12)
                - s1 * (s1 * (s22 + {_RIDGE_L!r}) - s12 * s2)
                + s2 * (s1 * s12 - (s11 + {_RIDGE_L!r}) * s2)) AS det,
               (sy * ((s11 + {_RIDGE_L!r}) * (s22 + {_RIDGE_L!r}) - s12 * s12)
                - s1 * (s1y * (s22 + {_RIDGE_L!r}) - s12 * s2y)
                + s2 * (s1y * s12 - (s11 + {_RIDGE_L!r}) * s2y)) AS det0,
               (n * (s1y * (s22 + {_RIDGE_L!r}) - s12 * s2y)
                - sy * (s1 * (s22 + {_RIDGE_L!r}) - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)) AS det1,
               (n * ((s11 + {_RIDGE_L!r}) * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - (s11 + {_RIDGE_L!r}) * s2)) AS det2
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(det0 / det, 6) AS b0,
           round(det1 / det, 6) AS b1,
           round(det2 / det, 6) AS b2
    FROM solved
    """,
    tags=("ml", "regression"),
)
def q_ridge_closed(spark: SparkSession, d: str):
    """Ridge regression (L2-regularized least squares) trained in one
    SQL pass: l_extendedprice ~ quantity + discount with λ = 10 added
    to the feature diagonal of the normal equations — the
    numerically-stabilized sibling of q_ols_multi (same nine sufficient
    moments, regularized 3×3 Cramer solve; the intercept row is NOT
    penalized, the standard convention).

    Scale shape identical to q_ols_multi: one map-side-combined moment
    aggregation, then scalar arithmetic on one row. The determinant
    expressions share operation order verbatim with the oracle so IEEE
    arithmetic is bit-identical; coefficients rounded 6 dp."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    q, disc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("s1"),
        dsum(disc).alias("s2"),
        dsum(y).alias("sy"),
        dsum(q * q).alias("s11"),
        dsum(q * disc).alias("s12"),
        dsum(disc * disc).alias("s22"),
        dsum(q * y).alias("s1y"),
        dsum(disc * y).alias("s2y"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11") , F.col("s12"), F.col("s22")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    L = F.lit(_RIDGE_L)
    det = (
        n * ((s11 + L) * (s22 + L) - s12 * s12)
        - s1 * (s1 * (s22 + L) - s12 * s2)
        + s2 * (s1 * s12 - (s11 + L) * s2)
    )
    det0 = (
        sy * ((s11 + L) * (s22 + L) - s12 * s12)
        - s1 * (s1y * (s22 + L) - s12 * s2y)
        + s2 * (s1y * s12 - (s11 + L) * s2y)
    )
    det1 = (
        n * (s1y * (s22 + L) - s12 * s2y)
        - sy * (s1 * (s22 + L) - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    det2 = (
        n * ((s11 + L) * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - (s11 + L) * s2)
    )
    return m.select(
        n.cast("bigint").alias("n"),
        F.round(det0 / det, 6).alias("b0"),
        F.round(det1 / det, 6).alias("b1"),
        F.round(det2 / det, 6).alias("b2"),
    )


@query(
    "q_logistic_step",
    oracle=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('l_quantity')} AS sx,
               {dsum_sql('l_quantity * l_quantity')} AS sxx,
               {dsum_sql("CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END - 0.5")}
                   AS g0,
               {dsum_sql("l_quantity * (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END - 0.5)")}
                   AS g1
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((0.25 * sxx * g0 - 0.25 * sx * g1)
                 / NULLIF(0.0625 * (n * sxx - sx * sx), 0.0), 6) AS b0,
           round((0.25 * n * g1 - 0.25 * sx * g0)
                 / NULLIF(0.0625 * (n * sxx - sx * sx), 0.0), 6) AS b1
    FROM m
    """,
    tags=("ml", "training"),
)
def q_logistic_step(spark: SparkSession, d: str):
    """One Newton–Raphson step of logistic-regression training
    (P(returnflag = 'R') ~ quantity) from β = 0: at the zero vector
    every fitted probability is exactly ½, so the gradient is
    Σ x·(y − ½) and the Hessian ¼·XᵀX — both plain moment
    aggregations, and the step solves a 2×2 system in closed form.
    This is the distributed-IRLS building block (each further
    iteration is the same shape with re-weighted moments), the GLM
    sibling of q_kmeans_step.

    ONE map-side-combined pass produces all five moments; the solve is
    scalar arithmetic in identical operation order on both engines.
    y − ½ = ±½ exactly, so every gradient term is exact in decimal."""
    li = load_table(spark, d, "lineitem")
    x = F.col("l_quantity")
    y = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sxx"),
        dsum(y - 0.5).alias("g0"),
        dsum(x * (y - 0.5)).alias("g1"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    g0, g1 = F.col("g0"), F.col("g1")
    # NULLIF: a constant feature makes the Hessian singular — the
    # step is undefined (NULL) identically on both engines
    det = F.nullif(0.0625 * (n * sxx - sx * sx), F.lit(0.0))
    return m.select(
        n.cast("bigint").alias("n"),
        F.round((0.25 * sxx * g0 - 0.25 * sx * g1) / det, 6).alias("b0"),
        F.round((0.25 * n * g1 - 0.25 * sx * g0) / det, 6).alias("b1"),
    )


# Naive Bayes: vocabulary size (top-V corpus terms by df) and add-one
# smoothing — shared constants on both engines.
_NB_V = 200


def _nb_oracle() -> str:
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(list_filter(string_split(text, ' '),
                                                w -> w != '')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, COUNT(DISTINCT doc_id) AS df
            FROM toks GROUP BY word
            ORDER BY df DESC, word LIMIT {_NB_V}
        )
    ),
    vt AS (SELECT t.doc_id, t.lang, t.word FROM toks t JOIN vocab USING (word)),
    cls AS (SELECT lang AS clang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    cnt AS (
        SELECT lang AS clang, word, COUNT(*) AS c
        FROM vt GROUP BY lang, word
    ),
    tl AS (SELECT clang, SUM(c) AS t FROM cnt GROUP BY clang),
    wt AS (
        SELECT v.word, cl.clang,
               round(ln((COALESCE(c.c, 0) + 1.0)
                        / (tl.t + {_NB_V}.0)), 9) AS lw
        FROM vocab v
        CROSS JOIN cls cl
        JOIN tl ON tl.clang = cl.clang
        LEFT JOIN cnt c ON c.clang = cl.clang AND c.word = v.word
    ),
    dtf AS (
        SELECT doc_id, lang, word, COUNT(*) AS tf
        FROM vt GROUP BY doc_id, lang, word
    ),
    contrib AS (
        SELECT d.doc_id, d.lang, w.clang,
               CAST(ROUND(SUM(CAST(round(d.tf * w.lw, 9)
                   AS DECIMAL(38,10))), 6) AS DOUBLE) AS body
        FROM dtf d JOIN wt w USING (word)
        GROUP BY d.doc_id, d.lang, w.clang
    ),
    scored AS (
        SELECT dd.doc_id, dd.lang AS actual, cl.clang,
               round(round(ln(cl.n_docs / tot.n), 9)
                     + COALESCE(c.body, 0.0), 6) AS score
        FROM documents dd
        CROSS JOIN cls cl
        CROSS JOIN tot
        LEFT JOIN contrib c
          ON c.doc_id = dd.doc_id AND c.clang = cl.clang
    ),
    pred AS (
        SELECT doc_id, actual, clang AS predicted
        FROM (SELECT doc_id, actual, clang,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, clang) AS rn
              FROM scored)
        WHERE rn = 1
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred GROUP BY actual, predicted
    """


@query("q_naive_bayes", oracle=_nb_oracle(), tags=("ml", "text", "classification"))
def q_naive_bayes(spark: SparkSession, d: str):
    """Multinomial naive-Bayes language classifier trained AND applied
    in one DAG (resubstitution confusion matrix): top-200-df vocabulary,
    add-one-smoothed per-language token log-probabilities, document
    scores as tf-weighted sums plus the log prior, argmax per document —
    the generative-baseline complement of q_textcat_profiles
    (profile-distance) and q_text_langid (heuristic rules).

    Scale shape: the corpus reduces to (lang × vocab) count tables
    (bounded, broadcast); per-doc scoring joins each document's
    vocab-restricted term counts to the broadcast weight grid —
    fan-out ≤ tokens-in-vocab × |langs| per doc. Docs with zero vocab
    hits still score via the prior (left-join coalesce). Exactness:
    every ln is rounded 9 dp (the q_psi transcendental discipline)
    before tf-weighting; per-(doc,lang) sums are exact decimal; the
    argmax compares 6 dp-rounded scores tie-broken by language."""
    docs = load_table(spark, d, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(text.tokens()).alias("word"),
    )
    vocab = (
        toks.groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.col("df").desc(), "word")
        .limit(_NB_V)
        .select("word")
    )
    vt = toks.join(F.broadcast(vocab), "word")
    cls = docs.groupBy(F.col("lang").alias("clang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # persisted: ONE corpus explode builds the per-doc tf table; the
    # training counts are then a re-aggregation of it (Σ tf), so the
    # corpus is never exploded twice and the cached table is the
    # compressed per-doc census, not the raw token stream
    # Round 12: not persisted — cnt and contrib both hang off the same
    # (doc_id, lang, word) aggregate exchange; AQE stage reuse serves
    # both (measured 0.87x vs the persist).
    dtf = vt.groupBy("doc_id", "lang", "word").agg(
        F.count(F.lit(1)).alias("tf")
    )
    cnt = dtf.groupBy(F.col("lang").alias("clang"), "word").agg(
        F.sum("tf").alias("c")
    )
    tl = cnt.groupBy("clang").agg(F.sum("c").alias("t"))
    wt = (
        vocab.crossJoin(F.broadcast(cls.join(tl, "clang")))
        .join(cnt, ["clang", "word"], "left")
        .select(
            "word",
            "clang",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                    / (F.col("t") + float(_NB_V))
                ),
                9,
            ).alias("lw"),
        )
    )
    contrib = (
        dtf.join(F.broadcast(wt), "word")
        .groupBy("doc_id", F.col("lang").alias("actual"), "clang")
        .agg(
            F.round(
                F.sum(F.round(F.col("tf") * F.col("lw"), 9).cast(DEC)), 6
            )
            .cast("double")
            .alias("body")
        )
    )
    scored = (
        docs.select("doc_id", F.col("lang").alias("actual"))
        .crossJoin(F.broadcast(cls.crossJoin(tot)))
        .join(contrib, ["doc_id", "actual", "clang"], "left")
        .select(
            "doc_id",
            "actual",
            "clang",
            F.round(
                F.round(F.log(F.col("n_docs") / F.col("n")), 9)
                + F.coalesce(F.col("body"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    pred = (
        scored.groupBy("doc_id", "actual")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), F.col("clang"))).alias("b"))
        .select("actual", F.col("b.clang").alias("predicted"))
    )
    return pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )


_KM_SEEDS = (1, 2, 3, 4)  # fixture vectors used as initial centers


@query(
    "q_kmeans_step",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cv AS (SELECT vec_id AS cid, i, x AS cx FROM ev
           WHERE vec_id IN {_KM_SEEDS!r}),
    dists AS (
        SELECT e.vec_id, c.cid,
               round(SUM((e.x - c.cx) * (e.x - c.cx)), 6) AS d2
        FROM ev e JOIN cv c USING (i)
        GROUP BY e.vec_id, c.cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM dists
        ) WHERE rn = 1
    )
    SELECT a.cid, CAST(e.i AS INT) AS i,
           round(CAST(SUM(CAST(e.x AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(*), 6) AS new_center,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM assign a
    JOIN ev e ON e.vec_id = a.vec_id
    GROUP BY a.cid, e.i
    """,
    tags=("llm", "embedding", "iterative"),
)
def q_kmeans_step(spark: SparkSession, d: str):
    """One Lloyd's k-means iteration over the embedding corpus
    (k = 4, fixture vectors as fixed seeds): assign every vector to
    its nearest center by squared L2, then recompute each center as
    the exact decimal mean of its members — the training step behind
    the IVF index (q_sim_ivf) and corpus clustering for mixture
    balancing. Distances are rounded to 6 dp before the argmin (the
    two engines accumulate the position sum in different orders) and
    ties break on center id, so the assignment is bit-stable. Fully
    shuffled-bounded: distances are a (corpus × k) join on position,
    means are one groupBy — no driver iteration inside the step (the
    outer k-means loop would checkpoint between steps exactly like
    q_dedup_components)."""
    e = load_table(spark, d, "embeddings")
    ev = spread_scan(e, "vec_id").select(
        "vec_id", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    cv = (
        ev.filter(F.col("vec_id").isin(*_KM_SEEDS))
        .select(F.col("vec_id").alias("cid"), "i", F.col("x").alias("cx"))
    )
    dists = (
        ev.join(F.broadcast(cv), "i")
        .groupBy("vec_id", "cid")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))), 6
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    return (
        assign.join(ev, "vec_id")
        .groupBy("cid", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("new_center"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cid", "i", "new_center", "n_members")
    )


_KM_T = 8  # bounded Lloyd budget: exactly T rounds (or the fixed point)


def _kmeans_train_sql(t: int) -> str:
    """Unrolled t-round Lloyd training as chained CTEs. The Spark side
    may stop early ONLY at the fixed point (assignments stable ⇒ every
    later round is a no-op), so a fixed unrolling is exact whether or
    not convergence happens before round t."""
    parts = [
        """ev AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    )""",
        f"c0 AS (SELECT vec_id AS cid, i, x AS cx FROM ev WHERE vec_id IN {_KM_SEEDS!r})",
    ]
    for r in range(1, t + 1):
        parts.append(
            f"""a{r} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY round(SUM((e.x - c.cx) * (e.x - c.cx)), 6),
                                               c.cid) AS rn
            FROM ev e JOIN c{r - 1} c ON c.i = e.i
            GROUP BY e.vec_id, c.cid
        ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""c{r} AS (
        SELECT a.cid, e.i,
               round(CAST(SUM(CAST(e.x AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*), 6) AS cx,
               CAST(COUNT(*) AS BIGINT) AS nm
        FROM a{r} a JOIN ev e ON e.vec_id = a.vec_id
        GROUP BY a.cid, e.i
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT cid, CAST(i AS INT) AS i, cx AS center, nm AS n_members FROM c{t}"""
    )


@query(
    "q_kmeans_train",
    oracle=_kmeans_train_sql(_KM_T),
    tags=("llm", "embedding", "iterative"),
)
def q_kmeans_train(spark: SparkSession, d: str):
    """Bounded k-means training: exactly {_KM_T} Lloyd rounds (k = 4,
    fixture seeds), stopping early only when the centers reach their
    fixed point — at which point every remaining round is a no-op, so
    the result equals the oracle's fixed unrolling either way. This is
    the training loop behind q_sim_ivf's coarse quantizer (production
    would feed these centers into the IVF bucket assignment).

    Scale shape, mirroring MLlib's own k-means: centers are k×dim
    doubles that live on the DRIVER and re-enter each round as LITERAL
    arrays inside the plan — so there is no growing lineage to
    checkpoint, and the nearest-center argmin is a pure per-row
    ``least()`` over k (distance, cid) structs: ZERO shuffle, zero
    crossJoin, zero assignment broadcast (round 3 rework — the
    previous shape shuffled a k×corpus crossJoin by vec_id and
    broadcast a corpus-sized assignment table every round; measured
    9.6 s → 5.5 s at sf0.1, with the remaining time dominated by
    per-round fixed job overhead, not data). The only exchange per round is the
    map-side-combined (cid, i) mean — k×dim groups. The per-round
    collect is k×dim values, not data. Distances are rounded to 6 dp
    before the argmin and ties break on center id, keeping the
    assignment bit-stable across engines (same contract as
    q_kmeans_step)."""
    e = load_table(spark, d, "embeddings").select("vec_id", "embedding")

    def to_arrays(rows):
        """rows of (cid, i, value[, n]) → {cid: [v_1..v_dim]} sorted by i."""
        cents: dict[int, list] = {}
        for row in rows:
            cents.setdefault(row[0], []).append((row[1], row[2]))
        return {cid: [v for _, v in sorted(vals)] for cid, vals in cents.items()}

    cents = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id").isin(*_KM_SEEDS)).collect()
    }
    out_schema = "cid long, i int, center double, n_members long"
    if not cents:  # empty corpus: no seed vectors, nothing to train
        return spark.createDataFrame([], out_schema)
    out_rows = None
    for _ in range(_KM_T):
        # nearest center as a per-row expression: least() over k
        # (rounded-distance, cid) structs built from driver-side
        # literal center arrays — comparison order (d2, cid) gives the
        # same tie-break as the oracle's ROW_NUMBER. (Measured: literal
        # arrays beat a per-round single-row broadcast — the broadcast
        # setup costs more than the per-round codegen it saves.)
        candidates = []
        for cid, arr in sorted(cents.items()):
            carr = F.array(*[F.lit(v) for v in arr])
            d2 = F.round(similarity.sq_dist("embedding", carr), 6)
            candidates.append(
                F.struct(d2.alias("d2"), F.lit(cid).cast("long").alias("cid"))
            )
        best = candidates[0] if len(candidates) == 1 else F.least(*candidates)
        assigned = e.select(best.getField("cid").alias("cid"), "embedding")
        newc = (
            assigned.select("cid", F.posexplode("embedding").alias("pos0", "xf"))
            .select("cid", (F.col("pos0") + 1).cast("int").alias("i"), "xf")
            .groupBy("cid", "i")
            .agg(
                F.round(
                    F.sum(
                        F.col("xf").cast("double").cast("decimal(38,10)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("center"),
                F.count(F.lit(1)).alias("n_members"),
            )
        )
        out_rows = newc.collect()
        new_cents = to_arrays(out_rows)
        if new_cents == cents:  # fixed point — remaining rounds no-op
            break
        cents = new_cents
    return spark.createDataFrame(out_rows, out_schema)


_ROC_TAUS = (0.40, 0.42, 0.44, 0.46, 0.48, 0.50)


def scored_labeled_sql() -> str:
    return f"""
        SELECT s.doc_id,
               round(1.0 / (1.0 + exp(-s.z)), 6) AS score,
               CASE WHEN d.text LIKE '%the%' THEN 1 ELSE 0 END AS y
        FROM (
            SELECT f.doc_id,
                   SUM(f.n * {qc_weight_sql('f.bucket')}) / SUM(f.n)
                     + {QC_BIAS} AS z
            FROM (
                SELECT doc_id,
                       CAST(CAST(concat('0x', substr(md5(word), 1, 2)) AS BIGINT)
                            % {FH_DIM} AS BIGINT) AS bucket,
                       COUNT(*) AS n
                FROM (
                    SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '),
                                              w -> w != '')) AS word
                    FROM documents
                ) GROUP BY doc_id, bucket
            ) f GROUP BY f.doc_id
        ) s JOIN documents d ON d.doc_id = s.doc_id
    """


def scored_labeled(spark, d):
    docs = load_table(spark, d, "documents")
    scores = quality_scores(docs).select("doc_id", "score")
    labels = docs.select(
        "doc_id",
        F.when(F.col("text").like("%the%"), 1).otherwise(0).alias("y"),
    )
    return scores.join(labels, "doc_id")


def _roc_oracle() -> str:
    taus = ", ".join(f"({t})" for t in _ROC_TAUS)
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    taus(tau) AS (VALUES {taus})
    SELECT tau,
           CAST(COUNT(*) FILTER (WHERE score >= tau AND y = 1) AS BIGINT) AS tp,
           CAST(COUNT(*) FILTER (WHERE score >= tau AND y = 0) AS BIGINT) AS fp,
           round(COUNT(*) FILTER (WHERE score >= tau AND y = 1)
                 / CAST(NULLIF(SUM(y), 0) AS DOUBLE), 6) AS tpr,
           round(COUNT(*) FILTER (WHERE score >= tau AND y = 0)
                 / CAST(NULLIF(COUNT(*) - SUM(y), 0) AS DOUBLE), 6) AS fpr,
           round(COUNT(*) FILTER (WHERE score >= tau AND y = 1)
                 / CAST(NULLIF(COUNT(*) FILTER (WHERE score >= tau), 0)
                        AS DOUBLE), 6) AS precision
    FROM taus CROSS JOIN sl
    GROUP BY tau
    ORDER BY tau
    """


@query(
    "q_roc_curve",
    oracle=_roc_oracle(),
    tags=("ml", "evaluation"),
)
def q_roc_curve(spark: SparkSession, d: str):
    """ROC / precision operating points for the hashed-linear quality
    classifier against a deterministic label (document contains
    'the'): TP/FP counts, TPR, FPR and precision at six thresholds —
    the curve read before fixing the curation gate's tau
    (q_curation_v2 hard-codes one point of exactly this curve).

    The classifier scores once (doc-keyed aggregation over the hashed
    token stream); the six-literal threshold table fans the scored
    docs out in one pass (conditional counts per threshold — no
    re-scan per operating point). All counts exact; rates are integer
    ratios."""
    sl = scored_labeled(spark, d)
    taus = spark.createDataFrame([(t,) for t in _ROC_TAUS], "tau DOUBLE")
    pos = F.col("score") >= F.col("tau")
    return (
        F.broadcast(taus)
        .crossJoin(sl)
        .groupBy("tau")
        .agg(
            F.count(F.when(pos & (F.col("y") == 1), 1)).alias("tp"),
            F.count(F.when(pos & (F.col("y") == 0), 1)).alias("fp"),
            F.round(
                F.try_divide(
                    F.count(F.when(pos & (F.col("y") == 1), 1)),
                    F.nullif(F.sum("y").cast("double"), F.lit(0.0)),
                ),
                6,
            ).alias("tpr"),
            F.round(
                F.try_divide(
                    F.count(F.when(pos & (F.col("y") == 0), 1)),
                    F.nullif(
                        (F.count(F.lit(1)) - F.sum("y")).cast("double"),
                        F.lit(0.0),
                    ),
                ),
                6,
            ).alias("fpr"),
            F.round(
                F.try_divide(
                    F.count(F.when(pos & (F.col("y") == 1), 1)),
                    F.nullif(
                        F.count(F.when(pos, 1)).cast("double"), F.lit(0.0)
                    ),
                ),
                6,
            ).alias("precision"),
        )
        .orderBy("tau")
    )


_CAL_BINS = 10


@query(
    "q_calibration_bins",
    oracle=f"""
    WITH sl AS ({scored_labeled_sql()}),
    rng AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM sl),
    binned AS (
        SELECT LEAST(CAST(FLOOR((score - lo)
                                / NULLIF((hi - lo) / {_CAL_BINS}, 0))
                          AS INT), {_CAL_BINS - 1}) AS bin,
               score, y
        FROM sl CROSS JOIN rng
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(AVG(score), 6) AS mean_score,
           round(AVG(CAST(y AS DOUBLE)), 6) AS label_rate
    FROM binned
    GROUP BY bin
    ORDER BY bin
    """,
    tags=("ml", "evaluation"),
)
def q_calibration_bins(spark: SparkSession, d: str):
    """Calibration (reliability) table: scored documents bucketed into
    10 equi-width score bins, each reporting mean score vs empirical
    label rate — the diagnostic that says whether 0.7 means 70%
    (well-calibrated) before anyone treats the quality score as a
    probability for mixture weighting.

    One scoring pass, a 2-value range broadcast, one binned rollup.
    mean_score averages 6dp-rounded scores (exact inputs; the AVG of
    n <= corpus values is sum/count — both engines' integer-exact sum
    of rounded values divided identically... rounded to 6dp for the
    residual last-ulp accumulation difference)."""
    sl = scored_labeled(spark, d)
    rng = sl.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    width = F.nullif((F.col("hi") - F.col("lo")) / _CAL_BINS, F.lit(0.0))
    binned = sl.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.floor((F.col("score") - F.col("lo")) / width).cast("int"),
            F.lit(_CAL_BINS - 1),
        ).alias("bin"),
        "score",
        "y",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("score"), 6).alias("mean_score"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("label_rate"),
        )
        .orderBy("bin")
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


# ---------------------------------------------------------------------------
# q_brier — Brier score with the Murphy calibration decomposition
# ---------------------------------------------------------------------------

_BR_BINS = 10


def _brier_oracle() -> str:
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    binned AS (
        SELECT LEAST(CAST(floor(score * {_BR_BINS}) AS BIGINT),
                     {_BR_BINS - 1}) AS bin,
               score, y
        FROM sl
    ),
    per_bin AS (
        SELECT bin, COUNT(*) AS n,
               {dsum_sql('score')} AS sp,
               CAST(SUM(y) AS BIGINT) AS sy,
               {dsum_sql('(score - y) * (score - y)')} AS sqerr
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS nn,
               CAST(SUM(sy) AS DOUBLE) / SUM(n) AS ybar,
               SUM(sqerr) AS sqerr
        FROM per_bin
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MAX(t.nn) AS BIGINT) AS n,
           round(MAX(t.sqerr) / MAX(t.nn), 6) AS brier,
           round(SUM(b.n * (b.sp / b.n - CAST(b.sy AS DOUBLE) / b.n)
                         * (b.sp / b.n - CAST(b.sy AS DOUBLE) / b.n))
                 / MAX(t.nn), 6) AS reliability,
           round(SUM(b.n * (CAST(b.sy AS DOUBLE) / b.n - t.ybar)
                         * (CAST(b.sy AS DOUBLE) / b.n - t.ybar))
                 / MAX(t.nn), 6) AS resolution,
           round(MAX(t.ybar) * (1.0 - MAX(t.ybar)), 6) AS uncertainty
    FROM per_bin b CROSS JOIN tot t
    """


@query("q_brier", oracle=_brier_oracle(), tags=("ml", "evaluation"))
def q_brier(spark: SparkSession, d: str):
    """Brier score of the quality classifier's probability against the
    'contains-the' label, with Murphy's three-way decomposition over
    ten probability bins: brier ≈ reliability − resolution +
    uncertainty — the single readout that separates "the model is
    miscalibrated" (reliability) from "the model can't discriminate"
    (low resolution). Completes the calibration kit with q_ece (bin
    |gap| mass) and q_calibration_bins (the raw reliability curve).

    One bin-keyed aggregate (map-side combined, ≤10 groups), then a
    bins×1 crossJoin of the global means — the statistic frame never
    exceeds ten rows after the first exchange. Squared errors are
    exact-decimal sums of bit-identical doubles (score is 6 dp-rounded
    before squaring on both engines)."""
    sl = scored_labeled(spark, d)
    binned = sl.select(
        F.least(
            F.floor(F.col("score") * _BR_BINS).cast("bigint"),
            F.lit(_BR_BINS - 1),
        ).alias("bin"),
        "score",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("score").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
        dsum((F.col("score") - F.col("y")) * (F.col("score") - F.col("y"))).alias(
            "sqerr"
        ),
    )
    tot = per_bin.agg(
        F.sum("n").cast("double").alias("nn"),
        (F.sum("sy").cast("double") / F.sum("n")).alias("ybar"),
        F.sum("sqerr").alias("t_sqerr"),
    )
    b = per_bin.crossJoin(F.broadcast(tot))
    pbar = F.col("sp") / F.col("n")
    ybin = F.col("sy").cast("double") / F.col("n")
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.max("nn").cast("bigint").alias("n"),
        F.round(F.max("t_sqerr") / F.max("nn"), 6).alias("brier"),
        F.round(
            F.sum(F.col("n") * (pbar - ybin) * (pbar - ybin)) / F.max("nn"), 6
        ).alias("reliability"),
        F.round(
            F.sum(F.col("n") * (ybin - F.col("ybar")) * (ybin - F.col("ybar")))
            / F.max("nn"),
            6,
        ).alias("resolution"),
        F.round(F.max("ybar") * (1.0 - F.max("ybar")), 6).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# q_lift_gain — decile lift / cumulative-gain table for the quality score
# ---------------------------------------------------------------------------


def _lift_oracle() -> str:
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    by_score AS (
        SELECT score, COUNT(*) AS n, SUM(y) AS pos
        FROM sl GROUP BY score
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
               CAST(SUM(y) AS DOUBLE) AS p
        FROM sl
    ),
    sweep AS (
        SELECT score, n, pos,
               SUM(n) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM by_score
    ),
    deciled AS (
        SELECT LEAST(CAST(ceil(s.cum * 10.0 / t.nn) AS INT), 10) AS decile,
               s.n, s.pos
        FROM sweep s CROSS JOIN tot t
    ),
    per_dec AS (
        SELECT decile, CAST(SUM(n) AS BIGINT) AS n,
               CAST(SUM(pos) AS BIGINT) AS pos
        FROM deciled GROUP BY decile
    )
    SELECT d.decile, d.n, d.pos,
           round(CAST(SUM(d.pos) OVER (ORDER BY d.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 / NULLIF(t.p, 0.0), 6) AS cum_capture,
           round((CAST(d.pos AS DOUBLE) / d.n)
                 / NULLIF(t.p / t.nn, 0.0), 6) AS lift
    FROM per_dec d CROSS JOIN tot t
    ORDER BY d.decile
    """


@query("q_lift_gain", oracle=_lift_oracle(), tags=("ml", "evaluation"))
def q_lift_gain(spark: SparkSession, d: str):
    """Decile lift / cumulative-gain table for the quality classifier:
    documents ranked by score split into ten equal-population buckets
    (score-group granularity — every doc with the same 6 dp score
    lands in one bucket, the deterministic tie rule), each reporting
    positives, cumulative capture rate, and lift over the base rate —
    the targeting readout that says 'the top 20% of scores holds X%
    of the positives'.

    Scale shape: same bounded sweep as q_auc_pr — deciles assign on
    the ≤10⁶-row distinct-score cumulative table, never by a global
    per-row NTILE; both windows are bounded (bounded_window_key) and
    all rates are exact-integer ratios rounded at 6 dp."""
    sl = scored_labeled(spark, d)
    by_score = sl.groupBy("score").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    tot = sl.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum("y").cast("double").alias("p"),
    )
    wdesc = Window.partitionBy(bounded_window_key("score")).orderBy(
        F.col("score").desc()
    )
    sweep = by_score.select(
        "n",
        "pos",
        F.sum("n")
        .over(wdesc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
    )
    deciled = sweep.crossJoin(F.broadcast(tot)).select(
        F.least(
            F.ceil(F.col("cum") * 10.0 / F.col("nn")).cast("int"), F.lit(10)
        ).alias("decile"),
        "n",
        "pos",
        "nn",
        "p",
    )
    per_dec = deciled.groupBy("decile", "nn", "p").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("pos").cast("bigint").alias("pos"),
    )
    wdec = Window.partitionBy(bounded_window_key("decile")).orderBy("decile")
    return per_dec.select(
        "decile",
        "n",
        "pos",
        F.round(
            F.sum("pos")
            .over(
                wdec.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .cast("double")
            / F.nullif(F.col("p"), F.lit(0.0)),
            6,
        ).alias("cum_capture"),
        F.round(
            (F.col("pos").cast("double") / F.col("n"))
            / F.nullif(F.col("p") / F.col("nn"), F.lit(0.0)),
            6,
        ).alias("lift"),
    ).orderBy("decile")


# nDCG cut-off and the positional discount weights 1/log2(r+1),
# embedded as repr'd double literals so BOTH engines parse the exact
# same IEEE value instead of each calling its own log2 (last-ulp
# divergence would sit under every downstream sum otherwise).
_NDCG_K = 5
_NDCG_W = {r: 1.0 / math.log2(r + 1) for r in range(1, _NDCG_K + 1)}

_NDCG_W_SQL = (
    "CASE pr " + " ".join(f"WHEN {r} THEN {w!r}" for r, w in _NDCG_W.items()) + " END"
)


@query(
    "q_ndcg",
    oracle=f"""
    WITH ranked AS (
        SELECT l_orderkey,
               CAST(l_quantity AS DOUBLE) AS rel,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_extendedprice DESC, l_linenumber) AS pr,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_quantity DESC, l_linenumber) AS ir
        FROM lineitem
    ),
    dcg AS (
        SELECT l_orderkey,
               CAST(round(SUM(CAST(CASE WHEN pr <= {_NDCG_K}
                   THEN rel * ({_NDCG_W_SQL})
                   ELSE 0.0 END AS DECIMAL(38,10))), 6) AS DOUBLE) AS dcg
        FROM ranked GROUP BY l_orderkey
    ),
    idcg AS (
        SELECT l_orderkey,
               CAST(round(SUM(CAST(CASE WHEN ir <= {_NDCG_K}
                   THEN rel * (CASE ir {" ".join(f"WHEN {r} THEN {w!r}" for r, w in _NDCG_W.items())} END)
                   ELSE 0.0 END AS DECIMAL(38,10))), 6) AS DOUBLE) AS idcg
        FROM ranked GROUP BY l_orderkey
    ),
    per_order AS (
        SELECT d.l_orderkey, round(d.dcg / i.idcg, 6) AS ndcg
        FROM dcg d JOIN idcg i USING (l_orderkey)
    )
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(round(SUM(CAST(p.ndcg AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / COUNT(*), 6) AS avg_ndcg
    FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("eval", "ranking"),
)
def q_ndcg(spark: SparkSession, d: str):
    """nDCG@5 of a price-ordered ranking against quantity relevance,
    averaged per order priority — the standard offline ranking-quality
    metric (search / recsys eval over a judged set). Treats each order
    as a query: "predicted" ranking by extended price, graded relevance
    = quantity; DCG uses literal 1/log2(r+1) discounts shared verbatim
    with the oracle so no engine calls its own log2.

    Scale shape: both rank windows partition by order key (frames
    bounded by lines-per-order, ≤7), the DCG sums are order-keyed
    map-side-combinable aggregates in exact decimal, and the final
    roll-up is priority-keyed over an orders-sized table. No global
    window anywhere."""
    li = load_table(spark, d, "lineitem")
    wp = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), "l_linenumber"
    )
    wi = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_quantity").desc(), "l_linenumber"
    )
    ranked = li.select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("rel"),
        F.row_number().over(wp).alias("pr"),
        F.row_number().over(wi).alias("ir"),
    )

    def _disc(rank_col):
        expr = F.lit(0.0)
        for r, w in _NDCG_W.items():
            expr = F.when(rank_col == r, F.lit(w)).otherwise(expr)
        return expr

    def _dsum6(col):
        return F.round(F.sum(col.cast(DEC)), 6).cast("double")

    per_order = ranked.groupBy("l_orderkey").agg(
        _dsum6(
            F.when(F.col("pr") <= _NDCG_K, F.col("rel") * _disc(F.col("pr"))).otherwise(
                F.lit(0.0)
            )
        ).alias("dcg"),
        _dsum6(
            F.when(F.col("ir") <= _NDCG_K, F.col("rel") * _disc(F.col("ir"))).otherwise(
                F.lit(0.0)
            )
        ).alias("idcg"),
    )
    per_order = per_order.select(
        "l_orderkey", F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg")
    )
    orders = load_table(spark, d, "orders").select("o_orderkey", "o_orderpriority")
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.round(F.sum(F.col("ndcg").cast(DEC)), 6).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ndcg"),
        )
    )


# Retrieval-eval probe count (first _MRR_PROBES vec_ids are queries).
_MRR_PROBES = 5
_MRR_K = 5


def _mrr_oracle() -> str:
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    qv AS (SELECT vec_id AS probe_id, i, x AS qx
           FROM ev WHERE vec_id < {_MRR_PROBES}),
    dots AS (
        SELECT q.probe_id, e.vec_id,
               SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev e JOIN qv q USING (i)
        GROUP BY q.probe_id, e.vec_id
    ),
    nq AS (SELECT probe_id, SUM(qx * qx) AS nq FROM qv GROUP BY probe_id),
    lab AS (SELECT vec_id, label FROM embeddings),
    sims AS (
        SELECT d.probe_id, d.vec_id,
               round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim,
               CASE WHEN l.label = pl.label THEN 1 ELSE 0 END AS rel
        FROM dots d
        JOIN nq USING (probe_id)
        JOIN lab l ON l.vec_id = d.vec_id
        JOIN lab pl ON pl.vec_id = d.probe_id
        WHERE d.vec_id != d.probe_id
    ),
    ranked AS (
        SELECT probe_id, rel,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM sims
    ),
    per_probe AS (
        SELECT probe_id,
               round(1.0 / MIN(CASE WHEN rel = 1 THEN rn END), 6) AS rr,
               round(CAST(SUM(CASE WHEN rn <= {_MRR_K} THEN rel
                                   ELSE 0 END) AS DOUBLE) / {_MRR_K}, 6)
                   AS p_at_k
        FROM ranked GROUP BY probe_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           round(CAST(ROUND(SUM(CAST(rr AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / COUNT(*), 6) AS mrr,
           round(CAST(ROUND(SUM(CAST(p_at_k AS DECIMAL(38,10))), 6)
                      AS DOUBLE) / COUNT(*), 6) AS precision_at_k
    FROM per_probe
    """


@query("q_mrr", oracle=_mrr_oracle(), tags=("eval", "retrieval"))
def q_mrr(spark: SparkSession, d: str):
    """Mean reciprocal rank and precision@5 of cosine retrieval under
    LABEL relevance: for each of 5 probe vectors, corpus vectors rank
    by rounded cosine and a hit is "same label as the probe" — the
    offline retrieval-eval pair (MRR for first-hit latency, P@k for
    set quality) that complements q_ndcg's graded-relevance metric and
    q_ann_recall's self-consistency check.

    Probe-bounded like q_ann_recall: 5 broadcast probe vectors × one
    corpus scan, per-probe rank windows over probe-scoped partitions.
    Cosines are rounded 6 dp before ranking (tie-broken by vec_id),
    reciprocal ranks and precisions are exact rationals rounded 6 dp,
    and the 5-row final mean uses the exact decimal sum."""
    e = load_table(spark, d, "embeddings")
    probes = e.filter(F.col("vec_id") < _MRR_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("plabel"),
    )
    sims = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
            (F.col("label") == F.col("plabel")).cast("int").alias("rel"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "vec_id")
    ranked = sims.withColumn("rn", F.row_number().over(w))
    per_probe = ranked.groupBy("probe_id").agg(
        F.round(
            1.0 / F.min(F.when(F.col("rel") == 1, F.col("rn"))), 6
        ).alias("rr"),
        F.round(
            F.sum(
                F.when(F.col("rn") <= _MRR_K, F.col("rel")).otherwise(0)
            ).cast("double")
            / _MRR_K,
            6,
        ).alias("p_at_k"),
    )
    return per_probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.round(
            F.round(F.sum(F.col("rr").cast(DEC)), 6).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mrr"),
        F.round(
            F.round(F.sum(F.col("p_at_k").cast(DEC)), 6).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("precision_at_k"),
    )


# ---------------------------------------------------------------------------
# ANN evaluation, Markov stationary distribution, partial-agg merge
# ---------------------------------------------------------------------------

# Probe set for the recall evaluation (bounded, documented).
_RECALL_PROBES = 5
_RECALL_K = 10


def _ann_recall_oracle() -> str:
    masks = ", ".join(f"({m})" for m in similarity.SRP_MASKS)
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    qv AS (SELECT vec_id AS probe_id, i, x AS qx
           FROM ev WHERE vec_id < {_RECALL_PROBES}),
    dots AS (
        SELECT q.probe_id, e.vec_id,
               SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev e JOIN qv q USING (i)
        GROUP BY q.probe_id, e.vec_id
    ),
    nq AS (SELECT probe_id, SUM(qx * qx) AS nq FROM qv GROUP BY probe_id),
    sims AS (
        SELECT d.probe_id, d.vec_id,
               round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
        FROM dots d JOIN nq USING (probe_id)
        WHERE d.vec_id != d.probe_id
    ),
    topk AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY sim DESC, vec_id) AS rn
            FROM sims
        ) WHERE rn <= {_RECALL_K}
    ),
    b AS ({similarity.SRP_BUCKET_SQL}),
    pb AS (SELECT vec_id AS probe_id, bucket AS qbucket
           FROM b WHERE vec_id < {_RECALL_PROBES}),
    probes AS (
        SELECT probe_id, xor(qbucket, m.mask) AS pbucket
        FROM pb, (VALUES {masks}) AS m(mask)
    ),
    cand AS (
        SELECT p.probe_id, b.vec_id
        FROM b JOIN probes p ON b.bucket = p.pbucket
        WHERE b.vec_id != p.probe_id
    ),
    hits AS (
        SELECT t.probe_id, COUNT(c.vec_id) AS n_hits
        FROM topk t LEFT JOIN cand c
          ON c.probe_id = t.probe_id AND c.vec_id = t.vec_id
        GROUP BY t.probe_id
    ),
    ncand AS (SELECT probe_id, COUNT(*) AS n_candidates
              FROM cand GROUP BY probe_id)
    SELECT h.probe_id,
           COALESCE(nc.n_candidates, 0) AS n_candidates,
           h.n_hits,
           round(h.n_hits * 1.0 / {_RECALL_K}, 6) AS recall
    FROM hits h LEFT JOIN ncand nc USING (probe_id)
    """


@query(
    "q_ann_recall",
    oracle=_ann_recall_oracle(),
    tags=("llm", "similarity", "eval"),
)
def q_ann_recall(spark: SparkSession, d: str):
    """ANN recall@10 evaluation: for each of 5 probe vectors, the
    exact brute-force cosine top-10 is compared against the multi-probe
    SRP-LSH candidate set (q_sim_ann_bucket's 9-bucket probe schedule);
    recall = |top10 ∩ candidates| / 10. This is the evaluation loop
    that sizes LSH parameters before anyone trusts the approximate
    path — the embedding twin of q_minhash_accuracy's Jaccard census.

    The exact side is a probes-bounded cross join (5 broadcast probe
    rows × one corpus scan, per-partition top-k heaps); the candidate
    side reuses the production bucket expression, with the 45-row
    (probe × mask) bucket table broadcast. Both sides are documented
    sample-only on the probe axis: recall is a statistic you estimate
    on a bounded probe set, never computed corpus × corpus."""
    e = load_table(spark, d, "embeddings")
    probes = e.filter(F.col("vec_id") < _RECALL_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("qv")
    )
    sims = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "vec_id")
    topk = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("probe_id", "vec_id")
    )
    b = e.select("vec_id", similarity.srp_bucket_col().alias("bucket"))
    pb = b.filter(F.col("vec_id") < _RECALL_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("bucket").alias("qbucket")
    )
    masks = F.explode(F.array(*[F.lit(m) for m in similarity.SRP_MASKS])).alias("mask")
    probe_buckets = pb.select("probe_id", "qbucket", masks).select(
        "probe_id",
        F.col("qbucket").bitwiseXOR(F.col("mask")).alias("pbucket"),
    )
    cand = (
        b.join(F.broadcast(probe_buckets), b.bucket == probe_buckets.pbucket)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
    )
    hits = (
        topk.alias("t")
        .join(
            cand.alias("c"),
            (F.col("c.probe_id") == F.col("t.probe_id"))
            & (F.col("c.vec_id") == F.col("t.vec_id")),
            "left",
        )
        .groupBy(F.col("t.probe_id").alias("probe_id"))
        .agg(F.count(F.col("c.vec_id")).alias("n_hits"))
    )
    ncand = cand.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        hits.join(ncand, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_hits",
            F.round(F.col("n_hits") / _RECALL_K, 6).alias("recall"),
        )
    )


# Item-CF: cap on basket size (users above it are dropped — the
# standard skew bound: a degenerate power user contributes O(B²) pairs
# and mostly noise), and neighbors kept per item.
_CF_BASKET_CAP = 100
_CF_TOPK = 3


@query(
    "q_item_cf",
    oracle=f"""
    WITH baskets0 AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    baskets AS (
        -- count-window cap, same form as the Spark plan: drop every
        -- row of any user whose DISTINCT basket exceeds the cap
        SELECT u, it FROM (
            SELECT u, it, COUNT(*) OVER (PARTITION BY u) AS bsz
            FROM baskets0
        ) WHERE bsz <= {_CF_BASKET_CAP}
    ),
    ni AS (SELECT it, COUNT(*) AS n FROM baskets GROUP BY it),
    co AS (
        SELECT a.it AS ia, b.it AS ib, COUNT(*) AS co
        FROM baskets a JOIN baskets b ON a.u = b.u AND a.it < b.it
        GROUP BY a.it, b.it
    ),
    sim AS (
        SELECT c.ia, c.ib,
               round(CAST(c.co AS DOUBLE) / sqrt(na.n * nb.n), 6) AS cos
        FROM co c
        JOIN ni na ON na.it = c.ia
        JOIN ni nb ON nb.it = c.ib
    ),
    both_dirs AS (
        SELECT ia AS item, ib AS neighbor, cos FROM sim
        UNION ALL
        SELECT ib AS item, ia AS neighbor, cos FROM sim
    )
    SELECT item, neighbor, cos, CAST(rn AS BIGINT) AS rank_n
    FROM (
        SELECT item, neighbor, cos,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY cos DESC, neighbor) AS rn
        FROM both_dirs
    ) WHERE rn <= {_CF_TOPK}
    """,
    tags=("recsys", "similarity", "scale"),
)
def q_item_cf(spark: SparkSession, d: str):
    """Item-item collaborative filtering: binary co-purchase baskets
    (customer × part), cosine similarity co(a,b)/√(n_a·n_b) between
    item interaction vectors, and the top-3 neighbors per item — the
    classical item-kNN recommender precompute (the batch half of an
    'items you may also like' serving path).

    Scale shape: the pair generation joins baskets on the USER key, so
    a user with B items yields B² pairs — the one quadratic hazard in
    item CF. It is bounded explicitly: users above the basket cap are
    dropped BEFORE the self-join (the standard skew bound; a degenerate
    power user contributes mostly popularity noise anyway), making the
    join cost Σ min(B,cap)² — linear in users. The cap is applied with
    a COUNT window over u, not a groupBy+join-back: the join-back form
    computed the (join+distinct) basket build TWICE and re-shuffled it;
    the window form builds baskets once. The basket build itself
    repartitions by u BEFORE deduplicating, so the single u-exchange
    serves the dedup aggregate (subset-clustering rule), the count
    window, and — via AQE runtime stage reuse — every downstream
    reference to the basket set: it crosses the wire exactly once, and
    the pair self-join adds no exchange on either side. (A count window is also spill-safe under user skew,
    where a collect_set-based cap would buffer a degenerate user's
    whole item array in one task.) Everything downstream is
    item-pair-keyed; the per-item top-k window is bounded by the
    item's co-purchase fan-out. Ranking compares the ROUNDED cosine
    with a neighbor-id tiebreak (ALIGNMENT.md ranking rule)."""
    orders = load_table(spark, d, "orders")
    li = load_table(spark, d, "lineitem")
    # repartition by u FIRST: HashPartitioning(u) satisfies the (u, it)
    # dedup's clustered distribution (subset rule), and the window and
    # the pair self-join need u-clustering too
    # — so the basket set crosses the wire exactly ONCE after the join
    # (a plain .distinct() costs an extra full (u, it) exchange before
    # the window re-shuffles by u: 3 exchanges instead of 2, A/B'd at
    # +12% wall in BENCH_NOTES.md round 9)
    baskets0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("it"))
        .repartition("u")
        .dropDuplicates(["u", "it"])
    )
    baskets = (
        baskets0.withColumn(
            "bsz", F.count(F.lit(1)).over(Window.partitionBy("u"))
        )
        .filter(F.col("bsz") <= _CF_BASKET_CAP)
        .drop("bsz")
    )
    # Round 12: NOT persisted. The four downstream references (ni, the
    # a/b self-join sides, and sim's two union branches) all hang off
    # the SAME repartition("u") exchange, and AQE's runtime stage reuse
    # turns them into ReusedExchange reads of one shuffle output
    # (tests/test_plans.py::test_item_cf_reuses_the_basket_exchange
    # pins this on the executed final plan). The previous persist()
    # bought the same single-computation guarantee but WORSE: an
    # AQE-cached plan reports unknown output partitioning, so the
    # self-join re-shuffled BOTH cached sides (2x ~112 MB exchanges at
    # sf0.1) on top of the memory-store writes. Measured min-of-4
    # interleaved: 7.60 s (persist) -> 6.64 s (reuse), and the ni joins
    # now flip to runtime broadcasts.
    ni = baskets.groupBy("it").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select("u", F.col("it").alias("ia"))
    b = baskets.select("u", F.col("it").alias("ib"))
    co = (
        a.join(b, "u")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    na = ni.select(F.col("it").alias("ia"), F.col("n").alias("na"))
    nb = ni.select(F.col("it").alias("ib"), F.col("n").alias("nb"))
    sim = (
        co.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            F.round(
                F.col("co").cast("double") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
    )
    both = sim.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "cos"
    ).unionByName(
        sim.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "cos"
        )
    )
    return (
        both.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("item").orderBy(F.col("cos").desc(), "neighbor")
            ),
        )
        .filter(F.col("rn") <= _CF_TOPK)
        .select("item", "neighbor", "cos", F.col("rn").cast("long").alias("rank_n"))
    )


# LOF neighborhood size.
_LOF_K = 3
_LOF_TOPN = 10


@query(
    "q_lof_bucketed",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings
    ),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    pairs AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb
        FROM b a JOIN b b2
          ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
    ),
    dist AS (
        SELECT p.va, p.vb,
               round(1 - SUM(ea.x * eb.x)
                         / (sqrt(na.nn) * sqrt(nb.nn)), 9) AS d
        FROM pairs p
        JOIN ev ea ON ea.vec_id = p.va
        JOIN ev eb ON eb.vec_id = p.vb AND eb.i = ea.i
        JOIN norms na ON na.vec_id = p.va
        JOIN norms nb ON nb.vec_id = p.vb
        GROUP BY p.va, p.vb, na.nn, nb.nn
    ),
    knn AS (
        SELECT va, vb, d FROM (
            SELECT va, vb, d,
                   ROW_NUMBER() OVER (PARTITION BY va
                                      ORDER BY d, vb) AS rn
            FROM dist
        ) WHERE rn <= {_LOF_K}
    ),
    kdist AS (SELECT va, MAX(d) AS kd FROM knn GROUP BY va),
    reach AS (
        SELECT k.va, k.vb,
               CASE WHEN k.d > kb.kd THEN k.d ELSE kb.kd END AS r
        FROM knn k JOIN kdist kb ON kb.va = k.vb
    ),
    lrd AS (
        SELECT va, CAST(1 AS DOUBLE) / NULLIF(round(AVG(r), 9), 0.0) AS lrd,
               COUNT(*) AS n_nb
        FROM reach GROUP BY va
    ),
    lof AS (
        SELECT k.va, round(AVG(lb.lrd), 9) / NULLIF(la.lrd, 0.0) AS lof, la.n_nb
        FROM knn k
        JOIN lrd lb ON lb.va = k.vb
        JOIN lrd la ON la.va = k.va
        GROUP BY k.va, la.lrd, la.n_nb
    )
    SELECT va AS vec_id, round(lof, 5) AS lof,
           CAST(n_nb AS BIGINT) AS n_neighbors
    FROM lof
    ORDER BY round(lof, 5) DESC, va
    LIMIT {_LOF_TOPN}
    """,
    tags=("llm", "similarity", "quality"),
)
def q_lof_bucketed(spark: SparkSession, d: str):
    """Local outlier factor (k=3) over the embedding corpus, with the
    kNN graph restricted to sign-LSH buckets: density-based outlier
    scoring (a point is anomalous if its local density is low relative
    to its neighbors') — the complement of q_embed_outliers'
    global-centroid distance, which misses outliers sitting between
    dense clusters. Distances are cosine distance rounded to 9dp
    before any downstream arithmetic; the two averaging steps are
    rounded before their reciprocal/ratio so both engines agree
    bit-for-bit despite different summation orders.

    Scale shape: pair generation is bucket-scoped (sum of squared
    bucket sizes — the q_dedup_embed pattern), the kNN window
    partitions per point (bounded by bucket size), and every later
    stage is keyed on point or neighbor ids. Small buckets yield
    fewer than k neighbors; LOF then uses what exists (n_neighbors
    reports it). At 100 TB the bucket bit-count rises to keep bucket
    populations bounded — the same dial every LSH operator here
    shares."""
    emb = load_table(spark, d, "embeddings").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "bucket"
    )
    dist = (
        a.join(b, "bucket")
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(1 - similarity.cosine(F.col("ea"), F.col("eb")), 9).alias("d"),
        )
    )
    knn = track(
        dist.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("va").orderBy("d", "vb")),
        )
        .filter(F.col("rn") <= _LOF_K)
        .select("va", "vb", "d")
        .persist()
    )
    kdist = knn.groupBy("va").agg(F.max("d").alias("kd"))
    reach = knn.join(
        kdist.withColumnRenamed("va", "vb"), "vb"
    ).select(
        "va", "vb", F.greatest(F.col("d"), F.col("kd")).alias("r")
    )
    # NULLIF: coincident points give zero reach distance — lrd (and
    # the LOF built on it) is undefined, NULL on both engines rather
    # than an ANSI divide-by-zero abort / a DuckDB inf
    lrd = reach.groupBy("va").agg(
        (F.lit(1.0) / F.nullif(F.round(F.avg("r"), 9), F.lit(0.0))).alias(
            "lrd"
        ),
        F.count(F.lit(1)).alias("n_nb"),
    )
    lb = lrd.select(F.col("va").alias("vb"), F.col("lrd").alias("lrd_b"))
    la = lrd.select("va", F.col("lrd").alias("lrd_a"), "n_nb")
    lof = (
        knn.join(lb, "vb")
        .join(la, "va")
        .groupBy("va", "lrd_a", "n_nb")
        .agg(
            (
                F.round(F.avg("lrd_b"), 9)
                / F.nullif(F.col("lrd_a"), F.lit(0.0))
            ).alias("lof")
        )
    )
    return (
        lof.select(
            F.col("va").alias("vec_id"),
            F.round("lof", 5).alias("lof"),
            F.col("n_nb").alias("n_neighbors"),
        )
        .orderBy(F.col("lof").desc(), "vec_id")
        .limit(_LOF_TOPN)
    )


_STUMP_CUTS = 9  # interior equi-width thresholds


@query(
    "q_decision_stump",
    oracle=f"""
    WITH labeled AS (
        SELECT n_chars,
               CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    rng AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM labeled),
    cuts AS (
        SELECT lo + k * (hi - lo) / {_STUMP_CUTS + 1}.0 AS t
        FROM rng, UNNEST(generate_series(1, {_STUMP_CUTS})) AS g(k)
    ),
    split_stats AS (
        SELECT c.t,
               CAST(COUNT(*) FILTER (WHERE n_chars <= c.t) AS BIGINT) AS nl,
               CAST(SUM(y) FILTER (WHERE n_chars <= c.t) AS BIGINT) AS pl,
               CAST(COUNT(*) FILTER (WHERE n_chars > c.t) AS BIGINT) AS nr,
               CAST(SUM(y) FILTER (WHERE n_chars > c.t) AS BIGINT) AS pr,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS p
        FROM cuts c CROSS JOIN labeled
        GROUP BY c.t
    ),
    scored AS (
        SELECT t, nl, nr, n,
               round(1.0 - (CAST(p AS DOUBLE) / n) * (CAST(p AS DOUBLE) / n)
                     - (1.0 - CAST(p AS DOUBLE) / n)
                       * (1.0 - CAST(p AS DOUBLE) / n), 6) AS parent_gini,
               round((nl * (1.0 - (CAST(pl AS DOUBLE) / nl) * (CAST(pl AS DOUBLE) / nl)
                            - (1.0 - CAST(pl AS DOUBLE) / nl)
                              * (1.0 - CAST(pl AS DOUBLE) / nl))
                      + nr * (1.0 - (CAST(pr AS DOUBLE) / nr) * (CAST(pr AS DOUBLE) / nr)
                              - (1.0 - CAST(pr AS DOUBLE) / nr)
                                * (1.0 - CAST(pr AS DOUBLE) / nr)))
                     / n, 6) AS split_gini
        FROM split_stats
        WHERE nl > 0 AND nr > 0
    )
    SELECT round(t, 6) AS threshold, nl AS n_left, nr AS n_right,
           parent_gini, split_gini,
           round(parent_gini - split_gini, 6) AS gain
    FROM scored
    ORDER BY split_gini, t
    LIMIT 1
    """,
    tags=("ml", "training"),
)
def q_decision_stump(spark: SparkSession, d: str):
    """Decision-stump training: the best single split of n_chars for
    predicting the 'contains-the' label by weighted Gini impurity over
    nine candidate equi-width thresholds — the node-splitting inner
    loop of every tree/GBDT trainer, expressed as one conditional
    aggregation (CART, public).

    Scale shape: the nine-threshold candidate table broadcasts onto
    ONE corpus scan (9 conditional count/sum pairs fused into a
    single grouped aggregate — no per-threshold re-scan); the argmin
    is a 9-row TakeOrdered on the ROUNDED impurity with threshold
    tie-break (ALIGNMENT ranking rule). All impurities are ratios of
    exact integer counts."""
    docs = load_table(spark, d, "documents")
    labeled = docs.select(
        "n_chars",
        F.when(F.col("text").like("%the%"), 1).otherwise(0).alias("y"),
    )
    rng = labeled.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    ks = spark.range(1, _STUMP_CUTS + 1).select(F.col("id").alias("k"))
    cuts = ks.crossJoin(F.broadcast(rng)).select(
        (
            F.col("lo")
            + F.col("k") * (F.col("hi") - F.col("lo")) / float(_STUMP_CUTS + 1)
        ).alias("t")
    )
    left = F.col("n_chars") <= F.col("t")
    ss = (
        F.broadcast(cuts)
        .crossJoin(labeled)
        .groupBy("t")
        .agg(
            F.count(F.when(left, 1)).alias("nl"),
            F.sum(F.when(left, F.col("y")).otherwise(0)).alias("pl"),
            F.count(F.when(~left, 1)).alias("nr"),
            F.sum(F.when(~left, F.col("y")).otherwise(0)).alias("pr"),
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("p"),
        )
        .filter((F.col("nl") > 0) & (F.col("nr") > 0))
    )

    def gini(pos, n):
        share = pos.cast("double") / n
        return 1.0 - share * share - (1.0 - share) * (1.0 - share)

    scored = ss.select(
        "t",
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.round(gini(F.col("p"), F.col("n")), 6).alias("parent_gini"),
        F.round(
            (
                F.col("nl") * gini(F.col("pl"), F.col("nl"))
                + F.col("nr") * gini(F.col("pr"), F.col("nr"))
            )
            / F.col("n"),
            6,
        ).alias("split_gini"),
    )
    return (
        scored.orderBy("split_gini", "t")
        .limit(1)
        .select(
            F.round("t", 6).alias("threshold"),
            "n_left",
            "n_right",
            "parent_gini",
            "split_gini",
            F.round(F.col("parent_gini") - F.col("split_gini"), 6).alias(
                "gain"
            ),
        )
    )


_PCA_ITERS = 30


def _gram_sql() -> str:
    """(i, j, g) Gram matrix of the embedding table, 0-indexed dims —
    the DEFINED G on both engines: elements are quantized ONCE to 6 dp
    (exact decimal cast — one cast per element, not per term), entries
    are exact integer sums of the scaled products, and g converts back
    via integer half-away-from-zero rounding to scale 4 then one exact
    double division. Fully order-independent, and the hot path is pure
    64-bit integer arithmetic instead of per-term BigDecimal."""
    return """
        WITH eq AS (
            SELECT vec_id, i - 1 AS dim,
                   CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6))
                        * 1000000 AS BIGINT) AS q
            FROM (SELECT vec_id, unnest(embedding) AS x,
                         generate_subscripts(embedding, 1) AS i
                  FROM embeddings)
        ),
        tot AS (
            SELECT a.dim AS i, b.dim AS j, SUM(a.q * b.q) AS total
            FROM eq a JOIN eq b ON b.vec_id = a.vec_id
            GROUP BY a.dim, b.dim
        )
        SELECT i, j,
               CAST((CASE WHEN total < 0 THEN -1 ELSE 1 END)
                    * (abs(total) // 100000000
                       + CASE WHEN abs(total) % 100000000 >= 50000000
                              THEN 1 ELSE 0 END)
                  AS DOUBLE) / 10000.0 AS g
        FROM tot
    """


def _pca_oracle() -> str:
    stages = [
        """
    dims AS MATERIALIZED (SELECT DISTINCT i AS dim FROM G),
    v0 AS MATERIALIZED (SELECT dim, 1.0 AS x FROM dims)"""
    ]
    for k in range(_PCA_ITERS):
        stages.append(
            f"""
    w{k} AS MATERIALIZED (
        SELECT G.i AS dim, SUM(G.g * v{k}.x) AS x
        FROM G JOIN v{k} ON v{k}.dim = G.j
        GROUP BY G.i
    ),
    v{k + 1} AS MATERIALIZED (
        SELECT dim, x / (SELECT MAX(ABS(x)) FROM w{k}) AS x FROM w{k}
    )"""
        )
    return (
        f"WITH G AS MATERIALIZED ({_gram_sql()}),"
        + ",".join(stages)
        + f"""
    , pick AS (
        SELECT dim FROM v{_PCA_ITERS} ORDER BY ABS(x) DESC, dim LIMIT 1
    ),
    sgn AS (
        SELECT CASE WHEN v.x < 0 THEN -1.0 ELSE 1.0 END AS s
        FROM v{_PCA_ITERS} v JOIN pick ON pick.dim = v.dim
    )
    SELECT CAST(v.dim AS BIGINT) AS dim, round(v.x * sgn.s, 6) AS loading
    FROM v{_PCA_ITERS} v CROSS JOIN sgn
    ORDER BY dim
    """
    )


@query(
    "q_pca_power",
    oracle=_pca_oracle(),
    tags=("ml", "iterative"),
)
def q_pca_power(spark: SparkSession, d: str):
    """Top principal direction of the embedding corpus via power
    iteration on the Gram matrix — the dimensionality-reduction
    primitive behind whitening, spectral outlier detection, and the
    "dominant drift direction" diagnostic for embedding spaces.

    Scale shape: the distributed work is ONE pass — the Gram matrix
    G = XᵀX built WITHOUT any join: each embedding is quantized ONCE
    to 6 dp (exact decimal cast per ELEMENT — n·d casts, not n·d²),
    then each row generates its own upper-triangle (i, j, q_i·q_j)
    integer terms inline (two nested posexplodes, the second over the
    i-suffix slice of the same quantized array). Map-side partial
    aggregation reduces every task to ≤ d(d+1)/2 groups before the
    single (i,j)-keyed shuffle, and the per-group sums are plain
    64-bit longs split hi/lo at 2^30 so neither partial can overflow
    below ~2^33 rows per group (q ≤ 1e6·|x|max, product ≤ ~1e12 ⇒
    hi ≤ ~2^12 — the hi sum is safe to ~2^50 rows). The exact scaled
    totals are reconstructed in arbitrary-precision Python from the
    collected triangle (d²-bounded, the q_kmeans_train pattern), the
    symmetric half mirrored (q_i·q_j ≡ q_j·q_i in ℤ), and 30
    max-normalized power iterations run driver-side. Iterating
    distributedly would cost 30 tiny jobs for a matrix that fits in
    L2 cache. Exactness: G is DEFINED identically on both engines
    (quantize → integer sum → half-away round to scale 4 → one exact
    double division); iteration drift is contracted by convergence
    (q_markov_stationary precedent) and the result is
    sign-canonicalized (largest-|loading| dim positive) and rounded
    6dp."""
    emb = load_table(spark, d, "embeddings")
    eq = emb.select(
        F.transform(
            F.col("embedding"),
            lambda x: (
                x.cast("double").cast("decimal(18,6)") * F.lit(1000000)
            ).cast("long"),
        ).alias("eq")
    )
    up = (
        eq.select(F.posexplode("eq").alias("i", "qa"), F.col("eq"))
        .select(
            "i",
            "qa",
            F.posexplode(F.expr("slice(eq, i + 1, size(eq))")).alias(
                "p", "qb"
            ),
        )
        .select(
            "i",
            (F.col("i") + F.col("p")).alias("j"),
            (F.col("qa") * F.col("qb")).alias("ts"),
        )
    )
    hi = F.shiftright(F.col("ts"), 30)
    gram = (
        up.select(
            "i",
            "j",
            hi.alias("hi"),
            (F.col("ts") - F.shiftleft(hi, 30)).alias("lo"),
        )
        .groupBy("i", "j")
        .agg(F.sum("hi").alias("sh"), F.sum("lo").alias("sl"))
    )
    g_rows = gram.collect()  # triangle-bounded: d(d+1)/2 = 2080 for d=64
    dims = sorted({r["i"] for r in g_rows})
    if not dims:  # empty corpus: no direction to report
        return spark.createDataFrame([], "dim bigint, loading double")

    def _g_val(sh: int, sl: int) -> float:
        # exact: total = Σ q_i·q_j (scale 1e12); half-away-from-zero
        # round to scale 4, then ONE correctly-rounded double division
        total = sh * (1 << 30) + sl
        q8, rem = divmod(abs(total), 10**8)
        r = q8 + (1 if rem >= 5 * 10**7 else 0)
        return (-r if total < 0 else r) / 10000.0

    g = {}
    for row in g_rows:
        val = _g_val(row["sh"], row["sl"])
        g[(row["i"], row["j"])] = val
        g[(row["j"], row["i"])] = val
    v = {i: 1.0 for i in dims}
    for _ in range(_PCA_ITERS):
        w = {
            i: sum(g.get((i, j), 0.0) * v[j] for j in dims) for i in dims
        }
        m = max(abs(x) for x in w.values())
        v = {i: x / m for i, x in w.items()}
    pick = max(dims, key=lambda i: (abs(v[i]), -i))
    sgn = -1.0 if v[pick] < 0 else 1.0
    rows = [
        (i, math.floor(v[i] * sgn * 1e6 + 0.5) / 1e6
         if v[i] * sgn >= 0
         else -(math.floor(-v[i] * sgn * 1e6 + 0.5) / 1e6))
        for i in dims
    ]
    return spark.createDataFrame(rows, "dim bigint, loading double")


@query(
    "q_class_metrics",
    oracle="""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, i,
               round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
                   AS c
        FROM ev GROUP BY label, i
    ),
    carr AS (
        SELECT clabel, list(c ORDER BY i) AS cvec FROM cent GROUP BY clabel
    ),
    -- SAME algebra and fold order as the Spark side: a sequential
    -- left fold of (x_i - c_i)^2 terms in array-index order (DuckDB
    -- list_reduce ≡ Spark F.aggregate with a 0.0 seed — the seed add
    -- is exact since every term is a non-negative square), so the
    -- pre-rounding doubles are bit-identical on both engines
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(list_reduce(
                   list_transform(range(1, len(e.embedding) + 1),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                   (acc, t) -> acc + t), 6) AS d2
        FROM embeddings e CROSS JOIN carr c
    ),
    joined AS (
        SELECT label AS actual, clabel AS predicted
        FROM (SELECT vec_id, label, clabel,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, clabel) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    classes AS (SELECT DISTINCT label AS k FROM embeddings),
    m AS (
        SELECT c.k,
               SUM(CASE WHEN j.predicted = c.k AND j.actual = c.k THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN j.predicted = c.k AND j.actual <> c.k THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN j.actual = c.k AND j.predicted <> c.k THEN 1 ELSE 0 END) AS fn
        FROM classes c, joined j
        GROUP BY c.k
    )
    SELECT CAST(k AS INT) AS label,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision_,
           round(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall_,
           round(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0), 6) AS f1
    FROM m
    """,
    tags=("eval", "embedding", "classification"),
)
def q_class_metrics(spark: SparkSession, d: str):
    """Per-class precision / recall / F1 of a nearest-centroid
    classifier over the embeddings table — the model-eval step every
    quality-classifier training loop ends with (and a resubstitution
    sanity check on how separable the labels are in embedding space).

    Centroids are exact-decimal per-dimension means rounded to 6 dp
    (the shared literal both engines then fold against). Assignment is
    by squared L2 distance computed as a DIRECT sequential fold of
    (x_i − c_i)² in array-index order on BOTH engines (Spark
    F.aggregate over zip_with, DuckDB list_reduce over the same terms
    — bit-identical pre-rounding doubles, so the 6 dp round and the
    (d2, label) argmin can never diverge), against the 10-row
    broadcast centroid table (a BroadcastNestedLoopJoin expanding each
    vector 10× in projection only — no shuffle). The confusion counts
    are then one label-pair-keyed aggregate, and the metric table is
    classes-sized. At 100 TB the only data-sized exchanges
    are the centroid means (dimension-keyed, map-side combinable) and
    the vec-keyed argmin aggregate."""
    e = load_table(spark, d, "embeddings")
    ev = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = (
        ev.groupBy(F.col("label").alias("clabel"), "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
            ).alias("c")
        )
    )
    # Pack each centroid into an i-ordered array (10 rows total).
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    scored = (
        e.crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            "label",
            "clabel",
            F.round(similarity.sq_dist("embedding", "cvec"), 6).alias("d2"),
        )
    )
    pred = (
        scored.groupBy("vec_id", F.col("label").alias("actual"))
        .agg(F.min(F.struct("d2", "clabel")).alias("best"))
        .select("actual", F.col("best.clabel").alias("predicted"))
    )
    classes = e.select(F.col("label").alias("k")).distinct()
    m = (
        classes.crossJoin(pred)
        .groupBy("k")
        .agg(
            F.sum(
                ((F.col("predicted") == F.col("k")) & (F.col("actual") == F.col("k"))).cast(
                    "long"
                )
            ).alias("tp"),
            F.sum(
                ((F.col("predicted") == F.col("k")) & (F.col("actual") != F.col("k"))).cast(
                    "long"
                )
            ).alias("fp"),
            F.sum(
                ((F.col("actual") == F.col("k")) & (F.col("predicted") != F.col("k"))).cast(
                    "long"
                )
            ).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return m.select(
        F.col("k").cast("int").alias("label"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 6).alias("precision_"),
        F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 6).alias("recall_"),
        F.round((2 * tp).cast("double") / F.nullif(2 * tp + fp + fn, F.lit(0)), 6).alias(
            "f1"
        ),
    )


def _kappa_preds_sql() -> str:
    """DuckDB: the two binary en/unknown classifications per document —
    rater A = the marker-hit heuristic (q_text_langid), rater B = the
    ground-truth lang column."""
    return f"""
    preds AS (
        SELECT doc_id,
               CASE WHEN {text.marker_hits_sql()} > 0 THEN 'en' ELSE 'unknown' END AS ra,
               CASE WHEN lang = 'en' THEN 'en' ELSE 'unknown' END AS rb
        FROM documents
    )"""


@query(
    "q_cohens_kappa",
    oracle=f"""
    WITH {_kappa_preds_sql().strip()},
    cells AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree,
               SUM(CASE WHEN ra = 'en' THEN 1 ELSE 0 END) AS a_en,
               SUM(CASE WHEN rb = 'en' THEN 1 ELSE 0 END) AS b_en
        FROM preds
    )
    SELECT CAST(n AS BIGINT) AS n,
           round(CAST(agree AS DOUBLE) / n, 6) AS po,
           round((CAST(a_en AS DOUBLE) * b_en
                  + CAST(n - a_en AS DOUBLE) * (n - b_en))
                 / (CAST(n AS DOUBLE) * n), 6) AS pe,
           round((CAST(agree AS DOUBLE) / n
                  - (CAST(a_en AS DOUBLE) * b_en
                     + CAST(n - a_en AS DOUBLE) * (n - b_en))
                    / (CAST(n AS DOUBLE) * n))
                 / (1.0 - (CAST(a_en AS DOUBLE) * b_en
                           + CAST(n - a_en AS DOUBLE) * (n - b_en))
                          / (CAST(n AS DOUBLE) * n)), 6) AS kappa
    FROM cells
    """,
    tags=("eval", "agreement"),
)
def q_cohens_kappa(spark: SparkSession, d: str):
    """Cohen's kappa between the marker-based language heuristic
    (q_text_langid's rule) and the ground-truth lang column, binarised
    to en/unknown — chance-corrected agreement, the standard
    inter-annotator / weak-labeler quality metric (raw accuracy
    flatters any rater on a skewed label distribution; kappa does
    not). κ = (p_o − p_e) / (1 − p_e) with p_e from the raters'
    marginals.

    Everything reduces to four exact counts in one ungrouped
    map-side-combinable aggregate over the corpus scan — the cheapest
    possible 100 TB shape. Both engines share the marker expression
    verbatim (text.marker_hits_sql) and derive κ from identical
    integers, so the 6 dp rounding is cosmetic."""
    docs = load_table(spark, d, "documents")
    preds = docs.select(
        F.when(text.marker_hits() > 0, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("ra"),
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("rb"),
    )
    cells = preds.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("ra") == F.col("rb")).cast("long")).alias("agree"),
        F.sum((F.col("ra") == "en").cast("long")).alias("a_en"),
        F.sum((F.col("rb") == "en").cast("long")).alias("b_en"),
    )
    n = F.col("n").cast("double")
    po = F.col("agree").cast("double") / n
    pe = (
        F.col("a_en").cast("double") * F.col("b_en")
        + (F.col("n") - F.col("a_en")).cast("double") * (F.col("n") - F.col("b_en"))
    ) / (n * n)
    return cells.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
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
# q_silhouette_approx — centroid-based silhouette per labeled cluster
# ---------------------------------------------------------------------------


@query(
    "q_silhouette_approx",
    oracle="""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, i,
               round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM ev GROUP BY label, i
    ),
    carr AS (
        SELECT clabel, list(c ORDER BY i) AS cvec FROM cent GROUP BY clabel
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(list_reduce(
                   list_transform(range(1, len(e.embedding) + 1),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                   (acc, t) -> acc + t), 6) AS d2
        FROM embeddings e CROSS JOIN carr c
    ),
    ab AS (
        SELECT vec_id, label,
               MAX(CASE WHEN clabel = label THEN d2 END) AS a,
               MIN(CASE WHEN clabel <> label THEN d2 END) AS b
        FROM scored GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               round((b - a) / NULLIF(GREATEST(a, b), 0.0), 6) AS sil
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(ROUND(SUM(CAST(sil AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
    tags=("llm", "embedding", "clustering"),
)
def q_silhouette_approx(spark: SparkSession, d: str):
    """Centroid-based (squared-distance) silhouette per labeled
    cluster: a(i) = d²(x, own centroid), b(i) = min d²(x, other
    centroid), s = (b−a)/max(a,b) averaged per label — the clustering
    quality readout that says which labels are actually separated in
    embedding space (the simplified 'medoid silhouette' every k-means
    evaluation uses to avoid the O(n²) exact silhouette).

    Same plan skeleton as q_class_metrics: 6 dp centroid grid
    broadcast (labels×d), per-row index-order distance folds
    (bit-identical), a vec-keyed a/b rollup, then a labels-sized
    mean over 6 dp silhouettes via the exact-decimal contract."""
    e = load_table(spark, d, "embeddings")
    ev = e.select(
        "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        F.col("label").alias("clabel"),
        (F.col("pos0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = ev.groupBy("clabel", "i").agg(
        F.round(
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("c")
    )
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    d2 = F.round(similarity.sq_dist("embedding", "cvec"), 6)
    scored = e.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    ab = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b"),
    )
    sil = ab.select(
        "label",
        F.round(
            (F.col("b") - F.col("a"))
            / F.nullif(F.greatest("a", "b"), F.lit(0.0)),
            6,
        ).alias("sil"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.round(F.sum(F.col("sil").cast(DEC)), 6).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_kcenter_coreset — greedy max-min (k-center) selection over embeddings
# ---------------------------------------------------------------------------

_KC_K = 4  # selected centers (including the seed vec_id 0)

_KC_D2 = """round(list_reduce(list_transform(range(1, len({a}.embedding) + 1),
        i -> (CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE))
           * (CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE))),
        (acc, t) -> acc + t), 6)"""


def _kcenter_oracle() -> str:
    # Greedy selection unrolled: step s picks the point maximizing the
    # min squared distance to the s centers chosen so far (ties to the
    # smallest vec_id); the same literal-fold d2 as the Spark side.
    parts = ["c0(step, vec_id, sel_d2) AS (VALUES (0, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)))"]
    prev = "c0"
    for s in range(1, _KC_K):
        d2 = _KC_D2.format(a="e", b="ce")
        parts.append(
            f"""m{s} AS (
        SELECT e.vec_id, MIN({d2}) AS mind
        FROM embeddings e, embeddings ce
        WHERE ce.vec_id IN (SELECT vec_id FROM {prev})
          AND e.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY e.vec_id
    ),
    pick{s} AS (
        SELECT {s} AS step, vec_id, mind AS sel_d2 FROM m{s}
        ORDER BY mind DESC, vec_id LIMIT 1
    ),
    c{s} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{s})"""
        )
        prev = f"c{s}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(step AS INT) AS step, vec_id,
           round(sel_d2, 6) AS sel_d2
    FROM {prev} ORDER BY step
    """


@query(
    "q_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("llm", "embedding", "coreset"),
)
def q_kcenter_coreset(spark: SparkSession, d: str):
    """Greedy k-center (farthest-point) coreset selection over the
    embeddings: starting from vec_id 0, each step adds the point with
    the largest min-squared-distance to the centers chosen so far —
    the classic 2-approximation cover that picks maximally-diverse
    exemplars for labeling / eval-set construction.

    Scale shape: the canonical bounded-iteration pattern (q_kmeans_
    train's contract): k−1 supersteps, each a single scan against a
    ≤k-row broadcast center table with a per-row least() min-distance
    and a 1-row TakeOrdered argmax collect — the only driver-side data
    is k rows. Distances fold (x_i−c_i)² in array-index order on both
    engines (bit-identical doubles, 6 dp round), so the argmax and
    tie-break can never diverge."""
    e = spread_scan(load_table(spark, d, "embeddings"), "vec_id")
    centers = [(0, 0, None)]  # (step, vec_id, sel_d2)
    for step in range(1, _KC_K):
        ids = [c[1] for c in centers]
        cent = e.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        d2 = F.round(similarity.sq_dist("embedding", "cvec"), 6)
        best_rows = (
            e.filter(~F.col("vec_id").isin(ids))
            .crossJoin(F.broadcast(cent))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind"))
            .orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not best_rows:  # fewer points than k (or empty table):
            break  # the selection is complete — matches the oracle's
            # empty m{s} CTE, whose pick{s} contributes no row
        best = best_rows[0]
        centers.append((step, best.vec_id, float(best.mind)))
    return spark.createDataFrame(
        centers, "step int, vec_id bigint, sel_d2 double"
    ).select("step", "vec_id", F.round("sel_d2", 6).alias("sel_d2"))


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
