"""Round-4 agreement / resampling / graph-quality sweep: Cohen's kappa
between two language classifiers, a delete-one-bucket jackknife
confidence interval for the mean (the scale-safe resampling scheme —
no per-replicate data copies), and modularity of the similarity
graph's connected-component partition.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.operators.analytics22 import (
    sim_edges_spark,
    sim_edges_sql,
)
from direct_kafka_stream_spark.registry import query


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
    the sketch family (analytics8), so buckets are reproducible
    cross-engine and cross-run."""
    ev = load_table(spark, d, "events")
    bucketed = ev.select(
        (
            F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 2), 16, 10)
            .cast("bigint")
            % _JK_BUCKETS
        ).alias("g"),
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
    from direct_kafka_stream_spark.operators.llm import propagate_min_labels

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
