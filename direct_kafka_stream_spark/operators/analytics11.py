"""Round-4 model-evaluation metrics: ROC/PR operating points over the
hashed-linear quality classifier and a calibration (reliability)
table — the eval loop that closes the classifier-gated curation
pipeline (score → threshold policy → gate).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators.features import (
    FH_DIM,
    QC_BIAS,
    qc_weight_sql,
    quality_scores,
)
from direct_kafka_stream_spark.registry import query

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
