"""User-defined function surface (SURVEY.md §2.E): row UDF, Arrow
pandas UDF, grouped-agg UDAF, grouped-map transform, mapInPandas.

UDFs are the engine's slow path — these exist to prove the plumbing
(and for genuinely non-SQL logic like the multimodal decoders). Each
one here intentionally computes something SQL-expressible so it stays
oracle-checkable; pandas results are rounded to 4 dp because pandas
pairwise summation and SQL aggregation can differ in the last ulps.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import DoubleType, StringType

from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


@F.udf(returnType=StringType())
def _price_band(p: float) -> str:
    if p is None:
        return None
    if p > 150000:
        return "high"
    if p > 50000:
        return "mid"
    return "low"


@query(
    "q_udf_scalar",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 150000 THEN 'high'
                WHEN o_totalprice > 50000  THEN 'mid'
                ELSE 'low' END AS price_band
    FROM orders
    """,
    tags=("udf",),
)
def q_udf_scalar(spark: SparkSession, d: str):
    """Row-at-a-time Python UDF (the anti-pattern kept for API parity —
    per-row serde; see q_udf_pandas for the right way)."""
    o = load_table(spark, d, "orders")
    return o.select("o_orderkey", _price_band("o_totalprice").alias("price_band"))


@F.pandas_udf(DoubleType())
def _net_price(price: pd.Series, discount: pd.Series) -> pd.Series:
    # Vectorized element-wise IEEE double math — bit-identical to the
    # SQL expression, no rounding needed.
    return price * (1.0 - discount)


@query(
    "q_udf_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net
    FROM lineitem
    """,
    tags=("udf",),
)
def q_udf_pandas(spark: SparkSession, d: str):
    """Arrow-batched pandas UDF — the vectorized Python path (~10-100×
    the row UDF)."""
    li = load_table(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _net_price("l_extendedprice", "l_discount").alias("net"),
    )


def _weighted_partial(pdf: pd.DataFrame) -> pd.DataFrame:
    # Partial aggregate for ONE (returnflag, salt) slice. math.fsum is
    # exactly rounded and therefore independent of row order within the
    # slice (no sort needed); the final combine sums the partials in
    # exact decimal, so the overall result is independent of both
    # shuffle order and salt fan-out.
    return pd.DataFrame(
        {
            "l_returnflag": [pdf["l_returnflag"].iloc[0]],
            "sum_pq": [math.fsum((pdf["l_extendedprice"] * pdf["l_quantity"]).tolist())],
            "sum_q": [math.fsum(pdf["l_quantity"].tolist())],
            "n_rows": [len(pdf)],
        }
    )


@query(
    "q_udaf_weighted",
    oracle="""
    SELECT l_returnflag,
           round(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4) AS weighted_price,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("udf",),
)
def q_udaf_weighted(spark: SparkSession, d: str):
    """Grouped-aggregate UDAF via applyInPandas, in the form that
    survives scale: a naive groupBy(flag).applyInPandas funnels the
    whole table through len(groups) Python tasks (3 here — measured
    12 s at sf0.1). Instead the UDAF computes SALTED PARTIALS
    (flag × 64 slices, all cores busy, bounded Arrow batches) and the
    JVM combines them exactly in decimal — the same partial/final
    decomposition Spark's own aggregates use, expressed over an
    arbitrary Python aggregator."""
    li = load_table(spark, d, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_quantity",
        # salt from the row's natural key; only 4 narrow columns cross
        # the Arrow boundary
        F.pmod(F.hash("l_orderkey", "l_linenumber"), F.lit(64)).alias("salt"),
    )
    partials = li.groupBy("l_returnflag", "salt").applyInPandas(
        _weighted_partial,
        schema="l_returnflag string, sum_pq double, sum_q double, n_rows long",
    )
    dec = "decimal(38,10)"
    return partials.groupBy("l_returnflag").agg(
        F.round(
            F.sum(F.col("sum_pq").cast(dec)).cast("double")
            / F.sum(F.col("sum_q").cast(dec)).cast("double"),
            4,
        ).alias("weighted_price"),
        F.sum("n_rows").alias("n_rows"),
    )


def _zscore(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("event_id")
    v = pdf["value"].to_numpy()
    mu = v.mean()
    sd = v.std(ddof=0)  # population stddev, matching STDDEV_POP
    # Degenerate (constant-value) group: emit 0.0; the oracle mirrors
    # this via COALESCE(... / NULLIF(stddev, 0), 0.0).
    z = (v - mu) / sd if sd > 0 else v * 0.0
    return pd.DataFrame(
        {"event_id": pdf["event_id"], "event_type": pdf["event_type"], "z": z.round(4)}
    )


@query(
    "q_udf_grouped_map",
    oracle="""
    SELECT event_id, event_type,
           round(COALESCE((value - AVG(value) OVER w)
                          / NULLIF(STDDEV_POP(value) OVER w, 0), 0.0), 4) AS z
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
    tags=("udf",),
)
def q_udf_grouped_map(spark: SparkSession, d: str):
    """Grouped-map transform (UDTF-like): z-score normalize value per
    event_type with applyInPandas — per-group feature normalization,
    a standard embedding/feature pipeline stage."""
    e = load_table(spark, d, "events").select("event_id", "event_type", "value")
    return e.groupBy("event_type").applyInPandas(
        _zscore, schema="event_id long, event_type string, z double"
    )


def _token_stats(batches):
    for pdf in batches:
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["text"].str.split(" ").map(
                    lambda ws: sum(1 for w in ws if w)
                ),
                "n_chars": pdf["text"].str.len(),
            }
        )
        yield out


@query(
    "q_map_in_pandas",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), w -> w != '')) AS n_tokens,
           length(text) AS n_chars
    FROM documents
    """,
    tags=("udf",),
)
def q_map_in_pandas(spark: SparkSession, d: str):
    """mapInPandas — per-partition Arrow batch iterator, the shape used
    for custom scans and the multimodal decoders."""
    docs = load_table(spark, d, "documents").select("doc_id", "text")
    return docs.mapInPandas(
        _token_stats, schema="doc_id long, n_tokens long, n_chars long"
    )


@query(
    "q_udtf_split",
    oracle="""
    SELECT doc_id, word, pos FROM (
        SELECT doc_id, word,
               CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ord) AS INTEGER) - 1 AS pos
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS ord
            FROM documents
        ) WHERE word != ''
    ) WHERE doc_id < 20
    """,
    tags=("udf", "udtf"),
)
def q_udtf_split(spark: SparkSession, d: str):
    """Python UDTF (Spark ≥3.5): one input row → many output rows via a
    LATERAL join — the user-extensible table function surface. Kept on
    a small slice: a Python UDTF is the slow path; the production
    tokenizer is the higher-order-function pipeline in operators/text.py."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, pos int")
    class SplitWords:
        def eval(self, text: str):
            pos = 0
            for w in (text or "").split(" "):
                if w:
                    yield w, pos
                    pos += 1

    spark.udtf.register("split_words", SplitWords)
    docs = load_table(spark, d, "documents").filter("doc_id < 20")
    docs.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, s.word, s.pos "
        "FROM udtf_docs AS d, LATERAL split_words(d.text) AS s"
    )
