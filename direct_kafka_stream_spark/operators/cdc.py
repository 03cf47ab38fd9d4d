"""Change-data-capture patterns: MERGE-style upsert, SCD-2 dimension
history and snapshot diffs — the batch form of what the reference's Kafka
stream feeds in production (its AUTH_STREAM payloads were row-change
JSON, reference README.md:167). Extension surface per SURVEY.md §2.B;
anchor: the processing hook at KafkaDirectStream.scala:43-51.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import bounded_window_key, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query


@query(
    "q_upsert_merge",
    oracle="""
    WITH upd AS (
        SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
               o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % 100 = 7
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice * 0.9 AS o_totalprice
        FROM orders WHERE o_orderkey % 100 = 13
    )
    SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           COALESCE(u.o_custkey, b.o_custkey)   AS o_custkey,
           COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN b.o_orderkey IS NULL THEN 'insert'
                WHEN u.o_orderkey IS NULL THEN 'keep'
                ELSE 'update' END AS action
    FROM orders b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
    """,
    tags=("cdc", "join"),
)
def q_upsert_merge(spark: SparkSession, d: str):
    """MERGE INTO emulation on plain parquet: a deterministic change
    set (10% discounts on keys ≡13, new rows from keys ≡7 shifted past
    the key space) full-outer-joined to the base, newest value wins,
    every row tagged insert/update/keep. One shuffle on the key for
    both sides; at 100 TB you'd bucket base and changes on o_orderkey
    so the merge is shuffle-free — the join shape is identical."""
    base = load_table(spark, d, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    upd = (
        base.filter(F.col("o_orderkey") % 100 == 7)
        .select(
            (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
            "o_custkey",
            (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 100 == 13).select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") * 0.9).alias("o_totalprice"),
            )
        )
    )
    b, u = base.alias("b"), upd.alias("u")
    return b.join(u, F.col("b.o_orderkey") == F.col("u.o_orderkey"), "full").select(
        F.coalesce("u.o_orderkey", "b.o_orderkey").alias("o_orderkey"),
        F.coalesce("u.o_custkey", "b.o_custkey").alias("o_custkey"),
        F.coalesce("u.o_totalprice", "b.o_totalprice").alias("o_totalprice"),
        F.when(F.col("b.o_orderkey").isNull(), "insert")
        .when(F.col("u.o_orderkey").isNull(), "keep")
        .otherwise("update")
        .alias("action"),
    )


@query(
    "q_scd2",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
           COALESCE(strftime(LEAD(o_orderdate) OVER w, '%Y-%m-%d'),
                    '9999-12-31') AS valid_to,
           (LEAD(o_orderdate) OVER w IS NULL) AS is_current
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("cdc", "window"),
)
def q_scd2(spark: SparkSession, d: str):
    """Slowly-changing-dimension type 2: each customer's order stream
    becomes validity intervals — valid_from = own date, valid_to = the
    next change's date (open-ended sentinel for the latest). One LEAD
    window per customer partition, a single shuffle on o_custkey;
    o_orderkey breaks same-day ties so intervals are deterministic."""
    return scd2_table(load_table(spark, d, "orders"))


def scd2_table(o):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("valid_from"),
        F.coalesce(F.date_format(nxt, "yyyy-MM-dd"), F.lit("9999-12-31")).alias(
            "valid_to"
        ),
        nxt.isNull().alias("is_current"),
    )


@query(
    "q_rfm",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(o_orderdate),
                              TIMESTAMP '2002-01-01') AS INT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               {dsum_sql('o_totalprice')} AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
               AS segment
    FROM (
        SELECT *,
               NTILE(4) OVER (ORDER BY recency_days ASC,  o_custkey) AS r,
               NTILE(4) OVER (ORDER BY frequency    DESC, o_custkey) AS f,
               NTILE(4) OVER (ORDER BY monetary     DESC, o_custkey) AS m
        FROM per_cust
    )
    """,
    tags=("analytics", "window"),
)
def q_rfm(spark: SparkSession, d: str):
    """RFM customer segmentation: recency (days before a fixed
    reference date), frequency, monetary value per customer, each
    quartiled into 1-4 and concatenated into the classic segment code
    ('111' = best). Quartiles via NTILE with c_custkey tie-breaks so
    bucket edges are deterministic across engines. NTILE needs a total
    order — fine over per-customer aggregates (customers ≪ orders);
    at 100 TB you'd cut on approx_percentile thresholds instead of a
    global sort, trading exact quartile boundaries for a single
    pass."""
    return rfm_report(load_table(spark, d, "orders"))


def rfm_report(o):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.max("o_orderdate").cast("date")
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dsum("o_totalprice").alias("monetary"),
    )
    wk = Window.partitionBy(bounded_window_key("o_custkey"))
    wr = wk.orderBy(F.col("recency_days").asc(), "o_custkey")
    wf = wk.orderBy(F.col("frequency").desc(), "o_custkey")
    wm = wk.orderBy(F.col("monetary").desc(), "o_custkey")
    return per_cust.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(wr).alias("r"),
        F.ntile(4).over(wf).alias("f"),
        F.ntile(4).over(wm).alias("m"),
    ).withColumn(
        "segment",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
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
