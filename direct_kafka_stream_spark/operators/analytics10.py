"""Round-4 distributed-sampling and layout additions: join-consistent
sampling, deterministic train/val/test splitting with leakage audit,
and Z-order clustering keys with a locality census.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, SparkSession, functions as F

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query

# 2^60 as double (see q_mix_sample): md5 60-bit prefix -> u in [0,1).
_U_DENOM = 1152921504606846976.0
_CONS_RATE = 0.25


def _u_sql(expr: str) -> str:
    return (
        f"CAST(CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 15))"
        f" AS BIGINT) AS DOUBLE) / {_U_DENOM!r}"
    )


def _u_col(col: Column) -> Column:
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / _U_DENOM
    )


@query(
    "q_sample_consistent",
    oracle=f"""
    WITH so AS (
        SELECT o_orderkey FROM orders WHERE {_u_sql('o_orderkey')} < {_CONS_RATE}
    ),
    sl AS (
        SELECT l_orderkey FROM lineitem WHERE {_u_sql('l_orderkey')} < {_CONS_RATE}
    ),
    joined AS (
        SELECT 1 FROM so JOIN sl ON sl.l_orderkey = so.o_orderkey
    ),
    full_join AS (
        SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM so) AS n_orders_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sl) AS n_lineitem_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM joined) AS n_join_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM full_join) AS n_join_full,
           round((SELECT COUNT(*) FROM joined)
                 / CAST(NULLIF((SELECT COUNT(*) FROM full_join), 0) AS DOUBLE),
                 6) AS join_sample_ratio
    """,
    tags=("sampling", "distributed"),
)
def q_sample_consistent(spark: SparkSession, d: str):
    """Join-consistent sampling: both orders and lineitem are sampled
    by the SAME md5-uniform draw on the JOIN KEY, so the join of the
    samples is an exact 25% sample of the join — where independent
    per-table sampling would keep only rate² (6.25%) of join rows and
    silently bias any sampled-join metric. The subtlety every
    distributed "dev slice" pipeline must get right (engine-native
    TABLESAMPLE is NOT join-consistent).

    The sample predicate is a stateless column function (no shuffle
    added); the report's ratio column IS the verification — it reads
    ~0.25, not ~0.0625."""
    o = load_table(spark, d, "orders")
    li = load_table(spark, d, "lineitem")
    so = o.filter(_u_col(F.col("o_orderkey")) < _CONS_RATE).select("o_orderkey")
    sl = li.filter(_u_col(F.col("l_orderkey")) < _CONS_RATE).select(
        "l_orderkey"
    )
    n_so = so.agg(F.count(F.lit(1)).alias("n_orders_sampled"))
    n_sl = sl.agg(F.count(F.lit(1)).alias("n_lineitem_sampled"))
    n_j = (
        so.join(sl, so.o_orderkey == sl.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n_join_sampled"))
    )
    n_f = (
        o.select("o_orderkey")
        .join(li.select("l_orderkey"), o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n_join_full"))
    )
    return (
        n_so.crossJoin(F.broadcast(n_sl))
        .crossJoin(F.broadcast(n_j))
        .crossJoin(F.broadcast(n_f))
        .select(
            "n_orders_sampled",
            "n_lineitem_sampled",
            "n_join_sampled",
            "n_join_full",
            F.round(
                F.try_divide(
                    F.col("n_join_sampled"),
                    F.col("n_join_full").cast("double"),
                ),
                6,
            ).alias("join_sample_ratio"),
        )
    )


@query(
    "q_train_test_split",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, text,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_tokens,
               CASE WHEN {_u_sql('doc_id')} < 0.8 THEN 'train'
                    WHEN {_u_sql('doc_id')} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tagged),
    leak AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked
        FROM (
            SELECT sha256(text) FROM tagged
            GROUP BY sha256(text)
            HAVING COUNT(DISTINCT split) > 1
        )
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           round(COUNT(*) / CAST(MIN(tot.n) AS DOUBLE), 6) AS share,
           CAST(MIN(leak.n_leaked) AS BIGINT) AS n_leaked_texts
    FROM tagged CROSS JOIN tot CROSS JOIN leak
    GROUP BY split
    ORDER BY split
    """,
    tags=("llm", "sampling"),
)
def q_train_test_split(spark: SparkSession, d: str):
    """Deterministic 80/10/10 train/val/test split by md5-uniform on
    doc_id, with the leakage audit every eval pipeline needs: the
    count of exact-duplicate texts (sha256) that landed in more than
    one split — nonzero means the dedup pass must run BEFORE the
    split, or eval scores are contaminated.

    The split tag is a stateless column function; per-split stats are
    one aggregation; the leakage check is a sha256-keyed aggregation
    counting distinct splits per text hash. Reproducible run-to-run
    and engine-exact (md5/sha256 are the portable primitives)."""
    docs = load_table(spark, d, "documents")
    u = _u_col(F.col("doc_id"))
    tagged = docs.select(
        "text",
        F.size(text.tokens()).alias("n_tokens"),
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
            "split"
        ),
    )
    tagged = track(tagged.persist())
    tot = tagged.agg(F.count(F.lit(1)).alias("n"))
    leak = (
        tagged.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    return (
        tagged.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.count(F.lit(1)) / F.min("n").cast("double"), 6
            ).alias("share"),
            F.min("n_leaked").cast("bigint").alias("n_leaked_texts"),
        )
        .orderBy("split")
    )


_Z_BITS = 8


def _z_sql(a: str, b: str) -> str:
    terms = []
    for k in range(_Z_BITS):
        terms.append(f"((({a} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({b} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


def _z_col(a: Column, b: Column) -> Column:
    terms = []
    for k in range(_Z_BITS):
        terms.append(
            F.shiftleft(F.shiftright(a, k).bitwiseAND(F.lit(1)), 2 * k)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        )
    return reduce(lambda x, y: x + y, terms)


@query(
    "q_zorder_key",
    oracle=f"""
    WITH keyed AS (
        SELECT CAST(o_custkey % 256 AS BIGINT) AS ka,
               CAST(CAST(FLOOR(o_totalprice) AS BIGINT) % 256 AS BIGINT) AS kb
        FROM orders
    ),
    z AS (
        SELECT ka, kb, CAST({_z_sql('ka', 'kb')} AS BIGINT) AS zval
        FROM keyed
    )
    SELECT CAST(zval // 4096 AS BIGINT) AS z_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT ka) AS BIGINT) AS n_cust_vals,
           CAST(COUNT(DISTINCT kb) AS BIGINT) AS n_price_vals,
           CAST(MAX(ka) - MIN(ka) AS BIGINT) AS cust_span,
           CAST(MAX(kb) - MIN(kb) AS BIGINT) AS price_span
    FROM z
    GROUP BY zval // 4096
    ORDER BY z_bucket
    """,
    tags=("lakehouse", "layout"),
)
def q_zorder_key(spark: SparkSession, d: str):
    """Z-order (Morton) clustering key over (customer, price) with a
    locality census: interleave 8 bits of each dimension, bucket the
    Z-value, and report how narrow each bucket's per-dimension spans
    are — the multi-dimensional-clustering transform behind Delta/
    Iceberg ZORDER BY, where narrow spans are what make zone maps
    (q_zonemap_prune) prune on BOTH columns at once.

    The interleave is a 16-term pure bit expression (engine-exact
    integer arithmetic, identical on both sides); the census is one
    aggregation over the 16 Z-buckets. At scale the Z-value is the
    repartitionByRange/sortWithinPartitions key for the write."""
    o = load_table(spark, d, "orders")
    keyed = o.select(
        (F.col("o_custkey") % 256).cast("bigint").alias("ka"),
        (F.floor("o_totalprice").cast("bigint") % 256)
        .cast("bigint")
        .alias("kb"),
    )
    z = keyed.select(
        "ka", "kb", _z_col(F.col("ka"), F.col("kb")).cast("bigint").alias("zval")
    )
    return (
        z.groupBy(F.expr("zval DIV 4096").cast("bigint").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("ka").alias("n_cust_vals"),
            F.countDistinct("kb").alias("n_price_vals"),
            (F.max("ka") - F.min("ka")).cast("bigint").alias("cust_span"),
            (F.max("kb") - F.min("kb")).cast("bigint").alias("price_span"),
        )
        .orderBy("z_bucket")
    )
