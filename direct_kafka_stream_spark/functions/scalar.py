"""Scalar function sweep (SURVEY.md §2.B: q_str_fns q_date_fns
q_math_fns q_cond_fns q_cast).

All JVM-side built-ins — whole-stage-codegen'd, no Python in the hot
path. Oracle-alignment notes are inline: transcendental functions
(exp/ln/log10/pow) are rounded to 6 dp on both engines because libm
implementations may differ in the last ulp; sqrt is IEEE
correctly-rounded and needs no rounding; double→int casts are expressed
as floor() because Spark truncates while DuckDB rounds.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query


@query(
    "q_str_fns",
    oracle="""
    SELECT p_partkey,
           upper(p_name)                    AS name_upper,
           lower(p_brand)                   AS brand_lower,
           substring(p_name, 1, 8)          AS name_head,
           concat_ws('-', p_brand, p_type)  AS brand_type,
           CAST(length(p_name) AS INTEGER)  AS name_len,
           replace(p_name, 'a', '@')        AS name_at,
           CAST(len(string_split(p_name, ' ')) AS INTEGER) AS n_words,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           CAST(instr(p_name, 'a') AS INTEGER) AS a_pos,
           lpad(p_brand, 12, '*')           AS brand_pad,
           trim(concat(' ', p_name, ' '))   AS name_trim,
           (p_type LIKE '%a%')              AS type_has_a
    FROM part
    """,
    tags=("functions",),
)
def q_str_fns(spark: SparkSession, d: str):
    p = load_table(spark, d, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_head"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("name_at"),
        F.size(text.space_split("p_name")).alias("n_words"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.instr(F.col("p_name"), "a").alias("a_pos"),
        F.lpad("p_brand", 12, "*").alias("brand_pad"),
        F.trim(F.concat(F.lit(" "), F.col("p_name"), F.lit(" "))).alias("name_trim"),
        F.col("p_type").like("%a%").alias("type_has_a"),
    )


@query(
    "q_date_fns",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER)    AS yr,
           CAST(month(o_orderdate) AS INTEGER)   AS mth,
           CAST(day(o_orderdate) AS INTEGER)     AS dom,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', o_orderdate, TIMESTAMP '1998-01-01') AS INTEGER) AS days_to_98,
           strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d')   AS plus3m,
           strftime(o_orderdate, '%Y-%m-%d')              AS odate,
           CAST(epoch(o_orderdate) AS BIGINT)             AS epoch_s,
           strftime(o_orderdate, '%Y-%m-%d')              AS ymd
    FROM orders
    """,
    tags=("functions",),
)
def q_date_fns(spark: SparkSession, d: str):
    """Date/time functions. dayofweek: Spark is 1=Sunday, DuckDB is
    0=Sunday — oracle adds 1. Calendar outputs are formatted strings
    (DATE objects materialize differently across engine→pandas paths).
    Timestamps here are midnight-aligned so epoch casts are
    fraction-free."""
    o = load_table(spark, d, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.quarter("o_orderdate").alias("qtr"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias("days_to_98"),
        F.date_format(F.add_months("o_orderdate", 3), "yyyy-MM-dd").alias("plus3m"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("odate"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("ymd"),
    )


@query(
    "q_math_fns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1)          AS price_r1,
           abs(l_discount - 0.05)             AS disc_dev,
           CAST(ceil(l_quantity) AS BIGINT)   AS qty_ceil,
           CAST(floor(l_quantity) AS BIGINT)  AS qty_floor,
           sqrt(l_quantity)                   AS qty_sqrt,
           round(exp(l_discount), 6)          AS disc_exp,
           round(ln(l_extendedprice), 6)      AS price_ln,
           round(log10(l_extendedprice), 6)   AS price_log10,
           round(pow(l_quantity, 2), 6)       AS qty_sq,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           l_orderkey % 7                     AS ok_mod7
    FROM lineitem
    """,
    tags=("functions",),
)
def q_math_fns(spark: SparkSession, d: str):
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.ceil("l_quantity").alias("qty_ceil"),
        F.floor("l_quantity").alias("qty_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.log10("l_extendedprice"), 6).alias("price_log10"),
        F.round(F.pow("l_quantity", F.lit(2)), 6).alias("qty_sq"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        (F.col("l_orderkey") % 7).alias("ok_mod7"),
    )


@query(
    "q_cond_fns",
    oracle="""
    SELECT o_orderkey,
           CASE o_orderstatus WHEN 'F' THEN 'finished'
                              WHEN 'O' THEN 'open'
                              ELSE 'other' END AS status_word,
           CASE WHEN o_totalprice > 150000 THEN 'big' ELSE 'small' END AS size_word,
           coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_nz,
           least(o_totalprice, 100000.0)    AS price_capped,
           greatest(o_totalprice, 100000.0) AS price_floored
    FROM orders
    """,
    tags=("functions",),
)
def q_cond_fns(spark: SparkSession, d: str):
    o = load_table(spark, d, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", "finished")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_word"),
        F.when(F.col("o_totalprice") > 150000, "big").otherwise("small").alias("size_word"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias("status_nz"),
        F.least("o_totalprice", F.lit(100000.0)).alias("price_capped"),
        F.greatest("o_totalprice", F.lit(100000.0)).alias("price_floored"),
    )


@query(
    "q_cast",
    oracle="""
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT)           AS ln_long,
           CAST(l_orderkey AS DOUBLE)             AS ok_double,
           CAST(CAST(l_orderkey AS VARCHAR) AS BIGINT) AS ok_roundtrip,
           CAST(floor(l_quantity) AS INTEGER)     AS qty_int,
           strftime(l_shipdate, '%Y-%m-%d')       AS ship_date,
           CAST(CAST(l_tax AS VARCHAR) AS DOUBLE) AS tax_roundtrip
    FROM lineitem
    """,
    tags=("functions",),
)
def q_cast(spark: SparkSession, d: str):
    """Casts across the numeric/string/temporal lattice. double→int is
    expressed as floor()+cast because Spark truncates toward zero while
    DuckDB rounds half-even — floor() pins one semantic on both."""
    li = load_table(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("ln_long"),
        F.col("l_orderkey").cast("double").alias("ok_double"),
        F.col("l_orderkey").cast("string").cast("long").alias("ok_roundtrip"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        F.col("l_tax").cast("string").cast("double").alias("tax_roundtrip"),
    )
