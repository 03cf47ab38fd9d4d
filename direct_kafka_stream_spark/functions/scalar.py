"""Scalar function sweep (SURVEY.md §2.B: q_str_fns q_date_fns
q_math_fns q_cond_fns q_cast), plus edit distance, bitwise algebra,
ISO-calendar and interval arithmetic, trigonometry, numeral systems,
printf formatting, masking, base64, binary and VARIANT columns, ANSI
try_* functions, and the modern, bitwise, regression and approximate
aggregates — every function chosen to exist with identical semantics
in Spark and DuckDB.

All JVM-side built-ins — whole-stage-codegen'd, no Python in the hot
path. Oracle-alignment notes are inline: transcendental functions
(exp/ln/log10/pow) are rounded to 6 dp on both engines because libm
implementations may differ in the last ulp; sqrt is IEEE
correctly-rounded and needs no rounding; double→int casts are expressed
as floor() because Spark truncates while DuckDB rounds.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.exprs import rank_within_eps
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


@query(
    "q_str_fns2",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_name, 'red widget') AS lev_red,
           reverse(p_name)                   AS rname,
           repeat(p_brand, 2)                AS brand2,
           ascii(p_name)                     AS first_code,
           left(p_name, 3)                   AS l3,
           right(p_name, 3)                  AS r3,
           starts_with(p_name, 'small')      AS is_small,
           contains(p_name, 'widget')        AS has_widget
    FROM part
    """,
    tags=("functions", "string"),
)
def q_str_fns2(spark: SparkSession, d: str):
    """String sweep 2: Levenshtein edit distance (the classic fuzzy
    title-match primitive — O(len²) per pair, so at scale it runs
    after LSH blocking, never all-pairs), reverse/repeat/ascii,
    left/right slices, prefix/containment predicates."""
    p = load_table(spark, d, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", F.lit("red widget")).alias("lev_red"),
        F.reverse("p_name").alias("rname"),
        F.repeat("p_brand", 2).alias("brand2"),
        F.ascii("p_name").alias("first_code"),
        F.left("p_name", F.lit(3)).alias("l3"),
        F.right("p_name", F.lit(3)).alias("r3"),
        F.startswith("p_name", F.lit("small")).alias("is_small"),
        F.contains("p_name", F.lit("widget")).alias("has_widget"),
    )


@query(
    "q_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_orderkey & 255                  AS and255,
           l_orderkey | 4096                 AS or4096,
           xor(l_orderkey, l_linenumber)     AS xorln,
           l_linenumber << 4                 AS shl4,
           l_orderkey >> 2                   AS shr2,
           bit_count(l_orderkey)             AS popcnt
    FROM lineitem
    """,
    tags=("functions", "bitwise"),
)
def q_bitwise(spark: SparkSession, d: str):
    """Bitwise algebra — the workhorse of packed flags, bloom/bitset
    membership, and SimHash-style fingerprints. All JVM codegen."""
    li = load_table(spark, d, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").bitwiseAND(F.lit(255)).alias("and255"),
        F.col("l_orderkey").bitwiseOR(F.lit(4096)).alias("or4096"),
        F.col("l_orderkey")
        .bitwiseXOR(F.col("l_linenumber").cast("long"))
        .alias("xorln"),
        F.shiftleft(F.col("l_linenumber"), 4).alias("shl4"),
        F.shiftright(F.col("l_orderkey"), 2).alias("shr2"),
        F.bit_count("l_orderkey").cast("long").alias("popcnt"),
    )


@query(
    "q_agg_bitwise",
    oracle="""
    SELECT l_returnflag,
           bit_and(l_orderkey) AS band,
           bit_or(l_orderkey)  AS bor,
           bit_xor(l_orderkey) AS bxor
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "bitwise"),
)
def q_agg_bitwise(spark: SparkSession, d: str):
    """Bitwise aggregates (AND/OR/XOR fold) — order-independent and
    map-side combinable, i.e. safe under any partitioning."""
    li = load_table(spark, d, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and("l_orderkey").alias("band"),
        F.bit_or("l_orderkey").alias("bor"),
        F.bit_xor("l_orderkey").alias("bxor"),
    )


@query(
    "q_date_fns2",
    oracle="""
    SELECT o_orderkey,
           CAST(weekofyear(o_orderdate) AS INT)  AS iso_week,
           CAST(dayofyear(o_orderdate) AS INT)   AS doy,
           strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
           strftime(make_date(2000, CAST(month(o_orderdate) AS INT), 1),
                    '%Y-%m-%d')                  AS y2k_month,
           strftime(o_orderdate, '%Y/%m/%d')     AS slashed
    FROM orders
    """,
    tags=("functions", "date"),
)
def q_date_fns2(spark: SparkSession, d: str):
    """Date sweep 2: ISO week numbers (both engines are ISO-8601 here),
    day-of-year, month boundaries, date construction, custom format
    patterns. Calendar values leave as strings — DATE objects
    materialize differently across the two engines' pandas paths."""
    o = load_table(spark, d, "orders")
    return o.select(
        "o_orderkey",
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.dayofyear("o_orderdate").alias("doy"),
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(
            F.make_date(F.lit(2000), F.month("o_orderdate"), F.lit(1)), "yyyy-MM-dd"
        ).alias("y2k_month"),
        F.date_format("o_orderdate", "yyyy/MM/dd").alias("slashed"),
    )


@query(
    "q_math_fns2",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(sin(l_discount), 6)              AS s,
           round(cos(l_discount), 6)              AS c,
           round(atan2(l_quantity, 10.0), 6)      AS a2,
           round(degrees(l_discount), 6)          AS deg,
           round(radians(l_quantity), 6)          AS rad,
           round(cbrt(l_extendedprice), 6)        AS cr,
           round(log2(l_extendedprice), 6)        AS lg2,
           CAST(factorial(l_linenumber) AS BIGINT) AS fact
    FROM lineitem
    """,
    tags=("functions", "math"),
)
def q_math_fns2(spark: SparkSession, d: str):
    """Math sweep 2: trig/angle conversions (rounded 6 dp — libm
    implementations differ in the last ulp), cube root, log2,
    factorial (exact integers, line numbers ≤ 7)."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sin("l_discount"), 6).alias("s"),
        F.round(F.cos("l_discount"), 6).alias("c"),
        F.round(F.atan2(F.col("l_quantity"), F.lit(10.0)), 6).alias("a2"),
        F.round(F.degrees("l_discount"), 6).alias("deg"),
        F.round(F.radians("l_quantity"), 6).alias("rad"),
        F.round(F.cbrt("l_extendedprice"), 6).alias("cr"),
        F.round(F.log2("l_extendedprice"), 6).alias("lg2"),
        F.factorial("l_linenumber").alias("fact"),
    )


@query(
    "q_agg_modern",
    oracle="""
    SELECT l_linestatus,
           CAST(count_if(l_quantity > 30) AS BIGINT) AS n_heavy,
           round(median(l_quantity), 6)              AS med_qty,
           round(median(l_extendedprice), 6)         AS med_price
    FROM lineitem GROUP BY l_linestatus
    """,
    tags=("agg",),
)
def q_agg_modern(spark: SparkSession, d: str):
    """count_if + median — the modern-SQL aggregate sugar. median is
    the interpolated 0.5-quantile in both engines (a per-group sort at
    scale; prefer approx_percentile when 100-TB exactness isn't
    required)."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.groupBy("l_linestatus").agg(
        F.count_if(F.col("l_quantity") > 30).alias("n_heavy"),
        F.round(F.median("l_quantity"), 6).alias("med_qty"),
        F.round(F.median("l_extendedprice"), 6).alias("med_price"),
    )


@query(
    "q_agg_regression",
    oracle="""
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
           round(regr_r2(l_extendedprice, l_quantity), 6)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q_agg_regression(spark: SparkSession, d: str):
    """Linear-regression aggregates (price ~ quantity per flag):
    single-pass moment accumulation, map-side combinable — the
    distributed OLS primitive. Rounded (slope/r2 to 6 dp, intercept to
    4 — it's price-scaled) since the two engines accumulate moments in
    different orders."""
    li = load_table(spark, d, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("icept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.regr_count(y, x).alias("n"),
    )


# Greenwald-Khanna accuracy parameter and its published guarantee: the
# returned element's RANK is within eps*N of the target rank, eps =
# 1/accuracy. The gate below checks exactly that, in rank space, with
# ±1 rank of slack for boundary conventions.
_GK_ACC = 10_000
_GK_EPS = 1.0 / _GK_ACC


@query(
    "q_agg_approx_pct",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           round(quantile_cont(l_quantity, 0.5), 4)  AS p50_exact,
           round(quantile_cont(l_quantity, 0.95), 4) AS p95_exact,
           TRUE AS p50_within,
           TRUE AS p95_within
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg", "sketch"),
)
def q_agg_approx_pct(spark: SparkSession, d: str):
    """Approximate percentiles (Greenwald-Khanna sketch), verified by
    the sketch's own published guarantee instead of a rows-only check:
    the returned element's rank must lie within eps*N of the target
    rank (eps = 1/accuracy). Pass 1 computes the sketch per group;
    pass 2 broadcast-joins the (3-row) result back and counts, per
    group, the elements strictly below / at-or-below each returned
    value — the rank interval of the returned element — and projects
    `p50_within`/`p95_within` booleans that the oracle asserts TRUE.
    The exact interpolated percentiles are also emitted from both
    engines as value anchors. At 100 TB only pass 1 ships: one pass,
    bounded memory, mergeable — the gate's join-back is the test
    apparatus, not the operator."""
    li = load_table(spark, d, "lineitem").select("l_returnflag", "l_quantity")
    ap = li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_quantity", F.lit(0.5), F.lit(_GK_ACC)).alias("ap50"),
        F.approx_percentile("l_quantity", F.lit(0.95), F.lit(_GK_ACC)).alias("ap95"),
    )
    q = F.col("l_quantity")

    def _rank_counts(ap_col: str, tag: str):
        return [
            F.sum((q < F.col(ap_col)).cast("long")).alias(f"lt{tag}"),
            F.sum((q <= F.col(ap_col)).cast("long")).alias(f"le{tag}"),
        ]

    chk = (
        li.join(F.broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_exact"),
            F.round(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95_exact"),
            *_rank_counts("ap50", "50"),
            *_rank_counts("ap95", "95"),
        )
    )

    def _within(frac: float, tag: str):
        # gate predicate lives in exprs.rank_within_eps so tests can
        # drive it with synthetic out-of-band rank counts
        return rank_within_eps(
            f"lt{tag}", f"le{tag}", "n_rows", frac, _GK_EPS
        ).alias(f"p{tag}_within")

    return chk.select(
        "l_returnflag",
        "n_rows",
        "p50_exact",
        "p95_exact",
        _within(0.5, "50"),
        _within(0.95, "95"),
    )


@query(
    "q_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text)               AS digest,
           left(text, 12)             AS head
    FROM documents
    """,
    tags=("functions", "binary"),
)
def q_binary_meta(spark: SparkSession, d: str):
    """Binary-column handling on the oracle path: text encoded to a
    BINARY column, with byte length + content digest projected out as
    comparable scalars (raw binary never crosses the comparison — the
    two engines' pandas materializations of blobs differ). The same
    shape an image/audio ingest runs: opaque bytes + typed metadata."""
    docs = load_table(spark, d, "documents")
    b = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(b).cast("long").alias("n_bytes"),
        F.sha2("text", 256).alias("digest"),
        F.left("text", F.lit(12)).alias("head"),
    )


@query(
    "q_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS k,
           CAST(json_extract(props, '$.missing') AS INT) AS absent
    FROM events
    """,
    tags=("functions", "variant"),
)
def q_variant(spark: SparkSession, d: str):
    """Spark 4 VARIANT type: parse_json → binary semi-structured value,
    typed field extraction with variant_get (no schema declared, no
    per-row string re-parsing downstream — the open-schema ingestion
    path for the reference's JSON payloads, reference README.md:167).
    Oracle is DuckDB's JSON extraction of the same paths."""
    e = spread_scan(load_table(spark, d, "events"), "event_id")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        F.variant_get(v, "$.missing", "int").alias("absent"),
    )


@query(
    "q_try_fns",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_extendedprice / NULLIF(l_quantity - l_quantity, 0.0) AS div0,
           floor((l_extendedprice / l_quantity) * 1000000) / 1000000 AS unit_price,
           try_cast(CASE WHEN l_quantity > 49 THEN l_returnflag
                         ELSE CAST(l_linenumber AS VARCHAR) END AS INT) AS flag_int,
           CASE WHEN l_orderkey % 997 = 0 AND l_orderkey > 0 THEN NULL
                WHEN l_orderkey % 997 = 0 THEN 9223372036854775807
                ELSE l_orderkey END                               AS ovf
    FROM lineitem
    """,
    tags=("functions", "ansi"),
)
def q_try_fns(spark: SparkSession, d: str):
    """ANSI-safe try_* arithmetic: division by zero, unparsable casts,
    and long overflow yield NULL instead of failing the job — at
    100 TB a single poisoned row must never kill a 6-hour pipeline,
    and the NULLs stay auditable (count them).

    Performance caveat measured here: the try_* family reports errors
    via caught JVM exceptions, so it is cheap only while failures are
    RARE — a column that fails on EVERY row (600 k caught
    NumberFormatExceptions) ran ~50× slower than the happy path. This
    query keeps failure rates at realistic poisoned-row levels (~1-2%%
    of rows), which is both the honest scenario and the fast one; if a
    column is expected to fail wholesale, pre-filter with rlike/CASE
    instead of try_cast."""
    li = load_table(spark, d, "lineitem")
    mixed = F.when(
        F.col("l_quantity") > 49, F.col("l_returnflag")
    ).otherwise(F.col("l_linenumber").cast("string"))
    big_if_marked = F.when(
        F.col("l_orderkey") % 997 == 0, F.lit(9223372036854775807)
    ).otherwise(F.lit(0).cast("long"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide("l_extendedprice", F.col("l_quantity") - F.col("l_quantity")).alias(
            "div0"
        ),
        (
            F.floor(
                F.try_divide("l_extendedprice", "l_quantity") * 1000000
            )
            / 1000000
        ).alias("unit_price"),
        mixed.try_cast("int").alias("flag_int"),
        F.try_add("l_orderkey", big_if_marked).alias("ovf"),
    )


@query(
    "q_numeral_fns",
    oracle="""
    SELECT l_orderkey,
           hex(l_orderkey)         AS h,
           to_base(l_orderkey, 2)  AS b2,
           to_base(l_orderkey, 16) AS b16,
           to_base(l_orderkey, 36) AS b36
    FROM lineitem WHERE l_orderkey > 0
    """,
    tags=("functions", "numeral"),
)
def q_numeral_fns(spark: SparkSession, d: str):
    """Numeral-system conversions (hex / arbitrary radix) — key
    encodings for compact string ids and shard prefixes. Uppercase
    digit alphabet in both engines; zero excluded (DuckDB renders
    to_base(0) as '' vs Spark '0')."""
    li = load_table(spark, d, "lineitem").filter(F.col("l_orderkey") > 0)
    k = F.col("l_orderkey").cast("string")
    return li.select(
        "l_orderkey",
        F.hex("l_orderkey").alias("h"),
        F.conv(k, 10, 2).alias("b2"),
        F.conv(k, 10, 16).alias("b16"),
        F.conv(k, 10, 36).alias("b36"),
    )


@query(
    "q_interval_fns",
    oracle="""
    SELECT event_id,
           strftime(ts + INTERVAL 90 MINUTE, '%Y-%m-%d %H:%M:%S') AS plus90m,
           strftime(ts - INTERVAL 2 DAY,     '%Y-%m-%d %H:%M:%S') AS minus2d,
           strftime(ts + INTERVAL 1 HOUR + INTERVAL 30 SECOND,
                    '%Y-%m-%d %H:%M:%S')                          AS plus_mixed,
           (ts + INTERVAL 90 MINUTE > ts)                         AS moved_fwd
    FROM events
    """,
    tags=("functions", "date"),
)
def q_interval_fns(spark: SparkSession, d: str):
    """Interval arithmetic on event-time: minute/day/mixed offsets and
    an interval-shifted comparison — the building blocks of watermark
    and join-window expressions, exercised as batch scalars. Outputs
    second-formatted strings (the events fixture is µs-aligned)."""
    e = load_table(spark, d, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return e.select(
        "event_id",
        F.date_format(F.col("ts") + F.expr("INTERVAL 90 MINUTES"), fmt).alias("plus90m"),
        F.date_format(F.col("ts") - F.expr("INTERVAL 2 DAYS"), fmt).alias("minus2d"),
        F.date_format(
            F.col("ts") + F.expr("INTERVAL 1 HOUR") + F.expr("INTERVAL 30 SECONDS"),
            fmt,
        ).alias("plus_mixed"),
        (F.col("ts") + F.expr("INTERVAL 90 MINUTES") > F.col("ts")).alias("moved_fwd"),
    )


@query(
    "q_format_str",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           printf('%d x %.2f [%s]', CAST(l_quantity AS INT),
                  l_extendedprice, l_returnflag) AS line_desc,
           lpad(CAST(l_orderkey AS VARCHAR), 12, '0') AS padded_key
    FROM lineitem
    """,
    tags=("functions", "string"),
)
def q_format_str(spark: SparkSession, d: str):
    """C-style printf formatting (identical %d/%.2f/%s semantics in
    both engines) + zero-padded fixed-width keys — the formatting
    layer of export/reporting sinks."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.format_string(
            "%d x %.2f [%s]",
            F.col("l_quantity").cast("int"),
            F.col("l_extendedprice"),
            F.col("l_returnflag"),
        ).alias("line_desc"),
        F.lpad(F.col("l_orderkey").cast("string"), 12, "0").alias("padded_key"),
    )


@query(
    "q_mask_pii",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(
               c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
               '[0-9]', 'n', 'g') AS masked_name,
           regexp_replace(CAST(c_custkey AS VARCHAR), '[0-9]', '*', 'g')
               AS masked_key
    FROM customer
    """,
    tags=("functions", "privacy"),
)
def q_mask_pii(spark: SparkSession, d: str):
    """PII masking: Spark's mask() expression (class-preserving
    character substitution — uppercase→X, lowercase→x, digit→n) and a
    custom digit mask — the redaction step compliance pipelines run
    before data leaves a boundary. The oracle replays the same policy
    as regex classes; shapes (length, separators) survive, values
    don't."""
    c = load_table(spark, d, "customer")
    return c.select(
        "c_custkey",
        F.mask("c_name").alias("masked_name"),
        F.mask(
            F.col("c_custkey").cast("string"),
            digitChar=F.lit("*"),
        ).alias("masked_key"),
    )


@query(
    "q_base64_roundtrip",
    oracle="""
    SELECT doc_id,
           base64(encode(left(text, 24))) AS b64,
           decode(from_base64(base64(encode(left(text, 24))))) AS back
    FROM documents
    """,
    tags=("functions", "binary"),
)
def q_base64_roundtrip(spark: SparkSession, d: str):
    """Base64 encode/decode round-trip over text prefixes — the wire
    encoding for binary payloads embedded in JSON/Kafka messages
    (the reference's payload channel, reference README.md:167).
    Identical RFC 4648 output both engines."""
    docs = load_table(spark, d, "documents")
    b = F.encode(F.left("text", F.lit(24)), "utf-8")
    return docs.select(
        "doc_id",
        F.base64(b).alias("b64"),
        F.decode(F.unbase64(F.base64(b)), "utf-8").alias("back"),
    )
