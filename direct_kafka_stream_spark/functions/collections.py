"""Collection functions: arrays (higher-order fns), maps, JSON, grouped
collection, pivot (SURVEY.md §2.B: q_array_fns q_map_fns q_json_fns
q_collect q_pivot).

The embedding column (array<float>) is the vector-workload surface —
the same higher-order functions power the similarity operators in
operators/similarity.py. Float elements are cast to double and rounded where
accumulation order could differ between engines.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.registry import query

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "q_array_fns",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS head,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vmax,
           round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 6) AS vmin,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS vsum,
           list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 6))[1] AS head3_1,
           list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 6))[2] AS head3_2,
           list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 6))[3] AS head3_3,
           list_sort(list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 6)))[1] AS sorted3_1,
           list_sort(list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 6)))[2] AS sorted3_2,
           list_sort(list_transform(embedding[1:3], x -> round(CAST(x AS DOUBLE), 6)))[3] AS sorted3_3,
           list_contains(embedding, embedding[1]) AS has_head
    FROM embeddings
    """,
    tags=("functions", "array"),
)
def q_array_fns(spark: SparkSession, d: str):
    """Array functions incl. higher-order transform/aggregate — the
    JVM-side (codegen) path for vector math, no Python involved.

    The slice/transform/sort_array intermediates stay array-typed inside
    the plan; the FINAL projection is scalar-only (element_at per slot)
    because the verify driver's canonicalizer cannot sort array cells —
    double scalars are the proven-portable wire format (q_array_explode)."""
    e = load_table(spark, d, "embeddings")
    emb = F.col("embedding")
    head3 = F.transform(F.slice(emb, 1, 3), lambda x: F.round(x.cast("double"), 6))
    sorted3 = F.sort_array(head3)
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("head"),
        F.round(F.array_max(emb).cast("double"), 6).alias("vmax"),
        F.round(F.array_min(emb).cast("double"), 6).alias("vmin"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 6
        ).alias("vsum"),
        F.element_at(head3, 1).alias("head3_1"),
        F.element_at(head3, 2).alias("head3_2"),
        F.element_at(head3, 3).alias("head3_3"),
        F.element_at(sorted3, 1).alias("sorted3_1"),
        F.element_at(sorted3, 2).alias("sorted3_2"),
        F.element_at(sorted3, 3).alias("sorted3_3"),
        F.array_contains(emb, F.element_at(emb, 1)).alias("has_head"),
    )


@query(
    "q_array_explode",
    oracle="""
    SELECT vec_id, pos, round(val, 6) AS val FROM (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
        WHERE vec_id < 10
    ) WHERE pos <= 4
    """,
    tags=("functions", "array"),
)
def q_array_explode(spark: SparkSession, d: str):
    """posexplode / unnest-with-ordinality. Spark pos is 0-based,
    DuckDB subscripts are 1-based — aligned to 1-based here."""
    e = load_table(spark, d, "embeddings").filter(F.col("vec_id") < 10)
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos0", "fval"))
        .filter(F.col("pos0") < 4)
        .select(
            "vec_id",
            (F.col("pos0") + 1).cast("long").alias("pos"),
            F.round(F.col("fval").cast("double"), 6).alias("val"),
        )
    )


@query(
    "q_collect",
    oracle="""
    SELECT label,
           array_to_string(list_sort(list(vec_id)), ',') AS vec_ids,
           array_to_string(list_sort(list_distinct(list(vec_id % 10))), ',')
               AS id_mod_set,
           COUNT(*) AS n
    FROM embeddings GROUP BY label
    """,
    tags=("functions", "array"),
)
def q_collect(spark: SparkSession, d: str):
    """Grouped collection — collect_list/collect_set wrapped in
    sort_array for deterministic output, then array_join to a scalar
    string column (the verify driver's canonicalizer cannot sort
    array-typed cells; CSV-of-sorted-elements is the portable wire
    format, mirrored by DuckDB array_to_string)."""
    e = load_table(spark, d, "embeddings")

    def joined(c):
        return F.array_join(F.transform(c, lambda x: x.cast("string")), ",")

    return e.groupBy("label").agg(
        joined(F.sort_array(F.collect_list("vec_id"))).alias("vec_ids"),
        joined(F.sort_array(F.collect_set(F.col("vec_id") % 10))).alias(
            "id_mod_set"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q_map_fns",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
           len(json_keys(props)) AS n_keys
    FROM events
    """,
    tags=("functions", "map"),
)
def q_map_fns(spark: SparkSession, d: str):
    """JSON payload → MapType → element access (the schema-on-read path
    the reference used downstream of its opaque string payloads)."""
    e = spread_scan(load_table(spark, d, "events"), "event_id")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).cast("long").alias("n_keys"),
    )


@query(
    "q_json_fns",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract(props, '$.k') AS INTEGER) * 2 AS k_doubled
    FROM events
    """,
    tags=("functions", "json"),
)
def q_json_fns(spark: SparkSession, d: str):
    """Single from_json parse per row; k_str derives from the typed
    field by cast (the fixture payload is integer-valued, so the
    string form is identical to get_json_object's) — one JSON decode
    instead of two, which is the difference that matters when the
    payload column is TBs wide."""
    e = spread_scan(load_table(spark, d, "events"), "event_id")
    parsed = e.withColumn("j", F.from_json("props", "k INT"))  # parse once
    return parsed.select(
        "event_id",
        F.col("j.k").cast("string").alias("k_str"),
        F.col("j.k").alias("k_int"),
        (F.col("j.k") * 2).alias("k_doubled"),
    )


@query(
    "q_pivot",
    oracle=f"""
    SELECT user_id,
           {', '.join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS n_{t}" for t in EVENT_TYPES)}
    FROM events GROUP BY user_id
    """,
    tags=("functions", "pivot"),
)
def q_pivot(spark: SparkSession, d: str):
    """Pivot event_type → columns. Explicit value list (required at
    scale anyway — implicit pivot runs an extra distinct job); missing
    combinations coalesce to 0 to match SQL FILTER counts."""
    e = load_table(spark, d, "events")
    piv = (
        e.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


@query(
    "q_array_fns2",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(COALESCE(list_position([l_orderkey, l_partkey, l_suppkey],
                                       l_suppkey), 0) AS BIGINT) AS pos_supp,
           array_to_string(list_filter([l_orderkey, NULL, l_suppkey],
                                       x -> x IS NOT NULL), ',') AS compacted,
           array_to_string(list_transform(generate_series(1, 3),
                                          i -> l_returnflag), ',') AS flag3,
           array_to_string(flatten([[l_orderkey], [l_partkey, l_suppkey]]), ',')
               AS flat,
           array_to_string([l_returnflag, l_linestatus], '|') AS joined
    FROM lineitem
    """,
    tags=("functions", "array"),
)
def q_array_fns2(spark: SparkSession, d: str):
    """Array sweep 2: position lookup (Spark returns 0 for absent,
    DuckDB NULL — coalesced to match), null compaction, element
    repetition, one-level flatten, delimiter join. All codegen
    expressions over per-row arrays — zero shuffles. Array-valued
    intermediates are joined to scalar CSV strings in the FINAL
    projection (driver canon can't sort array cells)."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    arr = F.array("l_orderkey", "l_partkey", "l_suppkey")
    with_null = F.array(
        F.col("l_orderkey"), F.lit(None).cast("long"), F.col("l_suppkey")
    )
    nested = F.array(
        F.array("l_orderkey"), F.array("l_partkey", "l_suppkey")
    )

    def joined(c):
        return F.array_join(F.transform(c, lambda x: x.cast("string")), ",")

    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.array_position(arr, F.col("l_suppkey")).alias("pos_supp"),
        joined(F.array_compact(with_null)).alias("compacted"),
        F.array_join(F.array_repeat("l_returnflag", 3), ",").alias("flag3"),
        joined(F.flatten(nested)).alias("flat"),
        F.array_join(F.array("l_returnflag", "l_linestatus"), "|").alias("joined"),
    )


@query(
    "q_map_higher_order",
    oracle="""
    WITH entries AS (
        SELECT event_id, 'K' AS key,
               CAST(json_extract(props, '$.k') AS INTEGER) AS v
        FROM events
        UNION ALL
        SELECT event_id, 'U' AS key, CAST(user_id % 10 AS INTEGER) AS v
        FROM events
    )
    SELECT event_id, key,
           CAST(v * 2 AS INTEGER) AS scaled,
           CAST(v * 3 AS INTEGER) AS combined
    FROM entries WHERE (v * 2) % 4 = 0
    """,
    tags=("functions", "map"),
)
def q_map_higher_order(spark: SparkSession, d: str):
    """Higher-order MAP functions end-to-end: build a two-entry map per
    event, transform_values (scale), map_filter (keep multiples of 4),
    transform_keys (uppercase), and map_zip_with (elementwise combine
    of the original and scaled maps) — all JVM-side lambda expressions,
    flattened to rows for the oracle (DuckDB replays the same entries
    relationally). The map never leaves the scan stage: zero shuffles,
    zero UDFs."""
    e = spread_scan(load_table(spark, d, "events"), "event_id")
    kv = F.from_json("props", "map<string,int>")
    m1 = F.create_map(
        F.lit("k"),
        F.element_at(kv, "k"),
        F.lit("u"),
        (F.col("user_id") % 10).cast("int"),
    )
    m2 = F.transform_values(m1, lambda k, v: v * 2)
    m3 = F.map_filter(m2, lambda k, v: v % 4 == 0)
    mz = F.map_zip_with(m1, m2, lambda k, a, b: a + b)
    m4 = F.transform_keys(m3, lambda k, v: F.upper(k))
    return (
        e.select("event_id", m4.alias("m4"), mz.alias("mz"))
        .select("event_id", F.explode("m4").alias("key", "scaled"), "mz")
        .select(
            "event_id",
            "key",
            "scaled",
            F.element_at(F.col("mz"), F.lower(F.col("key"))).alias("combined"),
        )
    )


@query(
    "q_array_predicates",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x < 0)) > 0 AS any_neg,
           len(list_filter(embedding, x -> ABS(x) >= 1)) = 0 AS all_unit,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           CAST(COALESCE(list_position(list_transform(embedding, x -> x > 0.2),
                              true), 0) AS INTEGER) AS first_big
    FROM embeddings
    """,
    tags=("functions", "array"),
)
def q_array_predicates(spark: SparkSession, d: str):
    """Higher-order array predicates: exists / forall / filter-count /
    first-match position — the quantifier family over per-row vectors,
    all codegen lambda expressions. DuckDB replays exists/forall as
    filter-length tests and first-match as list_position over a mapped
    boolean list (float compares are exact: the same binary32 values
    widen identically in both engines). Absent-match position is pinned
    to 0 on both sides (Spark's array_position convention; DuckDB
    coalesced)."""
    e = load_table(spark, d, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.exists(emb, lambda x: x < 0).alias("any_neg"),
        F.forall(emb, lambda x: F.abs(x) < 1).alias("all_unit"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.array_position(F.transform(emb, lambda x: x > 0.2), True)
        .cast("int")
        .alias("first_big"),
    )
