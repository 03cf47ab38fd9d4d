"""Engine exhibits: hand-built sketches (HyperLogLog, Count-Min,
Bloom filters), storage layout (z-order, zone maps, compaction,
bucketing, partition pruning), incremental view maintenance, Python
and Arrow execution paths, SQL pipes and SQL functions, the pandas
API, Spark ML, and the multimodal codec audit.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import partial, reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import on_close, scratch_dir, track
from direct_kafka_stream_spark.exprs import (
    DEC,
    OUT_SCALE,
    bounded_window_key,
    dsum,
    dsum_sql,
    md5_int,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query


# --- HyperLogLog parameters -------------------------------------------------
_HLL_M = 256  # buckets (b = 8 bits)
# alpha_256 = 0.7213 / (1 + 1.079/256), embedded as the same literal on
# both engines (computed once here; never recomputed with libm at
# query time).
_HLL_ALPHA = repr(round(0.7213 / (1.0 + 1.079 / 256), 12))
# rank lives in the remaining 52 bits of the 60-bit md5 prefix
_HLL_RANKW = 52


def _hll_oracle() -> str:
    return f"""
    WITH h AS (
        SELECT DISTINCT
               CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS BIGINT) AS hv
        FROM events
    ),
    br AS (
        SELECT hv % {_HLL_M} AS bucket,
               CASE WHEN hv // {_HLL_M} = 0 THEN {_HLL_RANKW + 1}
                    ELSE {_HLL_RANKW} - length(bin(hv // {_HLL_M})) + 1
               END AS rank
        FROM h
    ),
    regs AS (
        SELECT bucket, MAX(rank) AS r FROM br GROUP BY bucket
    ),
    full_regs AS (
        SELECT g.bucket, COALESCE(regs.r, 0) AS r
        FROM (SELECT unnest(generate_series(0, {_HLL_M - 1})) AS bucket) g
        LEFT JOIN regs ON regs.bucket = g.bucket
    ),
    z AS (
        SELECT CAST(SUM(CAST(1 AS BIGINT) << ({_HLL_RANKW + 1} - r))
                    AS BIGINT) AS z_scaled,
               CAST(COUNT(*) FILTER (WHERE r = 0) AS BIGINT) AS v_empty
        FROM full_regs
    ),
    exact AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact FROM events
    )
    SELECT e.n_exact,
           CAST({_HLL_M} AS BIGINT) AS m,
           z.v_empty,
           round({_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                 * (CAST(1 AS BIGINT) << {_HLL_RANKW + 1})
                 / CAST(z.z_scaled AS DOUBLE), 4) AS raw_estimate,
           round(CASE WHEN {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                           * (CAST(1 AS BIGINT) << {_HLL_RANKW + 1})
                           / CAST(z.z_scaled AS DOUBLE) <= 2.5 * {_HLL_M}
                       AND z.v_empty > 0
                      THEN {_HLL_M} * ln({_HLL_M} / CAST(z.v_empty AS DOUBLE))
                      ELSE {_HLL_ALPHA} * {_HLL_M} * {_HLL_M}
                           * (CAST(1 AS BIGINT) << {_HLL_RANKW + 1})
                           / CAST(z.z_scaled AS DOUBLE)
                 END, 4) AS estimate
    FROM exact e CROSS JOIN z
    """


@query(
    "q_hll_manual",
    oracle=_hll_oracle(),
    tags=("sketch", "approx"),
)
def q_hll_manual(spark: SparkSession, d: str):
    """Portable HyperLogLog: 256 registers built from the md5 60-bit
    prefix (8 bucket bits, leading-zero rank over the remaining 52),
    harmonic-mean estimate with the small-range linear-counting
    correction, reported against the exact distinct user count. The
    register table IS the mergeable sketch a 1000-executor job would
    combine — built here with a plain bucket-keyed MAX, which is
    exactly the merge operation.

    Engine-exactness: bucket and rank are pure integer/md5 functions;
    the harmonic sum is computed SCALED BY 2^53 so it is an exact
    BIGINT sum (no float accumulation at all); alpha is an embedded
    literal; only the final division and the ln() of the correction
    are double (rounded 4dp). The deterministic twin of
    q_agg_approx's engine-native HLL (which no oracle can check)."""
    e = load_table(spark, d, "events")
    hv = md5_int(F.col("user_id").cast("string"), 15).alias("hv")
    h = e.select(hv).distinct()
    h2 = F.expr(f"hv DIV {_HLL_M}")
    rank = F.when(h2 == 0, F.lit(_HLL_RANKW + 1)).otherwise(
        F.lit(_HLL_RANKW) - F.length(F.bin(h2)) + 1
    )
    br = h.select((F.col("hv") % _HLL_M).alias("bucket"), rank.alias("rank"))
    regs = br.groupBy("bucket").agg(F.max("rank").alias("r"))
    grid = spark.range(_HLL_M).select(F.col("id").alias("bucket"))
    full_regs = grid.join(F.broadcast(regs), "bucket", "left").select(
        F.coalesce("r", F.lit(0)).alias("r")
    )
    z = full_regs.agg(
        F.sum(
            F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_RANKW + 1} - r)")
        ).alias("z_scaled"),
        F.count(F.when(F.col("r") == 0, 1)).alias("v_empty"),
    )
    exact = e.agg(F.countDistinct("user_id").alias("n_exact"))
    alpha = float(_HLL_ALPHA)
    scale = 1 << (_HLL_RANKW + 1)
    raw = (
        F.lit(alpha)
        * _HLL_M
        * _HLL_M
        * F.lit(scale)
        / F.col("z_scaled").cast("double")
    )
    est = F.when(
        (raw <= 2.5 * _HLL_M) & (F.col("v_empty") > 0),
        F.lit(float(_HLL_M)) * F.log(_HLL_M / F.col("v_empty").cast("double")),
    ).otherwise(raw)
    return (
        exact.crossJoin(F.broadcast(z))
        .select(
            "n_exact",
            F.lit(_HLL_M).cast("bigint").alias("m"),
            F.col("v_empty").cast("bigint").alias("v_empty"),
            F.round(raw, 4).alias("raw_estimate"),
            F.round(est, 4).alias("estimate"),
        )
    )


# --- Count-Min parameters ---------------------------------------------------
_CMS_D = 4  # depth (independent md5 salts)
_CMS_W = 128  # width (buckets per row)
_CMS_TOPK = 15


def _cms_oracle() -> str:
    return f"""
    WITH words AS (
        SELECT unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents
    ),
    salts AS (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS s),
    sketch AS (
        SELECT s,
               CAST(CAST(concat('0x', substr(md5(concat(CAST(s AS VARCHAR), '|', word)), 1, 15))
                    AS BIGINT) % {_CMS_W} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM words CROSS JOIN salts
        GROUP BY s, bucket
    ),
    true_counts AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS true_n
        FROM words GROUP BY word
        ORDER BY true_n DESC, word LIMIT {_CMS_TOPK}
    ),
    probes AS (
        SELECT t.word, t.true_n, sk.c
        FROM true_counts t
        CROSS JOIN salts
        JOIN sketch sk
          ON sk.s = salts.s
         AND sk.bucket = CAST(CAST(concat('0x', substr(md5(concat(CAST(salts.s AS VARCHAR), '|', t.word)), 1, 15))
                              AS BIGINT) % {_CMS_W} AS BIGINT)
    )
    SELECT word, true_n,
           CAST(MIN(c) AS BIGINT) AS cms_estimate,
           CAST(MIN(c) - true_n AS BIGINT) AS overcount
    FROM probes
    GROUP BY word, true_n
    ORDER BY true_n DESC, word
    """


@query(
    "q_cms_heavy_hitters",
    oracle=_cms_oracle(),
    tags=("sketch", "approx"),
)
def q_cms_heavy_hitters(spark: SparkSession, d: str):
    """Count-Min sketch (depth 4 × width 128) over the corpus token
    stream, evaluated on the top-15 true heavy hitters: the estimate
    is the MIN over the 4 row counters, and the report shows the
    guaranteed-nonnegative overcount per word — the calibration loop
    that sizes width/depth before trusting a sketch for frequency
    capping at 100 TB.

    The sketch is 512 cells built by one (salt, bucket)-keyed count
    over the 4x-salted token stream (partition-local partials merge
    by key — the CMS merge IS counter addition); the probe side is
    top-k-bounded and joins the broadcast sketch. All md5/integer —
    no tolerance anywhere."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    words = docs.select(F.explode(text.tokens()).alias("word"))
    words = track(words.persist())
    salts = spark.range(_CMS_D).select(F.col("id").cast("int").alias("s"))
    bucket = (
        md5_int(F.concat_ws("|", F.col("s").cast("string"), F.col("word")), 15)
        % _CMS_W
    )
    sketch = (
        words.crossJoin(F.broadcast(salts))
        .select("s", bucket.alias("bucket"))
        .groupBy("s", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    true_counts = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.col("true_n").desc(), "word")
        .limit(_CMS_TOPK)
    )
    probes = (
        true_counts.crossJoin(F.broadcast(salts))
        .select("word", "true_n", "s", bucket.alias("bucket"))
        .join(F.broadcast(sketch), ["s", "bucket"])
    )
    return (
        probes.groupBy("word", "true_n")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            "word",
            "true_n",
            F.col("cms_estimate").cast("bigint").alias("cms_estimate"),
            (F.col("cms_estimate") - F.col("true_n"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy(F.col("true_n").desc(), "word")
    )


# --- Bloom parameters -------------------------------------------------------
_BLOOM_M = 4096  # bits
_BLOOM_K = 3  # hash functions


def _bloom_oracle() -> str:
    return f"""
    WITH salts AS (SELECT unnest(generate_series(0, {_BLOOM_K - 1})) AS s),
    bits AS (
        SELECT DISTINCT
               CAST(CAST(concat('0x', substr(md5(concat(CAST(s AS VARCHAR), '#',
                                             CAST(c_custkey AS VARCHAR))), 1, 15))
                    AS BIGINT) % {_BLOOM_M} AS BIGINT) AS bit
        FROM customer CROSS JOIN salts
    ),
    probes AS (
        SELECT c_custkey * 3 AS probe FROM customer
    ),
    truth AS (
        SELECT p.probe,
               CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS is_member
        FROM probes p LEFT JOIN customer c ON c.c_custkey = p.probe
    ),
    hits AS (
        SELECT t.probe, t.is_member, CAST(COUNT(b.bit) AS BIGINT) AS n_hit
        FROM truth t
        CROSS JOIN salts
        LEFT JOIN bits b
          ON b.bit = CAST(CAST(concat('0x', substr(md5(concat(CAST(salts.s AS VARCHAR), '#',
                                        CAST(t.probe AS VARCHAR))), 1, 15))
                          AS BIGINT) % {_BLOOM_M} AS BIGINT)
        GROUP BY t.probe, t.is_member
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(is_member) AS BIGINT) AS n_true_members,
           CAST(COUNT(*) FILTER (WHERE n_hit = {_BLOOM_K}) AS BIGINT)
               AS n_bloom_positive,
           CAST(COUNT(*) FILTER (WHERE n_hit = {_BLOOM_K} AND is_member = 0)
                AS BIGINT) AS n_false_positive,
           round(COUNT(*) FILTER (WHERE n_hit = {_BLOOM_K} AND is_member = 0)
                 / CAST(NULLIF(COUNT(*) - SUM(is_member), 0) AS DOUBLE), 6)
               AS fp_rate
    FROM hits
    """


@query(
    "q_bloom_manual",
    oracle=_bloom_oracle(),
    tags=("sketch", "approx"),
)
def q_bloom_manual(spark: SparkSession, d: str):
    """Portable Bloom filter (4096 bits, k=3 md5 hashes) built over
    the customer key set and probed with a deterministic mixed
    member/non-member key stream (c_custkey * 3 — contiguous custkeys
    make ~1/3 of probes true members), reporting the measured
    false-positive rate — the structure Spark itself injects as a
    runtime filter (test_runtime_bloom_filter_prunes_fact_scan); this
    exhibit makes its CONTENTS oracle-checkable.

    The bit set is <= 4096 distinct rows (broadcastable at any build
    cardinality); probes explode k-fold, join the broadcast bit set,
    and a probe is positive iff all k bits hit. Everything is
    md5/integer — the false-positive COUNT itself is engine-exact, no
    tolerance."""
    c = load_table(spark, d, "customer")
    salts = spark.range(_BLOOM_K).select(F.col("id").cast("int").alias("s"))

    def _bit(key_col):
        key = F.concat_ws("#", F.col("s").cast("string"), key_col.cast("string"))
        return md5_int(key, 15) % _BLOOM_M

    bits = (
        c.crossJoin(F.broadcast(salts))
        .select(_bit(F.col("c_custkey")).alias("bit"))
        .distinct()
    )
    probes = c.select((F.col("c_custkey") * 3).alias("probe"))
    member = c.select(F.col("c_custkey").alias("probe"), F.lit(1).alias("m"))
    truth = probes.join(F.broadcast(member), "probe", "left").select(
        "probe", F.coalesce("m", F.lit(0)).alias("is_member")
    )
    hits = (
        truth.crossJoin(F.broadcast(salts))
        .select("probe", "is_member", _bit(F.col("probe")).alias("pbit"))
        .join(F.broadcast(bits), F.col("pbit") == F.col("bit"), "left")
        .groupBy("probe", "is_member")
        .agg(F.count("bit").alias("n_hit"))
    )
    pos = F.col("n_hit") == _BLOOM_K
    fp = pos & (F.col("is_member") == 0)
    return hits.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum("is_member").cast("bigint").alias("n_true_members"),
        F.count(F.when(pos, 1)).alias("n_bloom_positive"),
        F.count(F.when(fp, 1)).alias("n_false_positive"),
        F.round(
            F.count(F.when(fp, 1))
            / F.nullif(
                (F.count(F.lit(1)) - F.sum("is_member")).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# q_join_bloom — bloom-filter semi-join reduction (manual runtime filter)
# ---------------------------------------------------------------------------

_JOIN_BLOOM_M = 65536  # bits (1024 64-bit words; ~16 KB broadcast)
_JOIN_BLOOM_K = 3  # hash functions
_BLOOM_CUTOFF = "2001-01-01"


def _bloom_positions(key: F.Column) -> list[F.Column]:
    """The k bloom bit-positions of a join key: pmod(xxhash64(key, j), m)
    for j in 0..k-1 — the same expression on build and probe side."""
    return [
        F.pmod(F.xxhash64(key, F.lit(j)), F.lit(_JOIN_BLOOM_M)).cast("long")
        for j in range(_JOIN_BLOOM_K)
    ]


@query(
    "q_join_bloom",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '{_BLOOM_CUTOFF}'
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "scale", "sketch"),
)
def q_join_bloom(spark: SparkSession, d: str):
    """Bloom-filter semi-join reduction: revenue by priority for
    lineitems of recent (>= 2001) orders, with the fact side
    pre-filtered through a broadcast Bloom filter built from the
    selective dim's keys BEFORE the join shuffle — the explicit,
    engine-checked form of the runtime row-level filter Spark injects
    under ``spark.sql.optimizer.runtime.bloomFilter.enabled`` (and
    Flink/Trino's dynamic filtering). Exact by construction: the Bloom
    only PRUNES rows that cannot join (no false negatives); the real
    equi-join afterwards removes the false positives, so the result is
    bit-identical to the plain join the oracle runs.

    Build: the ~8%-selective dim explodes to k=3 xxhash64 bit
    positions, dedups, packs into 64-bit words via bit_or — a
    1024-row aggregate collected into ONE map<word,mask> row and
    broadcast (~16 KB regardless of fact size). Probe: each fact row
    tests its 3 positions with try_element_at + bitwise AND — a
    codegen-stage filter, no Python. At 100 TB this is the difference
    between shuffling the whole fact and shuffling ~selectivity+fp of
    it; the filter also lands before the scan's column pruning, so
    only surviving rows pay the join's wide-row cost."""
    o = load_table(spark, d, "orders")
    dim = o.filter(F.col("o_orderdate") >= _BLOOM_CUTOFF).select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    li = load_table(spark, d, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return bloom_reduce_join(li, dim)


def bloom_reduce_join(li, dim):
    """Composable form: bloom-prefilter ``li`` on l_orderkey against
    ``dim``'s k column, then the exact equi join + priority rollup.

    Both keys are canonicalized to BIGINT before hashing: xxhash64 is
    type-sensitive, so an int build key probed by a bigint fact key
    would otherwise disagree on bit positions and silently drop join
    rows (false negatives). The cast is a no-op for already-long keys
    and preserves the no-false-negative guarantee for any integral
    key pair."""
    dim = dim.withColumn("k", F.col("k").cast("long"))
    li = li.withColumn("l_orderkey", F.col("l_orderkey").cast("long"))
    words = (
        dim.select(F.explode(F.array(*_bloom_positions(F.col("k")))).alias("pos"))
        .distinct()
        .groupBy(F.floor(F.col("pos") / 64).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("mask")
        )
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bf")
    )
    probe = li.crossJoin(F.broadcast(bloom))
    # SQL expression form: the DataFrame shiftleft() helper only takes a
    # literal shift amount, and the probe shifts by a computed bit index
    probe_pred = " AND ".join(
        f"(COALESCE(try_element_at(bf, CAST(floor(pmod(xxhash64(l_orderkey, "
        f"{j}), {_JOIN_BLOOM_M}) / 64) AS BIGINT)), CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(l_orderkey, {j}),"
        f" {_JOIN_BLOOM_M}) % 64 AS INT))) != 0"
        for j in range(_JOIN_BLOOM_K)
    )
    passed = probe.where(F.expr(probe_pred)).drop("bf")
    return (
        passed.join(dim, passed.l_orderkey == dim.k)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
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


# Zone-map pruning predicate (the literal a reader would push down).
_ZM_PRICE = 400000.0


@query(
    "q_zonemap_prune",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS bucket_month,
           COUNT(*) AS n_rows,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           MAX(o_totalprice) <= {_ZM_PRICE} AS skippable
    FROM orders GROUP BY bucket_month
    """,
    tags=("scale", "profiling"),
)
def q_zonemap_prune(spark: SparkSession, d: str):
    """Zone-map construction + pruning report: per month-partition,
    the min/max of o_totalprice and whether a reader evaluating
    `o_totalprice > 400000` could skip the partition entirely
    (max <= literal). This is the data-skipping index every lakehouse
    format (parquet row-group stats, Delta/Iceberg file stats) uses —
    materialized as a query so the skip rate is inspectable: the
    fraction of skippable rows is exactly the I/O a predicate saves
    at 100 TB.

    One map-side-combined aggregation to a months-sized table; the
    skippability test is arithmetic on that bounded zone map."""
    return zonemap_report(load_table(spark, d, "orders"))


def zonemap_report(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    o = orders
    return (
        o.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("bucket_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(
            "bucket_month",
            "n_rows",
            "min_price",
            "max_price",
            (F.col("max_price") <= _ZM_PRICE).alias("skippable"),
        )
    )


_COMPACT_TARGET = 65536  # target bytes per compacted output file


@query(
    "q_compaction_plan",
    oracle=f"""
    WITH shards AS (
        SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                    AS BIGINT) % 16 AS BIGINT) AS shard,
               {dsum_sql('n_chars')} AS bytes,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY shard
    ),
    planned AS (
        SELECT shard, bytes, n_docs,
               CAST(FLOOR(COALESCE(SUM(bytes) OVER (ORDER BY shard
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          / {_COMPACT_TARGET}) AS BIGINT) AS grp
        FROM shards
    )
    SELECT grp AS output_file,
           CAST(COUNT(*) AS BIGINT) AS n_input_shards,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           round(SUM(bytes), 2) AS total_bytes,
           round(SUM(bytes) / {_COMPACT_TARGET}.0, 6) AS fill_ratio
    FROM planned
    GROUP BY grp
    ORDER BY output_file
    """,
    tags=("lakehouse", "ops"),
)
def q_compaction_plan(spark: SparkSession, d: str):
    """Small-file compaction plan: per-shard byte totals are packed
    greedily (in shard order) into target-sized output files via the
    running-prefix-sum trick — FLOOR(preceding-bytes / target) IS the
    output-file id — and the report shows each planned file's input
    count and fill ratio. The lakehouse maintenance query behind
    OPTIMIZE/rewrite_data_files.

    The fact table reduces to the 16-row shard census in one
    aggregation; planning windows run over those 16 rows. At real
    scale the shard census is file-manifest-sized (thousands of
    rows), still trivially bounded."""
    docs = load_table(spark, d, "documents")
    shard = md5_int(F.col("doc_id").cast("string"), 2) % 16
    shards = docs.groupBy(shard.alias("shard")).agg(
        dsum("n_chars").alias("bytes"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w_prev = Window.partitionBy(bounded_window_key("shard")).orderBy("shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    planned = shards.select(
        "shard",
        "bytes",
        "n_docs",
        F.floor(
            F.coalesce(F.sum("bytes").over(w_prev), F.lit(0.0))
            / _COMPACT_TARGET
        )
        .cast("bigint")
        .alias("grp"),
    )
    return (
        planned.groupBy(F.col("grp").alias("output_file"))
        .agg(
            F.count(F.lit(1)).alias("n_input_shards"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.sum("bytes"), 2).alias("total_bytes"),
            F.round(F.sum("bytes") / float(_COMPACT_TARGET), 6).alias(
                "fill_ratio"
            ),
        )
        .orderBy("output_file")
    )


# Shard count for the partial-aggregate merge exhibit.
_PM_SHARDS = 4


@query(
    "q_partial_merge",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           round(AVG(value), 6) AS mean_value,
           round(var_pop(value), 6) AS var_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
    tags=("agg", "distributed"),
)
def q_partial_merge(spark: SparkSession, d: str):
    """Distributed partial-aggregate merge: the fact table is split
    into 4 hash shards, each shard computes local partials (count,
    sum, min, max, M2 sum-of-squared-deviations), and the partials
    are merged with the parallel-variance combine formula
    (total M2 = Σ M2_i + Σ n_i·(mean_i − mean_total)²). The oracle is
    the DIRECT single-pass aggregate — passing the hash check proves
    the merge algebra is exact, which is the contract every
    incremental rollup / materialized-view maintenance path depends
    on (merge yesterday's partials with today's delta instead of
    rescanning 100 TB).

    Two bounded aggregations over a (shards × types)-sized partial
    table after the one fact-keyed exchange; the merge itself is
    arithmetic on that tiny table."""
    e = load_table(spark, d, "events")
    partials = (
        e.withColumn("shard", F.col("event_id") % _PM_SHARDS)
        .groupBy("shard", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_i"),
            F.sum("value").alias("s_i"),
            F.min("value").alias("min_i"),
            F.max("value").alias("max_i"),
            (F.var_pop("value") * F.count(F.lit(1))).alias("m2_i"),
        )
    )
    totals = partials.groupBy("event_type").agg(
        F.sum("n_i").alias("n"), F.sum("s_i").alias("s")
    )
    merged = (
        partials.join(F.broadcast(totals), "event_type")
        .withColumn("mean_tot", F.col("s") / F.col("n"))
        .groupBy("event_type")
        .agg(
            F.first("n").alias("n"),
            F.round(F.first("mean_tot"), 6).alias("mean_value"),
            F.round(
                (
                    F.sum("m2_i")
                    + F.sum(
                        F.col("n_i")
                        * F.pow(
                            F.col("s_i") / F.col("n_i") - F.col("mean_tot"), 2
                        )
                    )
                )
                / F.first("n"),
                6,
            ).alias("var_value"),
            F.min("min_i").alias("min_value"),
            F.max("max_i").alias("max_value"),
        )
    )
    return merged


@query(
    "q_table_checksum",
    oracle="""
    WITH rows_ AS (
        SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
               CAST(('0x' || substr(md5(concat_ws('|',
                   CAST(l_orderkey AS VARCHAR),
                   CAST(l_linenumber AS VARCHAR),
                   l_returnflag, l_linestatus,
                   CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
                   strftime(l_shipdate, '%Y-%m-%d'))), 1, 10)) AS BIGINT) AS h
        FROM lineitem
    )
    SELECT ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(h AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
               AS sum_h,
           CAST(bit_xor(h) AS BIGINT) AS xor_h
    FROM rows_
    GROUP BY ship_year
    """,
    tags=("integrity", "scale"),
)
def q_table_checksum(spark: SparkSession, d: str):
    """Order-insensitive per-partition table fingerprint: md5 each
    row's canonical key-column string, fold the 40-bit hash prefixes
    with an exact-decimal SUM reduced mod 2^62 (order-insensitive and
    overflow-free at any partition size, emitted as BIGINT) and XOR
    per ship-year. Comparing (n_rows, sum_h, xor_h) between
    two copies of a table localises divergence to a partition without
    moving any data — the reconciliation primitive behind replica
    verification, migration sign-off, and CDC drift checks (pairs with
    q_snapshot_diff, which then diffs only the implicated partition).

    Canonical string uses only discretely-representable columns
    (integers, flags, a formatted date) — float formatting is not
    portable across engines and has no place in a checksum contract.
    Scale shape: one scan, one partition-keyed map-side-combinable
    aggregate; both folds are commutative so the result is independent
    of row order and parallelism."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.col("l_quantity").cast("bigint").cast("string"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    h = md5_int(row_str, 10)
    return (
        li.select(F.year("l_shipdate").cast("bigint").alias("ship_year"), h.alias("h"))
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(4611686018427387904))
            .cast("bigint")
            .alias("sum_h"),
            F.bit_xor("h").alias("xor_h"),
        )
    )


# ---------------------------------------------------------------------------
# q_bucket_join — bucketed tables joined WITHOUT a shuffle
# ---------------------------------------------------------------------------

_BUCKETS = 8


@query(
    "q_bucket_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "bucketing", "engine", "scale"),
)
def q_bucket_join(spark: SparkSession, d: str):
    """Co-located join via BUCKETED tables: both sides are written
    bucketed (and sorted) by the join key into {_BUCKETS} buckets, so
    the subsequent join needs NO exchange on either side — the bucket
    layout IS the shuffle, paid once at write time and amortized over
    every later join (verified by tests/test_plans.py with broadcast
    disabled: zero Exchange under the SortMergeJoin). This is THE
    100 TB pattern for fact-to-fact joins repeated across a pipeline:
    at cluster scale the bucketed write replaces per-query tera-scale
    shuffles with a one-time layout cost.

    The result itself is scale-independent of the layout — the oracle
    is the plain join aggregate."""
    scratch = scratch_dir("bucket")
    tag = scratch.rsplit("_", 1)[1]
    o = load_table(spark, d, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, d, "lineitem").select("l_orderkey", "l_extendedprice")
    to_name = f"dks_bucket_orders_{tag}"
    tl_name = f"dks_bucket_lineitem_{tag}"
    # the scope drops both tables, then removes their files (an
    # external-table DROP leaves them)
    for name in (to_name, tl_name):
        on_close(partial(spark.sql, f"DROP TABLE IF EXISTS {name}"))
    (
        o.write.mode("overwrite")
        .format("parquet")
        .option("path", f"{scratch}/orders")
        .bucketBy(_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .saveAsTable(to_name)
    )
    (
        li.write.mode("overwrite")
        .format("parquet")
        .option("path", f"{scratch}/lineitem")
        .bucketBy(_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .saveAsTable(tl_name)
    )
    ob = spark.table(to_name)
    lb = spark.table(tl_name)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice")).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# q_partition_prune — partitioned layout + partition-pruned scan
# ---------------------------------------------------------------------------

_PP_LO, _PP_HI = "2024-01-08", "2024-01-14"


@query(
    "q_partition_prune",
    oracle=f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total
    FROM events
    WHERE strftime(ts, '%Y-%m-%d') BETWEEN '{_PP_LO}' AND '{_PP_HI}'
    GROUP BY 1
    """,
    tags=("source", "partitioning", "engine", "scale"),
)
def q_partition_prune(spark: SparkSession, d: str):
    """Hive-style partitioned layout + pruned read: events are written
    partitioned by day (directory-per-day), then re-read with a day
    filter that Catalyst resolves at PLANNING time — the scan touches
    only the matching directories (PartitionFilters in the plan,
    pinned by tests/test_plans.py), not one row of the others. The
    difference between reading 7 days and reading 100 TB: at cluster
    scale this layout + filter is what makes time-ranged queries on an
    append-only fact table O(range) instead of O(history)."""
    scratch = scratch_dir("ppart")
    ev = load_table(spark, d, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    ev.write.mode("overwrite").partitionBy("day").parquet(scratch)
    # explicit schema: a zero-row write creates no partition dirs, and
    # schema inference would fail on the empty layout
    back = (
        spark.read.schema(ev.schema)
        .option("basePath", scratch)
        .parquet(scratch)
    )
    # partition-type inference reads the directory value back as DATE;
    # the filter stays on the raw partition column (that's what prunes),
    # the output casts to string to match the oracle's strftime
    return (
        back.filter(F.col("day").between(_PP_LO, _PP_HI))
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total"),
        )
    )


# Snapshot predicates shared with q_snapshot_diff: old drops key%97=3
# and perturbs key%13=0 prices; new drops key%89=7.
_OLD_PRED = "o_orderkey % 97 <> 3"
_NEW_PRED = "o_orderkey % 89 <> 7"
_OLD_PRICE = (
    "CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0"
    " ELSE o_totalprice END"
)


@query(
    "q_ivm_delta",
    oracle=f"""
    WITH old AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               {_OLD_PRICE} AS price
        FROM orders WHERE {_OLD_PRED}
    ),
    new AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               o_totalprice AS price
        FROM orders WHERE {_NEW_PRED}
    ),
    view_old AS (
        SELECT status, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(price AS DECIMAL(38,10))) AS rev
        FROM old GROUP BY status
    ),
    delta AS (
        SELECT COALESCE(new.status, old.status) AS status,
               CASE WHEN old.k IS NULL THEN 1
                    WHEN new.k IS NULL THEN -1
                    ELSE 0 END AS dn,
               CAST(COALESCE(new.price, 0) AS DECIMAL(38,10))
                 - CAST(COALESCE(old.price, 0) AS DECIMAL(38,10)) AS dprice
        FROM old FULL OUTER JOIN new ON old.k = new.k
    ),
    delta_agg AS (
        SELECT status, CAST(SUM(dn) AS BIGINT) AS dn, SUM(dprice) AS drev
        FROM delta GROUP BY status
    )
    SELECT COALESCE(v.status, d.status) AS status,
           CAST(COALESCE(v.n, 0) + COALESCE(d.dn, 0) AS BIGINT) AS n,
           CAST(ROUND(COALESCE(v.rev, 0) + COALESCE(d.drev, 0), 4) AS DOUBLE)
               AS revenue
    FROM view_old v FULL OUTER JOIN delta_agg d ON d.status = v.status
    ORDER BY status
    """,
    tags=("cdc", "ivm"),
)
def q_ivm_delta(spark: SparkSession, d: str):
    """Incremental view maintenance with retractions: a per-status
    (count, revenue) view maintained from the OLD snapshot plus a CDC
    delta (insert +1/+price, delete -1/-price, update +price-change)
    — the Materialize/Flink retraction-stream algebra, and exactly
    what a foreachBatch sink applies per micro-batch to keep an
    aggregate table fresh without recomputing it.

    The ORACLE recomputes the view from scratch over the NEW snapshot
    — so a green hash here PROVES the delta-merge algebra exact, the
    same way q_partial_merge proves the partition-merge algebra.
    Exactness requires merging UNROUNDED decimal sums (round once at
    the end): round(old) + round(delta) != round(new) in general.
    Scale shape: the delta is a key-keyed full-outer join; the view
    and delta aggregates are status-sized; the merge is a tiny
    full-outer join of two bounded tables."""
    o = load_table(spark, d, "orders")
    old = o.filter(F.expr(_OLD_PRED)).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.expr(_OLD_PRICE).alias("price"),
    )
    new = o.filter(F.expr(_NEW_PRED)).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    view_old = old.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("price").cast(DEC)).alias("rev"),
    )
    joined = old.alias("old").join(
        new.alias("new"), F.col("old.k") == F.col("new.k"), "full_outer"
    )
    delta = joined.select(
        F.coalesce(F.col("new.status"), F.col("old.status")).alias("status"),
        F.when(F.col("old.k").isNull(), 1)
        .when(F.col("new.k").isNull(), -1)
        .otherwise(0)
        .alias("dn"),
        (
            F.coalesce(F.col("new.price"), F.lit(0.0)).cast(DEC)
            - F.coalesce(F.col("old.price"), F.lit(0.0)).cast(DEC)
        ).alias("dprice"),
    )
    delta_agg = delta.groupBy("status").agg(
        F.sum("dn").cast("bigint").alias("dn"),
        F.sum("dprice").alias("drev"),
    )
    v, da = view_old.alias("v"), delta_agg.alias("da")
    merged = v.join(da, F.col("v.status") == F.col("da.status"), "full_outer")
    zero = F.lit(0).cast(DEC)
    return merged.select(
        F.coalesce(F.col("v.status"), F.col("da.status")).alias("status"),
        (
            F.coalesce(F.col("v.n"), F.lit(0))
            + F.coalesce(F.col("da.dn"), F.lit(0))
        )
        .cast("bigint")
        .alias("n"),
        F.round(
            F.coalesce(F.col("v.rev"), zero)
            + F.coalesce(F.col("da.drev"), zero),
            OUT_SCALE,
        )
        .cast("double")
        .alias("revenue"),
    ).orderBy("status")


# ---------------------------------------------------------------------------
# q_ivm_join — bilinear incremental join-view maintenance
# ---------------------------------------------------------------------------

# Delta partitioning: the last 20% of orders and every 7th customer
# arrive as CDC inserts after the view was materialized.
_IVM_R_OLD = "o_orderkey % 10 < 8"
_IVM_S_OLD = "c_custkey % 7 <> 0"


@query(
    "q_ivm_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("cdc", "ivm", "join"),
)
def q_ivm_join(spark: SparkSession, d: str):
    """Incremental maintenance of a JOIN view under inserts to BOTH
    sides — the bilinear delta rule Δ(R⋈S) = ΔR⋈S_old ∪ R_old⋈ΔS ∪
    ΔR⋈ΔS. The per-segment (count, revenue) view over orders⋈customer
    was materialized from the old snapshots; the deltas (20% of
    orders, 1/7 of customers) arrive later, and the view is refreshed
    by aggregating ONLY the three delta joins and merging — never
    re-touching R_old⋈S_old. The ORACLE recomputes the view from
    scratch over the full tables, so a green hash PROVES the bilinear
    expansion exact (the join-view counterpart of q_ivm_delta's
    aggregate-with-retractions proof; inserts-only here, retractions
    covered there).

    Exactness: partial revenues stay UNROUNDED decimal until the final
    merge (round(old)+round(delta) != round(new) in general). Scale
    shape: each delta join is delta-sized on at least one side (the
    two dim-delta joins broadcast); the merge is a segments-sized
    full-outer join. At 100 TB the refresh cost is O(|Δ|), not
    O(|R⋈S|) — the Materialize/DBSP maintenance story on Spark."""
    o = load_table(spark, d, "orders").select(
        "o_custkey", "o_totalprice", F.expr(_IVM_R_OLD).alias("r_old")
    )
    c = load_table(spark, d, "customer").select(
        "c_custkey", "c_mktsegment", F.expr(_IVM_S_OLD).alias("s_old")
    )
    r_old, r_new = o.filter("r_old"), o.filter(~F.col("r_old"))
    s_old, s_new = c.filter("s_old"), c.filter(~F.col("s_old"))

    def seg_rows(r, s):
        return r.join(s, r.o_custkey == s.c_custkey).select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("price"),
        )

    def agg(rows):
        return rows.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast(DEC)).alias("rev"),
        )

    view_old = agg(seg_rows(r_old, s_old))
    delta = agg(
        seg_rows(r_new, s_old)
        .unionAll(seg_rows(r_old, s_new))
        .unionAll(seg_rows(r_new, s_new))
    )
    v, dta = view_old.alias("v"), delta.alias("d")
    zero = F.lit(0).cast(DEC)
    return v.join(dta, F.col("v.segment") == F.col("d.segment"), "full_outer").select(
        F.coalesce(F.col("v.segment"), F.col("d.segment")).alias("segment"),
        (F.coalesce(F.col("v.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        F.round(
            F.coalesce(F.col("v.rev"), zero) + F.coalesce(F.col("d.rev"), zero),
            OUT_SCALE,
        )
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q_python_datasource — Spark 4 Python DataSource V2 (custom source)
# ---------------------------------------------------------------------------

_PDS_N = 10_000
_PDS_PARTS = 8


@query(
    "q_python_datasource",
    oracle=f"""
    SELECT CAST(i % 10 AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i * i % 97) AS BIGINT) AS checksum
    FROM range({_PDS_N}) t(i)
    GROUP BY 1
    """,
    tags=("source", "engine"),
)
def q_python_datasource(spark: SparkSession, d: str):
    """Custom batch source via the Spark 4 PYTHON DataSource V2 API —
    the pure-Python connector surface (pyspark.sql.datasource): the
    source declares its schema, splits itself into {_PDS_PARTS} input
    partitions, and each partition's reader yields rows
    executor-side in parallel. The template for connecting Spark to
    any Python-reachable system (REST APIs, vector DBs, bespoke
    formats) without writing a JVM connector; reads are
    partition-parallel and land directly in Arrow batches.

    The generator is deterministic (i, i²%97 per i) so the DuckDB
    range() oracle reproduces it exactly."""
    from direct_kafka_stream_spark.sources.pyds import SyntheticDataSource

    try:
        spark.dataSource.register(SyntheticDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("dks_synthetic")
        .option("n", str(_PDS_N))
        .option("partitions", str(_PDS_PARTS))
        .load()
    )
    return df.groupBy((F.col("i") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("checksum").cast("bigint").alias("checksum"),
    )


# ---------------------------------------------------------------------------
# q_map_in_arrow — Arrow-native batch UDF (no pandas materialization)
# ---------------------------------------------------------------------------


@query(
    "q_map_in_arrow",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
               AS n_spaces
    FROM documents
    """,
    tags=("udf", "arrow", "engine"),
)
def q_map_in_arrow(spark: SparkSession, d: str):
    """Per-document byte/char/space counts computed in a mapInArrow
    UDF with pure pyarrow.compute kernels — the zero-copy Arrow path:
    record batches flow Python-side WITHOUT a pandas conversion
    (mapInPandas pays the Arrow→pandas→Arrow round trip per batch;
    mapInArrow hands the raw batch to vectorized C++ kernels). The
    cheapest Python escape hatch Spark has, and the template for any
    custom columnar kernel (tokenizers, codecs) at 100 TB: one pass,
    partition-parallel, zero shuffle, fixed-width outputs."""
    return arrow_counts(load_table(spark, d, "documents"))


def arrow_counts(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""

    def counts(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for batch in batches:
            text = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int64()),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, " "), pa.int64()),
                ],
                names=["doc_id", "n_bytes", "n_chars", "n_spaces"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        counts, "doc_id long, n_bytes long, n_chars long, n_spaces long"
    )


# ---------------------------------------------------------------------------
# q_cogroup_asof — cogrouped applyInPandas (two-sided grouped Arrow UDF)
# ---------------------------------------------------------------------------


@query(
    "q_cogroup_asof",
    oracle="""
    WITH c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    nxt AS (
        SELECT c.event_id, c.user_id,
               CAST(epoch(date_trunc('second', c.ts)) AS BIGINT) AS c_s,
               CAST(epoch(date_trunc('second', MIN(p.ts))) AS BIGINT) AS p_s
        FROM c LEFT JOIN p
          ON p.user_id = c.user_id AND p.ts >= c.ts
        GROUP BY c.event_id, c.user_id, c.ts
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN p_s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_converted,
           CAST(SUM(CASE WHEN p_s IS NOT NULL THEN p_s - c_s ELSE 0 END)
                AS BIGINT) AS total_wait_s
    FROM nxt GROUP BY user_id
    """,
    tags=("udf", "arrow", "asof", "engine"),
)
def q_cogroup_asof(spark: SparkSession, d: str):
    """Per-user click→next-purchase as-of merge via COGROUPED
    applyInPandas — Spark's two-sided grouped Arrow UDF: both streams
    shuffle once on user_id, arrive as per-key pandas frame PAIRS, and
    the as-of scan runs as a vectorized searchsorted per user instead
    of the range-join the pure-SQL form needs. The machinery exhibit
    for custom two-table per-key logic (as-of merges, interval
    reconciliation, order-book replay).

    Scale shape: the cogroup key is COARSENED to a 64-way user bucket
    — one Python invocation per bucket, not per user — and the
    per-user as-of scans run vectorized inside the bucket frame. A
    per-user cogroup pays the Arrow round-trip once per key (~10k
    invocations at sf0.1, measured 7 s); the bucketed form pays it 64
    times total (measured ~1 s) and the ratio only improves with
    scale. This granularity trade is the standard recipe for
    many-small-groups grouped UDFs. The equivalent q_join_asof plan is
    the better choice when the probe side is huge and unsharded —
    this is the better one when per-key logic outgrows SQL."""
    return cogroup_asof_report(load_table(spark, d, "events"))


_COGROUP_BUCKETS = 64


def _cogroup_merge(left, right):
    """Per-bucket click→next-purchase merge, FULLY vectorized: one
    sort per side, one ``pd.merge_asof`` (by=user_id, forward), one
    grouped aggregate — zero Python-per-user iterations. The matched
    purchase is carried as a row INDEX (small int, exact in the
    float64 the merge emits for misses) and the ns timestamp is
    re-read from the int64 source array, because ns epochs (~1.7e18)
    exceed float64's 2^53 integer range and would round."""
    _OUT = ["user_id", "n_clicks", "n_converted", "total_wait_s"]
    if left.empty:
        return pd.DataFrame(columns=_OUT)
    if "user_id" not in left.columns:
        # Catalyst prunes cogroup INPUT columns down to the grouping
        # key when a plan discards the UDF's output. Spark today does
        # this only to the RIGHT side (pinned in
        # tests/test_engine_features.py); if a future planner prunes
        # the LEFT, fail loudly instead of silently returning 0 rows
        # to a .count().
        raise RuntimeError(
            "cogroup_asof_report: left cogroup input was pruned to "
            f"columns {list(left.columns)} — the plan discarded the "
            "UDF output; read the result instead of only counting it"
        )
    if "user_id" not in right.columns:
        right = pd.DataFrame({"user_id": [], "ts": []})
    l = pd.DataFrame(
        {
            "user_id": left["user_id"].to_numpy(np.int64),
            "c_ns": left["ts"].to_numpy("datetime64[ns]").astype(np.int64),
        }
    ).sort_values("c_ns", kind="mergesort", ignore_index=True)
    r = pd.DataFrame(
        {
            "user_id": right["user_id"].to_numpy(np.int64),
            "p_ns": right["ts"].to_numpy("datetime64[ns]").astype(np.int64),
        }
    ).sort_values("p_ns", kind="mergesort", ignore_index=True)
    p_ns = r["p_ns"].to_numpy()
    r["ridx"] = np.arange(len(r), dtype=np.int64)
    if r.empty:
        hit = np.zeros(len(l), dtype=bool)
        merged = l
    else:
        merged = pd.merge_asof(
            l,
            r,
            left_on="c_ns",
            right_on="p_ns",
            by="user_id",
            direction="forward",
            allow_exact_matches=True,
        )
        ridx = merged["ridx"].to_numpy(np.float64)
        hit = ~np.isnan(ridx)
    c_s = merged["c_ns"].to_numpy() // 1_000_000_000
    wait = np.zeros(len(merged), dtype=np.int64)
    if hit.any():
        p_s = p_ns[merged["ridx"].to_numpy(np.float64)[hit].astype(np.int64)]
        wait[hit] = p_s // 1_000_000_000 - c_s[hit]
    return (
        pd.DataFrame(
            {
                "user_id": merged["user_id"].to_numpy(),
                "hit": hit.astype(np.int64),
                "wait": wait,
            }
        )
        .groupby("user_id", sort=False, as_index=False)
        .agg(
            n_clicks=("hit", "size"),
            n_converted=("hit", "sum"),
            total_wait_s=("wait", "sum"),
        )
    )


def cogroup_asof_report(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    bucket = F.pmod(F.col("user_id"), F.lit(_COGROUP_BUCKETS)).alias("bucket")
    clicks = ev.filter(F.col("event_type") == "click").select(
        bucket, "event_id", "user_id", "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        bucket, "user_id", "ts"
    )
    return (
        clicks.groupBy("bucket")
        .cogroup(buys.groupBy("bucket"))
        .applyInPandas(
            _cogroup_merge,
            "user_id long, n_clicks bigint, n_converted bigint, total_wait_s bigint",
        )
    )


# ---------------------------------------------------------------------------
# q_exchange_reuse — one aggregate, two consumers, ONE shuffle
# ---------------------------------------------------------------------------


@query(
    "q_exchange_reuse",
    oracle=f"""
    WITH m AS (
        SELECT strftime(ts, '%Y-%m') AS month,
               {dsum_sql('value')} AS rev
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    )
    SELECT month, rev,
           round(rev / NULLIF((SELECT SUM(rev) FROM m), 0.0), 6) AS share
    FROM m
    """,
    tags=("plan", "engine"),
)
def q_exchange_reuse(spark: SparkSession, d: str):
    """Monthly revenue share-of-total from ONE aggregate read twice —
    the diamond DAG: the monthly rollup feeds both the detail rows and
    the global total, and Spark plans a single shuffle with a
    ReusedExchange for the second consumer (pinned AQE-off by
    tests/test_plans.py; under AQE the same dedup happens via shuffle-
    stage reuse). The engine-level sharing that makes same-CTE-twice
    queries pay for their exchange once — at 100 TB this halves the
    shuffle volume of every share-of-total / compare-to-aggregate
    query. (A prior-month SELF-JOIN variant would NOT reuse: the join
    pushes asymmetric isnotnull filters into the two branches and
    breaks canonical plan equality — the negative case the plan test
    documents.)"""
    ev = load_table(spark, d, "events").filter(
        F.col("event_type") == "purchase"
    )
    m = ev.groupBy(F.date_format("ts", "yyyy-MM").alias("month")).agg(
        dsum(F.col("value")).alias("rev")
    )
    tot = m.agg(F.sum("rev").alias("tot_rev"))
    return m.crossJoin(F.broadcast(tot)).select(
        "month",
        "rev",
        F.round(
            F.col("rev") / F.nullif(F.col("tot_rev"), F.lit(0.0)), 6
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# q_sql_pipe — Spark 4 SQL pipe syntax end-to-end
# ---------------------------------------------------------------------------


@query(
    "q_sql_pipe",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_returnflag
    """,
    tags=("sql", "engine"),
)
def q_sql_pipe(spark: SparkSession, d: str):
    """The same filter→aggregate expressed in Spark 4's SQL PIPE
    syntax (`FROM t |> WHERE ... |> AGGREGATE ... GROUP BY ...`) — the
    linear query dialect that reads in execution order. The pipe
    operators lower to the identical Catalyst logical plan as the
    nested form (same pushdown, same partial aggregation), so this is
    a parser-surface exhibit with a classic-SQL oracle proving the
    semantics match engine-for-engine."""
    load_table(spark, d, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        FROM lineitem
        |> WHERE l_quantity >= 25
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                         AS DECIMAL(38,10))), 4) AS DOUBLE)
                         AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, n, revenue
        """
    )


# ---------------------------------------------------------------------------
# q_sql_udf — SQL-defined scalar + table functions (optimizer-inlined)
# ---------------------------------------------------------------------------


@query(
    "q_sql_udf",
    oracle=f"""
    WITH b AS (
        SELECT o_orderpriority,
               o_totalprice * (1 - 0.04) AS net,
               CASE WHEN o_totalprice >= 200000 THEN 'big'
                    WHEN o_totalprice >= 50000 THEN 'mid'
                    ELSE 'small' END AS bucket
        FROM orders
    )
    SELECT o_orderpriority, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('net')} AS net_total
    FROM b GROUP BY o_orderpriority, bucket
    """,
    tags=("sql", "udf", "engine"),
)
def q_sql_udf(spark: SparkSession, d: str):
    """SQL-defined functions (CREATE FUNCTION ... RETURN expr) applied
    over orders — the UDF form that costs NOTHING at execution: the
    analyzer inlines the body into the plan, so pushdown, constant
    folding and whole-stage codegen all still apply (unlike any
    Python/JVM lambda UDF, which is an optimization barrier). The
    right default for reusable business logic at 100 TB; the oracle
    inlines the same expressions by hand to prove semantic identity."""
    load_table(spark, d, "orders").createOrReplaceTempView("orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dks_net(p DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1 - 0.04)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION dks_bucket(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p >= 200000 THEN 'big' "
        "WHEN p >= 50000 THEN 'mid' ELSE 'small' END"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, dks_bucket(o_totalprice) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(dks_net(o_totalprice)
                                   AS DECIMAL(38,10))), 4) AS DOUBLE)
                   AS net_total
        FROM orders GROUP BY o_orderpriority, dks_bucket(o_totalprice)
        """
    )


# ---------------------------------------------------------------------------
# q_pandas_api — pandas-on-Spark frontend lowering to Catalyst
# ---------------------------------------------------------------------------


@query(
    "q_pandas_api",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('o_totalprice')} AS total,
           CAST(MAX(o_totalprice) AS DOUBLE) AS biggest
    FROM orders GROUP BY o_orderpriority
    """,
    tags=("api", "engine"),
)
def q_pandas_api(spark: SparkSession, d: str):
    """The same groupby-aggregate written against the PANDAS API ON
    SPARK frontend (pyspark.pandas): a pandas-shaped program —
    ``psdf.groupby(...).agg(...)`` — that lowers to the identical
    Catalyst aggregate the DataFrame form produces (verify with
    ``.to_spark().explain()``: one partial+final HashAggregate, no
    Python in the loop). The migration surface for pandas codebases:
    same semantics, 100 TB execution. The distributed-sequence index
    is avoided entirely (groupby output keyed by the group column),
    so NO window or zipWithIndex sneaks into the plan.

    Exactness: the decimal sum is applied on the to_spark() frame so
    the rounded-sum contract matches the oracle's dsum."""
    import pyspark.pandas as ps

    psdf = ps.DataFrame(
        load_table(spark, d, "orders").select(
            "o_orderpriority", "o_orderkey", "o_totalprice"
        )
    )
    agg = psdf.groupby("o_orderpriority").agg(
        n=("o_orderkey", "count"), biggest=("o_totalprice", "max")
    )
    sdf = agg.reset_index().to_spark()
    # the exact-decimal revenue sum comes from a plain DataFrame agg
    # (pandas-API sum is a double fold — it cannot express the
    # decimal-cast contract the oracle uses)
    dec = (
        load_table(spark, d, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(38,10)")), 4)
            .cast("double")
            .alias("total")
        )
    )
    return (
        sdf.join(dec, "o_orderpriority")
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n"),
            "total",
            F.col("biggest").cast("double").alias("biggest"),
        )
    )


# ---------------------------------------------------------------------------
# q_ml_linreg — pyspark.ml training == the closed-form SQL aggregate
# ---------------------------------------------------------------------------


@query(
    "q_ml_linreg",
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
        SELECT n,
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
           round(det0 / NULLIF(det, 0.0), 3) AS b0,
           round(det1 / NULLIF(det, 0.0), 3) AS b1,
           round(det2 / NULLIF(det, 0.0), 3) AS b2
    FROM solved
    """,
    tags=("ml", "api", "engine"),
)
def q_ml_linreg(spark: SparkSession, d: str):
    """The SAME two-feature regression as q_ols_multi, trained through
    PYSPARK.ML (VectorAssembler → LinearRegression, solver="normal",
    regParam=0): the ML pipeline's WLS solve runs as a distributed
    normal-equation aggregation — one pass, sufficient statistics,
    Cholesky on the driver — and must land on the closed-form SQL
    coefficients. The exhibit that Spark's ML library IS the engine
    (an aggregate in a trench coat), not a sidecar; and the
    cross-check that pins it: ML's float summation order differs from
    the exact-decimal moment contract, so coefficients are compared
    at 3 dp (abs error ~1e-8 against coefficient scale ~1e4 — four
    orders of margin).

    Scale shape: VectorAssembler is a codegen projection; the WLS
    normal-equation pass is one map-side-combined treeAggregate over
    (d+1)² partials; the solve is a 3×3 on the driver."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    # Project to the three feature columns FIRST, then spread: both the
    # singularity-gate moment pass and ML's WLS treeAggregate otherwise
    # run single-task on the unsplittable fixture scan (guide §2.5),
    # and the spread exchange carries only the three doubles.
    li = spread_scan(
        load_table(spark, d, "lineitem").select(
            "l_quantity", "l_discount", "l_extendedprice"
        ),
        "l_extendedprice",  # near-continuous → even spread over cores
    )
    # Singularity gate (one moment pass, SAME arithmetic as the
    # oracle): ML's WLS degrades a singular system to zero
    # coefficients + mean intercept, while the closed-form oracle
    # yields NULLs via NULLIF(det, 0.0) — on constant/collinear
    # features (the degenerate-input sweep) the two would diverge.
    # Computing the identical Cramer determinant from the identical
    # exact-decimal moments, in the identical operation order, makes
    # the gate bit-equal to the oracle's.
    q, disc, y = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    mm = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q).alias("s1"),
        dsum(disc).alias("s2"),
        dsum(q * q).alias("s11"),
        dsum(q * disc).alias("s12"),
        dsum(disc * disc).alias("s22"),
    ).collect()[0]
    n = int(mm.n)
    det = (
        (mm.n * ((mm.s11 or 0.0) * (mm.s22 or 0.0)
                 - (mm.s12 or 0.0) * (mm.s12 or 0.0))
         - (mm.s1 or 0.0) * ((mm.s1 or 0.0) * (mm.s22 or 0.0) - (mm.s12 or 0.0) * (mm.s2 or 0.0))
         + (mm.s2 or 0.0) * ((mm.s1 or 0.0) * (mm.s12 or 0.0) - (mm.s11 or 0.0) * (mm.s2 or 0.0)))
        if n
        else 0.0
    )
    if det == 0.0:
        return spark.createDataFrame(
            [(n, None, None, None)],
            "n bigint, b0 double, b1 double, b2 double",
        )
    tr = VectorAssembler(
        inputCols=["l_quantity", "l_discount"], outputCol="f"
    ).transform(li).select("f", F.col("l_extendedprice").alias("y"))
    model = LinearRegression(
        featuresCol="f", labelCol="y", regParam=0.0, solver="normal"
    ).fit(tr)
    b1, b2 = (float(c) for c in model.coefficients)
    b0 = float(model.intercept)
    return spark.createDataFrame(
        [(n, round(b0, 3), round(b1, 3), round(b2, 3))],
        "n bigint, b0 double, b1 double, b2 double",
    )


# ---------------------------------------------------------------------------
# q_multimodal_codec — all three real-bytes codec pipelines, hash-gated
# ---------------------------------------------------------------------------

_MOD = 13  # doc sampling stride: bounds the media build at any sf


@query(
    "q_multimodal_codec",
    oracle=f"""
    SELECT doc_id,
           CAST(doc_id % 200 + 3.0 AS DOUBLE) AS img_lum,
           CAST(doc_id % 200 + 1.0 AS DOUBLE) AS wav_rms,
           CAST(doc_id % 200 AS DOUBLE)       AS f0_lum,
           CAST(doc_id % 200 + 1.0 AS DOUBLE) AS f1_lum
    FROM documents WHERE doc_id % {_MOD} = 0
    """,
    tags=("llm", "multimodal", "engine"),
)
def q_multimodal_codec(spark: SparkSession, d: str):
    """End-to-end real-bytes codec audit across all three modalities.

    For every sampled doc (``doc_id % 13 = 0``; base value
    ``b = doc_id % 200`` keeps every pixel/sample in uint8/int16 range):

    - IMAGE: a 4x4 RGB gradient ``pixel(y, x) = b + x + y`` is encoded
      as binary netpbm P6 and decoded back through ``image_features``'s
      sniffer path — mean luminance is exactly ``b + 3.0`` (the x+y
      grid averages 3.0; the /16 is a power of two, so float64-exact).
    - AUDIO: 64 mono PCM-16 samples of constant amplitude ``b + 1`` are
      encoded as RIFF/WAVE and windowed by ``audio_windows_wav`` with
      win == hop == 64 — exactly one window whose RMS is ``b + 1``
      (sqrt of a perfect square, correctly rounded → exact).
    - VIDEO: two 4x4 solid frames of value ``b + f`` are encoded as
      uncompressed-DIB AVI and sampled densely by ``frame_sample_avi``
      — frame f's mean luminance is exactly ``b + f``.

    The oracle recomputes those closed forms with arithmetic alone, so
    a hash match proves the byte-level codec round trip (RIFF chunk
    walks, BMP-style row padding, JVM substring offsets), not just the
    feature math. No injected decoders anywhere — dispatch is by
    container sniffing, the production path.

    At 100 TB: the media build is one Arrow pass over a filtered doc
    list; each modality pipeline is partition-parallel with zero
    shuffle until the three fixed-width feature frames join on doc_id
    (AQE broadcasts them at exhibit scale; at corpus scale all three
    are co-partitioned by the same key)."""
    from direct_kafka_stream_spark.functions import avi as avi_codec
    from direct_kafka_stream_spark.functions import multimodal as mm
    from direct_kafka_stream_spark.functions import raster, wav

    docs = (
        load_table(spark, d, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % _MOD == 0)
    )

    def build_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                b = int(doc_id) % 200
                grid = np.arange(4)[:, None] + np.arange(4)[None, :]  # x + y
                img = np.repeat((b + grid)[:, :, None], 3, axis=2).astype(
                    np.uint8
                )
                pcm = np.full(64, b + 1, dtype=np.int16)
                frames = np.stack(
                    [np.full((4, 4, 3), b + f, dtype=np.uint8) for f in range(2)]
                )
                rows.append(
                    (
                        int(doc_id),
                        raster.encode_ppm(img),
                        wav.encode_wav(pcm, 16000),
                        avi_codec.encode_avi(frames, 10),
                    )
                )
            yield pd.DataFrame(rows, columns=["doc_id", "img", "wav", "avi"])

    # three modality pipelines read this frame — persist so the encode
    # pass runs once, not once per branch (bounded: |docs|/13 rows of
    # ~700 B media each); tracked so it is freed when the query's
    # scope closes (caching)
    media = track(
        docs.mapInPandas(
            build_media,
            schema="doc_id long, img binary, wav binary, avi binary",
        ).persist()
    )

    img_f = mm.image_features(
        media.select("doc_id", F.col("img").alias("media"))
    ).select("doc_id", F.col("mean_lum").alias("img_lum"))
    wav_f = mm.audio_windows_wav(
        media.select("doc_id", F.col("wav").alias("media")),
        win_frames=64,
        hop_frames=64,
    ).select("doc_id", F.col("rms").alias("wav_rms"))
    avi_f = (
        mm.frame_sample_avi(
            media.select("doc_id", F.col("avi").alias("media")), every_nth=1
        )
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("frame_idx") == 0, F.col("mean_lum"))).alias(
                "f0_lum"
            ),
            F.max(F.when(F.col("frame_idx") == 1, F.col("mean_lum"))).alias(
                "f1_lum"
            ),
        )
    )
    return img_f.join(wav_f, "doc_id").join(avi_f, "doc_id")
