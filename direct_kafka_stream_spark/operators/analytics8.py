"""Round-4 portable-sketch exhibits and interval analytics: a
deterministic md5-based HyperLogLog, a Count-Min heavy-hitter check,
a Bloom-filter membership screen with false-positive accounting, and
a bucketed interval-overlap join.

Engine-native sketches (approx_count_distinct, bloom_filter_agg) are
deterministic within Spark but not reproducible in any other engine,
so they get rows-only checks (q_agg_approx). These four rebuild the
same data structures from md5 — the one hash both engines share
bit-for-bit (ALIGNMENT) — which makes sketch CONTENTS, not just
cardinalities, exactly verifiable cross-engine, while keeping the
distributed construction (partition-local partials merged by key)
that makes sketches worth having at 100 TB.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import track
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
    hv = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .alias("hv")
    )
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
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("s").cast("string"), F.col("word"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
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
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#", F.col("s").cast("string"), key_col.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            % _BLOOM_M
        )

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


_IV_LEN = 300  # presence-interval length (seconds)


@query(
    "q_interval_overlap",
    oracle=f"""
    WITH c AS (
        SELECT event_id AS cid,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + {_IV_LEN} AS e
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT event_id AS pid,
               CAST(floor(epoch(ts)) AS BIGINT) AS s,
               CAST(floor(epoch(ts)) AS BIGINT) + {_IV_LEN} AS e
        FROM events WHERE event_type = 'purchase'
    ),
    cb AS (
        SELECT cid, day, s, e,
               unnest(list_distinct([s // {_IV_LEN}, (e - 1) // {_IV_LEN}]))
                   AS bucket
        FROM c
    ),
    pb AS (
        SELECT pid, s, e,
               unnest(list_distinct([s // {_IV_LEN}, (e - 1) // {_IV_LEN}]))
                   AS bucket
        FROM p
    ),
    pairs AS (
        SELECT DISTINCT cb.cid, cb.day, pb.pid
        FROM cb JOIN pb ON pb.bucket = cb.bucket
        WHERE cb.s < pb.e AND pb.s < cb.e
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_overlap_pairs
    FROM pairs
    GROUP BY day
    ORDER BY day
    """,
    tags=("events", "interval"),
)
def q_interval_overlap(spark: SparkSession, d: str):
    """Interval-overlap join: click and purchase presence intervals
    ([ts, ts+300)) that overlap in time, counted per day — the
    co-presence / collision-detection query (ad exposure overlap,
    concurrent-session attribution) that Spark has no native interval
    join for.

    The scale-safe plan: each interval registers in the 1-2
    fixed-size time buckets it touches, candidates join ON BUCKET
    (equi-join — bucket-scoped, never a nested-loop range join), the
    exact overlap predicate filters candidates, and DISTINCT
    (cid, pid) dedups the pair that matched in two buckets. Cost is
    bounded by events-per-bucket², the same bound as every LSH path
    here."""
    return interval_overlap_report(load_table(spark, d, "events"))


def interval_overlap_report(e):
    """Core transform of q_interval_overlap over an events frame —
    shared with its foreachBatch streaming twin."""
    es = F.col("ts").cast("long")

    def _iv(df, idcol):
        return df.select(
            F.col("event_id").alias(idcol),
            F.date_trunc("day", "ts").cast("date").alias("day"),
            es.alias("s"),
            (es + _IV_LEN).alias("e"),
        )

    c = _iv(e.filter(F.col("event_type") == "click"), "cid")
    p = _iv(e.filter(F.col("event_type") == "purchase"), "pid").drop("day")
    bucket = F.explode(
        F.array_distinct(
            F.array(
                F.floor(F.col("s") / _IV_LEN),
                F.floor((F.col("e") - 1) / _IV_LEN),
            )
        )
    )
    cb = c.select("cid", "day", "s", "e", bucket.alias("bucket"))
    pb = p.select(
        F.col("pid"),
        F.col("s").alias("ps"),
        F.col("e").alias("pe"),
        bucket.alias("bucket"),
    )
    pairs = (
        cb.join(pb, "bucket")
        .filter((F.col("s") < F.col("pe")) & (F.col("ps") < F.col("e")))
        .select("cid", "day", "pid")
        .distinct()
    )
    return (
        pairs.groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_overlap_pairs"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n_overlap_pairs",
        )
        .orderBy("day")
    )
