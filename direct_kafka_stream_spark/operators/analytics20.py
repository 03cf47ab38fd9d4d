"""Round-4 recommendation / consolidation / temporal sweep: item-item
collaborative filtering over co-purchase baskets (with the skew-capping
basket bound that makes the pair join safe at scale), golden-record
survivorship over exact-duplicate clusters (the MDM consolidation step
after dedup), and a bitemporal as-of query (valid time × transaction
time) over a corrected order ledger.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.registry import query

# Item-CF: cap on basket size (users above it are dropped — the
# standard skew bound: a degenerate power user contributes O(B²) pairs
# and mostly noise), and neighbors kept per item.
_CF_BASKET_CAP = 100
_CF_TOPK = 3


@query(
    "q_item_cf",
    oracle=f"""
    WITH baskets0 AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS it
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    baskets AS (
        -- count-window cap, same form as the Spark plan: drop every
        -- row of any user whose DISTINCT basket exceeds the cap
        SELECT u, it FROM (
            SELECT u, it, COUNT(*) OVER (PARTITION BY u) AS bsz
            FROM baskets0
        ) WHERE bsz <= {_CF_BASKET_CAP}
    ),
    ni AS (SELECT it, COUNT(*) AS n FROM baskets GROUP BY it),
    co AS (
        SELECT a.it AS ia, b.it AS ib, COUNT(*) AS co
        FROM baskets a JOIN baskets b ON a.u = b.u AND a.it < b.it
        GROUP BY a.it, b.it
    ),
    sim AS (
        SELECT c.ia, c.ib,
               round(CAST(c.co AS DOUBLE) / sqrt(na.n * nb.n), 6) AS cos
        FROM co c
        JOIN ni na ON na.it = c.ia
        JOIN ni nb ON nb.it = c.ib
    ),
    both_dirs AS (
        SELECT ia AS item, ib AS neighbor, cos FROM sim
        UNION ALL
        SELECT ib AS item, ia AS neighbor, cos FROM sim
    )
    SELECT item, neighbor, cos, CAST(rn AS BIGINT) AS rank_n
    FROM (
        SELECT item, neighbor, cos,
               ROW_NUMBER() OVER (PARTITION BY item
                                  ORDER BY cos DESC, neighbor) AS rn
        FROM both_dirs
    ) WHERE rn <= {_CF_TOPK}
    """,
    tags=("recsys", "similarity", "scale"),
)
def q_item_cf(spark: SparkSession, d: str):
    """Item-item collaborative filtering: binary co-purchase baskets
    (customer × part), cosine similarity co(a,b)/√(n_a·n_b) between
    item interaction vectors, and the top-3 neighbors per item — the
    classical item-kNN recommender precompute (the batch half of an
    'items you may also like' serving path).

    Scale shape: the pair generation joins baskets on the USER key, so
    a user with B items yields B² pairs — the one quadratic hazard in
    item CF. It is bounded explicitly: users above the basket cap are
    dropped BEFORE the self-join (the standard skew bound; a degenerate
    power user contributes mostly popularity noise anyway), making the
    join cost Σ min(B,cap)² — linear in users. The cap is applied with
    a COUNT window over u, not a groupBy+join-back: the join-back form
    computed the (join+distinct) basket build TWICE and re-shuffled it;
    the window form builds baskets once. The basket build itself
    repartitions by u BEFORE deduplicating, so the single u-exchange
    serves the dedup aggregate (subset-clustering rule), the count
    window, and — via AQE runtime stage reuse — every downstream
    reference to the basket set: it crosses the wire exactly once, and
    the pair self-join adds no exchange on either side. (A count window is also spill-safe under user skew,
    where a collect_set-based cap would buffer a degenerate user's
    whole item array in one task.) Everything downstream is
    item-pair-keyed; the per-item top-k window is bounded by the
    item's co-purchase fan-out. Ranking compares the ROUNDED cosine
    with a neighbor-id tiebreak (ALIGNMENT.md ranking rule)."""
    orders = load_table(spark, d, "orders")
    li = load_table(spark, d, "lineitem")
    # repartition by u FIRST: HashPartitioning(u) satisfies the (u, it)
    # dedup's clustered distribution (subset rule), and the window and
    # the pair self-join need u-clustering too
    # — so the basket set crosses the wire exactly ONCE after the join
    # (a plain .distinct() costs an extra full (u, it) exchange before
    # the window re-shuffles by u: 3 exchanges instead of 2, A/B'd at
    # +12% wall in BENCH_NOTES.md round 9)
    baskets0 = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("u"), F.col("l_partkey").alias("it"))
        .repartition("u")
        .dropDuplicates(["u", "it"])
    )
    baskets = (
        baskets0.withColumn(
            "bsz", F.count(F.lit(1)).over(Window.partitionBy("u"))
        )
        .filter(F.col("bsz") <= _CF_BASKET_CAP)
        .drop("bsz")
    )
    # Round 12: NOT persisted. The four downstream references (ni, the
    # a/b self-join sides, and sim's two union branches) all hang off
    # the SAME repartition("u") exchange, and AQE's runtime stage reuse
    # turns them into ReusedExchange reads of one shuffle output
    # (tests/test_plans.py::test_item_cf_reuses_the_basket_exchange
    # pins this on the executed final plan). The previous persist()
    # bought the same single-computation guarantee but WORSE: an
    # AQE-cached plan reports unknown output partitioning, so the
    # self-join re-shuffled BOTH cached sides (2x ~112 MB exchanges at
    # sf0.1) on top of the memory-store writes. Measured min-of-4
    # interleaved: 7.60 s (persist) -> 6.64 s (reuse), and the ni joins
    # now flip to runtime broadcasts.
    ni = baskets.groupBy("it").agg(F.count(F.lit(1)).alias("n"))
    a = baskets.select("u", F.col("it").alias("ia"))
    b = baskets.select("u", F.col("it").alias("ib"))
    co = (
        a.join(b, "u")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    na = ni.select(F.col("it").alias("ia"), F.col("n").alias("na"))
    nb = ni.select(F.col("it").alias("ib"), F.col("n").alias("nb"))
    sim = (
        co.join(na, "ia")
        .join(nb, "ib")
        .select(
            "ia",
            "ib",
            F.round(
                F.col("co").cast("double") / F.sqrt(F.col("na") * F.col("nb")), 6
            ).alias("cos"),
        )
    )
    both = sim.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "cos"
    ).unionByName(
        sim.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "cos"
        )
    )
    return (
        both.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("item").orderBy(F.col("cos").desc(), "neighbor")
            ),
        )
        .filter(F.col("rn") <= _CF_TOPK)
        .select("item", "neighbor", "cos", F.col("rn").cast("long").alias("rank_n"))
    )


# Golden-record cluster key: md5 of the leading text prefix — the cheap
# canonical fingerprint that groups near-identical variants (the fixture
# has no byte-exact duplicates; prefix-64 yields ~20 genuine clusters).
_GR_PREFIX = 64


@query(
    "q_golden_record",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, md5(substr(text, 1, {_GR_PREFIX})) AS grp,
               lang, source, n_chars
        FROM documents
    ),
    sizes AS (
        SELECT grp, COUNT(*) AS n_members,
               MIN(doc_id) AS golden_id, MAX(n_chars) AS max_chars
        FROM h GROUP BY grp HAVING COUNT(*) >= 2
    ),
    lang_mode AS (
        SELECT grp, lang FROM (
            SELECT grp, lang,
                   ROW_NUMBER() OVER (PARTITION BY grp
                                      ORDER BY COUNT(*) DESC, lang) AS rn
            FROM h GROUP BY grp, lang
        ) WHERE rn = 1
    ),
    src_best AS (
        SELECT grp, source FROM (
            SELECT grp, source,
                   ROW_NUMBER() OVER (PARTITION BY grp
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM h
        ) WHERE rn = 1
    )
    SELECT s.golden_id, CAST(s.n_members AS BIGINT) AS n_members,
           l.lang AS lang_mode, b.source AS source_best,
           s.max_chars
    FROM sizes s
    JOIN lang_mode l ON l.grp = s.grp
    JOIN src_best b ON b.grp = s.grp
    """,
    tags=("dedup", "mdm", "llm"),
)
def q_golden_record(spark: SparkSession, d: str):
    """Golden-record survivorship: after exact dedup finds clusters of
    identical texts (the q_dedup_exact grouping), consolidate each
    multi-member cluster into one record with per-field survivorship
    rules — keep the smallest id as the golden key, the cluster's
    modal language (deterministic tie-break), the source of the most
    complete member (longest text, id tie-break), and the max length.
    This is the master-data-management step a dedup pipeline feeds:
    dedup decides WHO matches; survivorship decides WHAT survives.
    The cluster key here is a prefix fingerprint (md5 of the first 64
    chars) — the cheap canonicalization that groups the fixture's
    near-identical variants; any cluster assignment (exact hash,
    minhash components) slots into the same survivorship plan.

    Scale shape: everything is keyed on the content hash — two grouped
    aggregates and two per-cluster rank windows bounded by cluster
    size (itself bounded by true duplication, not corpus size), then
    cluster-keyed joins. No global window, no collect."""
    h = load_table(spark, d, "documents").select(
        "doc_id",
        F.md5(F.substring("text", 1, _GR_PREFIX)).alias("grp"),
        "lang",
        "source",
        "n_chars",
    )
    sizes = (
        h.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("doc_id").alias("golden_id"),
            F.max("n_chars").alias("max_chars"),
        )
        .filter(F.col("n_members") >= 2)
    )
    lang_mode = (
        h.groupBy("grp", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("grp").orderBy(F.col("c").desc(), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("grp", F.col("lang").alias("lang_mode"))
    )
    src_best = (
        h.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("grp").orderBy(
                    F.col("n_chars").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("grp", F.col("source").alias("source_best"))
    )
    return (
        sizes.join(lang_mode, "grp")
        .join(src_best, "grp")
        .select(
            "golden_id", "n_members", "lang_mode", "source_best", "max_chars"
        )
    )


# Bitemporal ledger: corrections for orderkey % 10 = 0 become known 30
# days after the order date; the query asks for state as-of valid time
# V as known at transaction time T.
_BT_VALID_AS_OF = "1996-06-30"
_BT_TX_AS_OF = "1996-07-15"


@query(
    "q_bitemporal",
    oracle=f"""
    WITH versions AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               o_orderdate AS valid_from, o_orderdate AS tx_from,
               o_totalprice AS price
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderstatus,
               o_orderdate, o_orderdate + INTERVAL 30 DAY,
               o_totalprice + 5.0
        FROM orders WHERE o_orderkey % 10 = 0
    ),
    known AS (
        SELECT * FROM versions
        WHERE valid_from <= TIMESTAMP '{_BT_VALID_AS_OF}'
          AND tx_from <= TIMESTAMP '{_BT_TX_AS_OF}'
    ),
    latest AS (
        SELECT k, status, price FROM (
            SELECT k, status, price,
                   ROW_NUMBER() OVER (PARTITION BY k
                                      ORDER BY tx_from DESC) AS rn
            FROM known
        ) WHERE rn = 1
    )
    SELECT status, COUNT(*) AS n_orders,
           {dsum_sql('price')} AS total_price
    FROM latest GROUP BY status
    """,
    tags=("temporal", "cdc"),
)
def q_bitemporal(spark: SparkSession, d: str):
    """Bitemporal as-of query: orders form a two-dimensional ledger
    (valid time = order date; transaction time = when each version
    became known, with price corrections recorded 30 days later for
    every tenth order), and the query reconstructs the state as-of a
    VALID date as it was KNOWN at a TRANSACTION date — corrections
    recorded after T are invisible even though their valid time
    qualifies. This composes q_scd2 (one time axis) and q_join_pit
    (as-of lookup) into the full bitemporal semantics auditing and
    backtesting require: 'what did we believe on July 15 about June
    30?'.

    Scale shape: both temporal predicates push into the scan
    (partition pruning on date-partitioned ledgers); the
    latest-version-per-key window partitions on the ledger key
    (bounded by versions per key — here ≤2, generally small); the
    rollup is an exact-decimal keyed aggregate."""
    o = load_table(spark, d, "orders")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("valid_from"),
        F.col("o_orderdate").alias("tx_from"),
        F.col("o_totalprice").alias("price"),
    )
    v2 = (
        o.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            # o_orderdate is a timestamp: interval addition (NOT
            # date_add, which truncates to date) matches the oracle
            (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias(
                "tx_from"
            ),
            (F.col("o_totalprice") + 5.0).alias("price"),
        )
    )
    known = (
        v1.unionByName(v2)
        .filter(F.col("valid_from") <= _BT_VALID_AS_OF)
        .filter(F.col("tx_from") <= _BT_TX_AS_OF)
    )
    latest = (
        known.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.col("tx_from").desc())
            ),
        )
        .filter(F.col("rn") == 1)
    )
    return latest.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("price").alias("total_price"),
    )
