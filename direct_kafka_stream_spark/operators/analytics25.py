"""Round-4 containment / order-statistics / feature-engineering sweep:
asymmetric shingle-containment dedup (catches subset duplication that
Jaccard misses), a distribution-free median confidence interval by
bin-refined order-statistic selection, per-user lag/rolling feature
generation, and Herfindahl-Hirschman market concentration.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import DEC, bounded_window_key
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query

# Containment dedup: candidate pairs must share at least one RARE
# shingle (document frequency <= cap) — the blocking bound that keeps
# candidate generation off the quadratic path; containment >= the
# threshold is then verified over the FULL shingle sets.
_CT_RARE_DF = 10
_CT_TAU = 0.5


def _containment_oracle() -> str:
    return f"""
    WITH sh0 AS ({text.SHINGLES_SQL}),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    rare AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(*) BETWEEN 2 AND {_CT_RARE_DF}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM sh a
        JOIN rare r ON r.shingle = a.shingle
        JOIN sh b ON b.shingle = a.shingle AND a.doc_id <> b.doc_id
    ),
    ix AS (
        SELECT c.da, c.db, COUNT(*) AS shared
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.da
        JOIN sh sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
        GROUP BY c.da, c.db
    )
    SELECT i.da AS src, i.db AS dst,
           CAST(i.shared AS BIGINT) AS shared,
           round(CAST(i.shared AS DOUBLE) / za.n, 6) AS containment
    FROM ix i JOIN sz za ON za.doc_id = i.da
    WHERE round(CAST(i.shared AS DOUBLE) / za.n, 6) >= {_CT_TAU}
    """


@query(
    "q_containment_dedup",
    oracle=_containment_oracle(),
    tags=("dedup", "llm", "scale"),
    # Probe-passed 100x knobs (SCALE.md round 10, docs/TUNING.md): same
    # pair-verify partitioning as q_setsim_prefix, PLUS a 256 MB
    # broadcast threshold — at 100x the candidate set outgrows the
    # 10 MB default and AQE flips the verify joins BHJ→SMJ, whose sorts
    # carry the full candidate×shingle expansion (~68 GB scratch, the
    # round-9 DNF). With the threshold raised the 60x plan (BHJ×5)
    # survives verbatim: 540.0 s at 100x, ZERO spill. Deliberately a
    # conf, not an F.broadcast hint — the hint would force a broadcast
    # at ANY size; the conf lets AQE fall back when a corpus truly
    # outgrows it.
    scale_confs={
        "spark.sql.shuffle.partitions": "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        "spark.sql.autoBroadcastJoinThreshold": "268435456",
    },
)
def q_containment_dedup(spark: SparkSession, d: str):
    """Asymmetric shingle-containment dedup: directed pairs where at
    least half of src's word-3-gram shingles also occur in dst —
    |A∩B| / |A| ≥ 0.5. Containment is what catches SUBSET duplication
    (a short doc quoted whole inside a long one), which symmetric
    Jaccard dilutes below any usable threshold; it is the document-to-
    document form of the q_decontaminate_frac eval-set check and the
    within-corpus complement of q_setsim_prefix.

    Candidate-then-verify shape: pairs must co-occur on a RARE shingle
    (2 ≤ df ≤ 10) — posting lists for rare shingles are short, so the
    candidate join is Σ df² over rare shingles, never corpus². The
    verify pass joins only the candidate pairs back to both full
    shingle sets (pair-keyed exchanges, candidate-bounded). The same
    shared shingle definition as the MinHash family (text.py) so every
    dedup operator argues over identical sets. Blocking is
    recall-bounded by construction (a pair sharing only ubiquitous
    shingles is not generated) — the standard ER trade documented here
    and in SURVEY.md §2.D.

    The shingle STRING never leaves the first projection: each 3-gram
    is collapsed to its xxhash64 id immediately, so the distinct, the
    df census, and the candidate + verify joins all exchange 8-byte
    keys instead of ~20-byte n-grams (the ids are internal-only — the
    output carries doc ids and counts, so engine-native hashing needs
    no oracle mirror; a 64-bit collision would merge two shingles,
    ~d²/2⁶⁵ per doc — negligible against the blocking recall trade
    already accepted above)."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    from direct_kafka_stream_spark.caching import track

    # Round 13: persist RESTORED (tracked, freed when the query's scope
    # closes). The round-12 stage-reuse variant won a warm interleaved
    # A/B (0.67x) but lost badly in every cold adjudicated run at 32
    # cores (driver 3.37 s -> 7.28 s; the 8-core run stayed at 3.35 s):
    # the verify-join stage re-derived the candidate expansion from the
    # reused (doc_id, sid) exchange per consumer instead of reading a
    # memory-store table, burning ~150 s of task CPU in the final stage.
    # Guide §5's caching rule (reused AND expensive to recompute) is the
    # governing trade here, confirmed cold both directions this round.
    sh = track(
        text.shingles_from_docs(docs)
        .select("doc_id", F.xxhash64("shingle").alias("sid"))
        .distinct()
        .persist()
    )
    rare = (
        sh.groupBy("sid")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _CT_RARE_DF))
        .select("sid")
    )
    rsh = sh.join(rare, "sid")
    cand = (
        rsh.select("sid", F.col("doc_id").alias("da"))
        .join(sh.select("sid", F.col("doc_id").alias("db")), "sid")
        .filter(F.col("da") != F.col("db"))
        .select("da", "db")
        .distinct()
    )
    # Round 13: verify via per-doc shingle-id ARRAYS instead of the
    # exploded pair x shingle join+aggregate. The old shape expanded
    # cand ⋈ sa to 56M rows at sf0.1 (871,908 candidate pairs x 52
    # shingles/doc) and hash-aggregated them (~170 s of task CPU in the
    # final stage — the round-12 cold regression the driver measured at
    # 7.28 s / 32 cores). |A ∩ B| on the SAME distinct sid sets via
    # array_intersect is the identical count (sh is distinct by
    # construction), computed in one codegen pass over the candidate
    # table joined to two doc-count-sized array tables — the
    # jaccard_on_pairs shape every other dedup verifier here uses
    # (guide §2.3: shuffle keys and compact per-doc state, never the
    # pair x shingle expansion).
    arr = sh.groupBy("doc_id").agg(F.collect_list("sid").alias("ss"))
    wa = arr.select(F.col("doc_id").alias("da"), F.col("ss").alias("ssa"))
    wb = arr.select(F.col("doc_id").alias("db"), F.col("ss").alias("ssb"))
    out = (
        cand.join(wa, "da")
        .join(wb, "db")
        # project the intersection size ONCE — two array_intersect
        # copies in one projection are not collapsed by codegen CSE
        # and the intersect is the whole per-pair cost
        .select(
            "da",
            "db",
            F.size(F.array_intersect("ssa", "ssb")).alias("shared0"),
            F.size("ssa").alias("na"),
        )
        .select(
            F.col("da").alias("src"),
            F.col("db").alias("dst"),
            F.col("shared0").cast("bigint").alias("shared"),
            F.round(
                F.col("shared0").cast("double") / F.col("na"), 6
            ).alias("containment"),
        )
    )
    return out.filter(F.col("containment") >= _CT_TAU)


_MC_BIN = 10.0  # events.value bin width for the order-stat refine


@query(
    "q_median_ci",
    oracle=f"""
    WITH v AS (SELECT value AS x, event_id FROM events),
    tot AS (SELECT COUNT(*) AS n FROM v),
    targets AS (
        -- ranks clamped to [1, n]: the conservative CI at tiny n,
        -- and the median rank in INTEGER arithmetic ((n+1)//2 —
        -- float division would round half-to-even at n ≡ 2 mod 4)
        SELECT which, GREATEST(1, LEAST(n, r)) AS r FROM (
            SELECT 'ci_lo' AS which,
                   CAST(floor((n - 1.959964 * sqrt(n)) / 2) AS BIGINT) AS r,
                   n FROM tot
            UNION ALL
            SELECT 'median', (n + 1) // 2, n FROM tot
            UNION ALL
            SELECT 'ci_hi',
                   CAST(ceil(1 + (n + 1.959964 * sqrt(n)) / 2) AS BIGINT),
                   n FROM tot
        )
    ),
    binc AS (
        SELECT CAST(floor(x / {_MC_BIN}) AS BIGINT) AS bin, COUNT(*) AS bc
        FROM v GROUP BY 1
    ),
    bins AS (
        SELECT bin, bc,
               SUM(bc) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM binc
    ),
    tb AS (
        SELECT t.which, t.r, MIN(b.bin) AS tbin
        FROM targets t JOIN bins b ON b.cum >= t.r
        GROUP BY t.which, t.r
    ),
    tbp AS (
        SELECT tb.which, tb.r, tb.tbin, b.cum - b.bc AS prior
        FROM tb JOIN bins b ON b.bin = tb.tbin
    ),
    refine AS (
        SELECT t.which, t.r, t.prior, v.x,
               ROW_NUMBER() OVER (PARTITION BY t.which
                                  ORDER BY v.x, v.event_id) AS rn
        FROM tbp t
        JOIN v ON CAST(floor(v.x / {_MC_BIN}) AS BIGINT) = t.tbin
    )
    SELECT MAX(CASE WHEN which = 'median' THEN x END) AS median,
           MAX(CASE WHEN which = 'ci_lo' THEN x END) AS ci_lo,
           MAX(CASE WHEN which = 'ci_hi' THEN x END) AS ci_hi,
           CAST(MAX(tot.n) AS BIGINT) AS n
    FROM refine, tot
    WHERE prior + rn = r
    """,
    tags=("stats", "order-statistics", "scale"),
)
def q_median_ci(spark: SparkSession, d: str):
    """Median with a distribution-free 95% confidence interval from
    order statistics: the CI endpoints are the values at ranks
    ⌊(n − 1.96√n)/2⌋ and ⌈1 + (n + 1.96√n)/2⌉ (binomial argument — no
    normality assumption), the median at rank (n+1)÷2. The uncertainty
    primitive for robust location estimates at corpus scale.

    Selection generalizes q_weighted_median's bin-then-refine to
    ARBITRARY target ranks: bin counts give a bounded CDF (one window
    over the bins table), each target rank maps to one bin, and only
    those bins' rows are re-scanned with the prior count carried in —
    a rank window PARTITIONED per target over one bin's rows. Three
    order statistics cost one extra bounded join, not three sorts; no
    global total order is ever materialised. The z constant 1.959964
    is a shared decimal literal (the ALIGNMENT.md transcendental
    rule)."""
    return median_ci_report(load_table(spark, d, "events"))


def median_ci_report(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    v = ev.select(F.col("value").alias("x"), "event_id")
    tot = v.agg(F.count(F.lit(1)).alias("n"))
    nd = F.col("n").cast("double")
    # ranks clamped to [1, n] (conservative CI at tiny n); median rank
    # floored to match the oracle's integer (n+1)//2 — a bare double
    # division differs at n ≡ 2 (mod 4) (cast-truncate vs half-even)
    targets = (
        tot.select(
            F.lit("ci_lo").alias("which"),
            F.floor((nd - 1.959964 * F.sqrt(nd)) / 2).cast("bigint").alias("r"),
            "n",
        )
        .unionAll(
            tot.select(
                F.lit("median").alias("which"),
                F.floor((F.col("n") + 1) / 2).cast("bigint").alias("r"),
                "n",
            )
        )
        .unionAll(
            tot.select(
                F.lit("ci_hi").alias("which"),
                F.ceil(1 + (nd + 1.959964 * F.sqrt(nd)) / 2).cast("bigint").alias("r"),
                "n",
            )
        )
        .select(
            "which",
            F.greatest(
                F.lit(1).cast("bigint"), F.least(F.col("n"), F.col("r"))
            ).alias("r"),
        )
    )
    binc = (
        v.select(F.floor(F.col("x") / _MC_BIN).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("bc"))
    )
    # literal key: bins-sized frame, one-partition window intended
    wb = Window.partitionBy(bounded_window_key("bin")).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bins = binc.withColumn("cum", F.sum("bc").over(wb))
    tb = (
        targets.join(F.broadcast(bins), F.col("cum") >= F.col("r"))
        .groupBy("which", "r")
        .agg(F.min("bin").alias("tbin"))
    )
    tbp = tb.join(
        F.broadcast(bins), F.col("bin") == F.col("tbin")
    ).select("which", "r", "tbin", (F.col("cum") - F.col("bc")).alias("prior"))
    refine = v.withColumn("vbin", F.floor(F.col("x") / _MC_BIN)).join(
        F.broadcast(tbp), F.col("vbin") == F.col("tbin")
    )
    wr = Window.partitionBy("which").orderBy("x", "event_id")
    hit = (
        refine.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("prior") + F.col("rn") == F.col("r"))
        .select("which", "x")
    )
    return hit.crossJoin(F.broadcast(tot)).agg(
        F.max(F.when(F.col("which") == "median", F.col("x"))).alias("median"),
        F.max(F.when(F.col("which") == "ci_lo", F.col("x"))).alias("ci_lo"),
        F.max(F.when(F.col("which") == "ci_hi", F.col("x"))).alias("ci_hi"),
        F.max("n").cast("bigint").alias("n"),
    )


@query(
    "q_lag_features",
    oracle="""
    WITH w AS (
        SELECT user_id, event_id, value,
               LAG(value, 1) OVER u AS lag1,
               LAG(value, 2) OVER u AS lag2,
               CAST(round(SUM(CAST(value AS DECIMAL(38,10))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 6) AS DOUBLE)
                   AS s3,
               COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS c3,
               epoch_ms(ts) - LAG(epoch_ms(ts), 1) OVER u AS gap_ms
        FROM events
        WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id, lag1, lag2,
           round(s3 / NULLIF(c3, 0), 6) AS roll3_mean,
           CAST(gap_ms AS BIGINT) AS gap_ms
    FROM w
    """,
    tags=("features", "training-prep"),
)
def q_lag_features(spark: SparkSession, d: str):
    """Per-user lag/rolling feature generation: previous and
    second-previous value, the mean of the prior 3 observations
    (EXCLUDING the current row — no target leakage), and milliseconds
    since the previous event. The standard autoregressive feature
    block a training pipeline materialises before fitting any
    sequence-aware model; the leakage-free frame bound
    (3 PRECEDING .. 1 PRECEDING) is the point.

    One user-keyed window shuffle serves every feature (all frames
    share the same partition + ordering). Rolling mean via the exact
    decimal window-sum pattern (q_bollinger); the time gap is integer
    epoch-millisecond arithmetic on both engines, never a float
    date-diff."""
    return lag_features_table(load_table(spark, d, "events"))


def lag_features_table(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev3 = u.rowsBetween(-3, -1)
    w = ev.select(
        "user_id",
        "event_id",
        "value",
        F.lag("value", 1).over(u).alias("lag1"),
        F.lag("value", 2).over(u).alias("lag2"),
        F.round(F.sum(F.col("value").cast(DEC)).over(prev3), 6)
        .cast("double")
        .alias("s3"),
        F.count(F.lit(1)).over(prev3).alias("c3"),
        (
            F.unix_millis("ts") - F.lag(F.unix_millis("ts"), 1).over(u)
        ).alias("gap_ms"),
    )
    return w.select(
        "user_id",
        "event_id",
        "lag1",
        "lag2",
        F.round(F.col("s3") / F.nullif(F.col("c3"), F.lit(0)), 6).alias("roll3_mean"),
        F.col("gap_ms").cast("bigint").alias("gap_ms"),
    )


@query(
    "q_hhi",
    oracle="""
    WITH rev AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS r
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    seg AS (SELECT seg, SUM(r) AS tot, COUNT(*) AS n_cust FROM rev GROUP BY seg)
    SELECT s.seg, CAST(s.n_cust AS BIGINT) AS n_cust,
           round(CAST(SUM(CAST(
                     (CAST(r.r AS DOUBLE) / CAST(s.tot AS DOUBLE))
                     * (CAST(r.r AS DOUBLE) / CAST(s.tot AS DOUBLE)) * 10000
                 AS DECIMAL(38,10))) AS DOUBLE), 6) AS hhi
    FROM rev r JOIN seg s ON s.seg = r.seg
    GROUP BY s.seg, s.n_cust
    """,
    tags=("analytics", "concentration"),
)
def q_hhi(spark: SparkSession, d: str):
    """Herfindahl-Hirschman concentration index per market segment:
    each customer's share of segment revenue, squared and summed
    (×10 000, the antitrust convention — 10 000 = monopoly, →0 =
    atomistic). The concentration screen behind vendor-risk and
    market-structure dashboards; for a training corpus the same
    operator over source shares answers 'is this mixture dominated by
    one crawl?'.

    Two keyed aggregates (customer revenue, segment totals) and a
    broadcast of the segments table; revenue sums in exact decimal so
    both engines square identical share doubles, and the HHI sum goes
    through decimal once more (order-independent)."""
    return hhi_report(
        load_table(spark, d, "orders"), load_table(spark, d, "customer")
    )


def hhi_report(orders, cust):
    """Composable form over (orders, customer) frames — also the
    fact-stream-vs-static-dims twin entry point
    (tests/test_streaming.py)."""
    rev = (
        orders
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("r"))
    )
    seg = rev.groupBy("seg").agg(
        F.sum("r").alias("tot"), F.count(F.lit(1)).alias("n_cust")
    )
    share = F.col("r").cast("double") / F.col("tot").cast("double")
    return (
        rev.join(F.broadcast(seg), "seg")
        .groupBy("seg", "n_cust")
        .agg(
            F.round(
                F.sum((share * share * 10000).cast(DEC)).cast("double"), 6
            ).alias("hhi")
        )
        .select("seg", F.col("n_cust").cast("bigint").alias("n_cust"), "hhi")
    )
