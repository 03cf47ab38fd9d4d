"""Round-4 classic-operator and event-behavior additions: skyline
(Pareto frontier), MATCH_RECOGNIZE-style sequence patterns, burst/bot
detection, time-proximity event debouncing, funnel conversion
latency, corpus compressibility, tokenizer fertility, ANN recall
evaluation, Markov stationary distribution (power iteration), and
the distributed partial-aggregate merge exhibit, plus graph analytics
(triangle counting, PageRank step) and zone-map pruning.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import bounded_window_key
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.registry import query


@query(
    "q_skyline",
    oracle="""
    WITH per_size AS (
        SELECT p_size, MIN(p_retailprice) AS minp
        FROM part GROUP BY p_size
    ),
    pref AS (
        SELECT p_size, minp,
               MIN(minp) OVER (ORDER BY p_size DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) AS better_minp
        FROM per_size
    )
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    JOIN pref ON p.p_size = pref.p_size
    WHERE p.p_retailprice = pref.minp
      AND (pref.better_minp IS NULL OR p.p_retailprice < pref.better_minp)
    """,
    tags=("classic", "skyline"),
)
def q_skyline(spark: SparkSession, d: str):
    """Skyline (Pareto frontier) over parts: maximize p_size, minimize
    p_retailprice. A part is dominated if some other part has size >=
    and price <= with at least one strict; the skyline keeps the
    non-dominated set.

    The naive formulation is an O(n^2) dominance anti-join. The
    scale-safe rewrite used here exploits the bounded objective
    domain: aggregate to per-size min price (distinct-size-bounded,
    50 rows here, broadcastable at any corpus scale), take the
    running strict-prefix min over sizes sorted descending (distinct
    sizes -> a ROWS 1 PRECEDING frame is exactly "all strictly larger
    sizes"), then broadcast that bounded frontier table back onto the
    one fact scan. A part survives iff it is the cheapest at its size
    AND strictly cheaper than every larger size's cheapest. One
    fact shuffle (the per-size aggregate), one bounded window, one
    broadcast join."""
    part = load_table(spark, d, "part")
    per_size = part.groupBy("p_size").agg(F.min("p_retailprice").alias("minp"))
    w = Window.partitionBy(bounded_window_key("p_size")).orderBy(
        F.col("p_size").desc()
    ).rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = per_size.select(
        "p_size", "minp", F.min("minp").over(w).alias("better_minp")
    )
    return (
        part.join(F.broadcast(pref), "p_size")
        .filter(
            (F.col("p_retailprice") == F.col("minp"))
            & (
                F.col("better_minp").isNull()
                | (F.col("p_retailprice") < F.col("better_minp"))
            )
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


# Ordered event-sequence regular expressions (MATCH_RECOGNIZE-style
# row-pattern queries, evaluated over each user's full event path).
_SEQ_PATTERNS = (
    "signup.*purchase",
    "view.*click.*purchase",
    "error.*error.*error",
)


@query(
    "q_seq_pattern",
    oracle=f"""
    WITH paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id
    )
    SELECT p.pattern, COUNT(*) AS n_users
    FROM paths, (VALUES {", ".join(f"('{p}')" for p in _SEQ_PATTERNS)}) AS p(pattern)
    WHERE regexp_matches(paths.path, p.pattern)
    GROUP BY p.pattern
    """,
    tags=("events", "pattern"),
)
def q_seq_pattern(spark: SparkSession, d: str):
    """MATCH_RECOGNIZE-style row-pattern matching: each user's events
    are ordered into a single path string ('view>click>...'), then
    regular expressions over the path count users exhibiting each
    behavioural motif (signup-then-purchase, full browse funnel,
    triple error). This is the declarative core of SQL:2016 row
    pattern recognition, re-expressed as ordered aggregation + regex
    — the form that actually distributes (one user-keyed exchange,
    per-user paths bounded by per-user activity).

    Ordering inside the path is made deterministic without a window
    by array_sort over (ts, event_id, type) structs — groupBy
    collect_list order is not guaranteed across partitions, sorting
    the collected structs is. The pattern table is a literal
    inline VALUES (3 rows, broadcast trivially)."""
    return seq_pattern_counts(load_table(spark, d, "events"))


def seq_pattern_counts(e):
    """Composable form of q_seq_pattern over any (user_id, event_id,
    event_type, ts) DataFrame — also applied per micro-batch snapshot
    by the streaming twin in tests/test_streaming.py."""
    path = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s.event_type,
        ),
        ">",
    )
    paths = e.groupBy("user_id").agg(path.alias("path"))
    pats = F.explode(
        F.array(*[F.lit(p) for p in _SEQ_PATTERNS])
    ).alias("pattern")
    return (
        paths.select("path", pats)
        .filter(F.regexp_like(F.col("path"), F.col("pattern")))
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Burst detection: max events per sliding minute that flags a user.
_BURST_WINDOW_S = 60
_BURST_THRESHOLD = 5


@query(
    "q_bot_burst",
    oracle=f"""
    WITH sec AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
        FROM events
    ),
    windowed AS (
        SELECT user_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts_s
                              RANGE BETWEEN {_BURST_WINDOW_S - 1} PRECEDING
                              AND CURRENT ROW) AS in_window
        FROM sec
    ),
    per_user AS (
        SELECT user_id, MAX(in_window) AS max_per_min
        FROM windowed GROUP BY user_id
    ),
    totals AS (
        SELECT user_id, COUNT(*) AS n_events,
               CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS span_s
        FROM events GROUP BY user_id
    )
    SELECT t.user_id, t.n_events, t.span_s, p.max_per_min,
           p.max_per_min >= {_BURST_THRESHOLD} AS burst_flag
    FROM totals t JOIN per_user p ON t.user_id = p.user_id
    """,
    tags=("events", "quality"),
)
def q_bot_burst(spark: SparkSession, d: str):
    """Burst/bot detection: for each user, the maximum number of
    events falling in any sliding 60-second window, via a RANGE frame
    over integer epoch seconds — the standard automated-traffic
    screen a clickstream pipeline runs before analytics (and an LLM
    corpus pipeline runs on scraped interaction logs).

    The RANGE window and the per-user rollup share one user-keyed
    exchange; per-user frames are bounded by per-user activity, so no
    global order exists anywhere. Epoch math is integer seconds on
    both engines (Spark unix_timestamp truncates, the oracle floors
    epoch() explicitly)."""
    return bot_burst_report(load_table(spark, d, "events"))


def bot_burst_report(e):
    """Composable form of q_bot_burst over any (user_id, event_id,
    event_type, ts) DataFrame — also applied per micro-batch snapshot
    by the streaming twin in tests/test_streaming.py."""
    sec = e.select(
        "user_id",
        F.unix_timestamp("ts").alias("ts_s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-(_BURST_WINDOW_S - 1), Window.currentRow)
    )
    per_user = (
        sec.select("user_id", F.count(F.lit(1)).over(w).alias("in_window"))
        .groupBy("user_id")
        .agg(F.max("in_window").alias("max_per_min"))
    )
    totals = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("span_s"),
    )
    return totals.join(per_user, "user_id").select(
        "user_id",
        "n_events",
        "span_s",
        "max_per_min",
        (F.col("max_per_min") >= _BURST_THRESHOLD).alias("burst_flag"),
    )


# Debounce gap: a repeat of the same (user, event_type) within this
# many seconds of the previous occurrence is collapsed.
_DEBOUNCE_S = 300


@query(
    "q_event_debounce",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    )
    SELECT event_id, user_id, event_type
    FROM seq
    WHERE prev_ts IS NULL
       OR date_diff('second', prev_ts, ts) > {_DEBOUNCE_S}
    """,
    tags=("events", "dedup"),
)
def q_event_debounce(spark: SparkSession, d: str):
    """Time-proximity debouncing: collapse repeats of the same
    (user, event_type) arriving within 5 minutes of the previous
    occurrence — double-click / retry / refresh noise removal, the
    temporal cousin of exact dedup (q_dedup drops identical ids,
    this drops near-in-time semantic repeats).

    One (user, type)-keyed window — frames bounded per key, one
    exchange, no global order. The lag comparison is against the
    previous RAW event (simple debounce), which is a pure window
    expression on both engines; chain-collapse semantics (compare
    against the previous KEPT event) is inherently sequential and is
    implemented on the streaming path as
    ``streaming/transforms.py::debounce_stateful``
    (applyInPandasWithState, survivor timestamp carried across
    micro-batches — ``test_debounce_stateful_chain_collapse``)."""
    e = load_table(spark, d, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.select("event_id", "user_id", "event_type", gap_s.alias("gap_s"))
        .filter(F.col("gap_s").isNull() | (F.col("gap_s") > _DEBOUNCE_S))
        .drop("gap_s")
    )


@query(
    "q_funnel_latency",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    conv AS (
        SELECT s.user_id,
               MIN(date_diff('second', s.signup_ts, e.ts)) AS latency_s
        FROM s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND e.ts >= s.signup_ts
        GROUP BY s.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           COUNT(*) AS n_converted,
           round(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM s), 6) AS conv_rate,
           round(quantile_cont(latency_s, 0.5), 6) AS p50_latency_s,
           round(quantile_cont(latency_s, 0.9), 6) AS p90_latency_s
    FROM conv
    """,
    tags=("events", "funnel"),
)
def q_funnel_latency(spark: SparkSession, d: str):
    """Funnel conversion latency: among users who signed up, the share
    who later purchased and the p50/p90 seconds from first signup to
    first subsequent purchase — the time-to-convert report that
    accompanies every funnel count (q_funnel tells how many, this
    tells how fast).

    Both anchor tables are user-keyed aggregates of one filtered
    fact scan each (filters pushed to the parquet scan); the join is
    user-keyed; the final percentile runs over the converted-users
    table (bounded by the user domain, orders of magnitude under the
    fact). Latency is integer seconds on both engines; percentiles
    are exact interpolated (both engines linear-interpolate), rounded
    to 6dp."""
    return funnel_latency_report(load_table(spark, d, "events"))


def funnel_latency_report(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    conv = (
        s.join(p, "user_id")
        .filter(F.col("p_ts") >= F.col("signup_ts"))
        .groupBy("user_id")
        .agg(
            F.min(
                F.unix_timestamp("p_ts") - F.unix_timestamp("signup_ts")
            ).alias("latency_s")
        )
    )
    n_signup = s.agg(F.count(F.lit(1)).alias("n_signup"))
    return (
        conv.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias(
                "p50_latency_s"
            ),
            F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias(
                "p90_latency_s"
            ),
        )
        .crossJoin(F.broadcast(n_signup))
        .select(
            "n_signup",
            "n_converted",
            F.round(
                F.try_divide(F.col("n_converted"), F.col("n_signup")), 6
            ).alias("conv_rate"),
            "p50_latency_s",
            "p90_latency_s",
        )
    )


# ---------------------------------------------------------------------------
# Corpus / LLM additions
# ---------------------------------------------------------------------------

# Compressibility proxy shingle width.
_CR_N = 4

_CR_PERDOC_SQL = f"""
    WITH w AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), t -> t != '') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, source,
               unnest(list_transform(
                   range(1, len(toks) - {_CR_N - 2}),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                        || ' ' || toks[i+3])) AS gram
        FROM w WHERE len(toks) >= {_CR_N}
    )
    SELECT doc_id, source,
           round(COUNT(DISTINCT gram) * 1.0 / COUNT(*), 6) AS ratio
    FROM g GROUP BY doc_id, source
"""


@query(
    "q_compress_ratio",
    oracle=f"""
    SELECT source, COUNT(*) AS n_docs,
           round(AVG(ratio), 6) AS avg_ratio,
           MIN(ratio) AS min_ratio
    FROM ({_CR_PERDOC_SQL})
    GROUP BY source
    """,
    tags=("llm", "quality"),
)
def q_compress_ratio(spark: SparkSession, d: str):
    """Compressibility proxy: per document, the share of its word
    4-grams that are distinct (1.0 = fully novel text, low = highly
    repetitive), rolled up per source — the cheap stand-in for the
    zlib-compression-ratio quality signal LLM corpus filters use
    (highly compressible documents are templates/spam; gzip itself
    is per-row Python, this is pure JVM array/agg code).

    4-grams are built array-side (transform over an index sequence,
    zero shuffle), the distinct/total counts are doc-keyed, and the
    rollup is source-sized. Documents under 4 words have no 4-grams
    and drop out on both engines (WHERE len >= 4 / explode of an
    empty sequence)."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    toks = text.tokens()
    tokd = docs.select("doc_id", "source", toks.alias("toks"))
    grams = tokd.filter(F.size("toks") >= _CR_N).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (_CR_N - 1)),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(F.col("toks"), i),
                    F.element_at(F.col("toks"), i + 1),
                    F.element_at(F.col("toks"), i + 2),
                    F.element_at(F.col("toks"), i + 3),
                ),
            )
        ).alias("gram"),
    )
    per_doc = grams.groupBy("doc_id", "source").agg(
        F.round(
            F.count_distinct("gram") / F.count(F.lit(1)), 6
        ).alias("ratio")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("ratio"), 6).alias("avg_ratio"),
        F.min("ratio").alias("min_ratio"),
    )


@query(
    "q_tokenizer_fertility",
    oracle="""
    WITH t AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_words,
               CAST(list_sum(list_transform(
                    list_filter(string_split(text, ' '), w -> w != ''),
                    w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)
                   AS n_pieces,
               length(text) AS n_chars
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words,
           CAST(SUM(n_pieces) AS BIGINT) AS tokens,
           round(SUM(n_pieces) * 1.0 / SUM(n_words), 6)
               AS tokens_per_word,
           round(SUM(n_chars) * 1.0 / SUM(n_pieces), 6)
               AS chars_per_token
    FROM t GROUP BY lang
    """,
    tags=("llm", "text"),
)
def q_tokenizer_fertility(spark: SparkSession, d: str):
    """Tokenizer fertility by language: subword tokens per whitespace
    word and characters per token, using the same fixed-rate BPE-ish
    piece count as q_text_bpe (ceil(len/4) pieces per word). Fertility
    is THE tokenizer-equity metric multilingual pretraining tracks —
    languages with high tokens-per-word get proportionally less
    effective context window and higher serving cost.

    All three counters are per-row array expressions folded in one
    map-side-combined aggregation to a languages-sized table; the
    corpus is scanned once, nothing shuffles but the bounded
    per-language partials."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    pieces = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )
    t = docs.select(
        "lang",
        F.size(toks).alias("n_words"),
        pieces.alias("n_pieces"),
        F.length("text").alias("n_chars"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_pieces").alias("tokens"),
        F.round(F.sum("n_pieces") / F.sum("n_words"), 6).alias(
            "tokens_per_word"
        ),
        F.round(F.sum("n_chars") / F.sum("n_pieces"), 6).alias(
            "chars_per_token"
        ),
    )


# ---------------------------------------------------------------------------
# ANN evaluation, Markov stationary distribution, partial-agg merge
# ---------------------------------------------------------------------------

# Probe set for the recall evaluation (bounded, documented).
_RECALL_PROBES = 5
_RECALL_K = 10


def _ann_recall_oracle() -> str:
    masks = ", ".join(f"({m})" for m in similarity.SRP_MASKS)
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    qv AS (SELECT vec_id AS probe_id, i, x AS qx
           FROM ev WHERE vec_id < {_RECALL_PROBES}),
    dots AS (
        SELECT q.probe_id, e.vec_id,
               SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev e JOIN qv q USING (i)
        GROUP BY q.probe_id, e.vec_id
    ),
    nq AS (SELECT probe_id, SUM(qx * qx) AS nq FROM qv GROUP BY probe_id),
    sims AS (
        SELECT d.probe_id, d.vec_id,
               round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
        FROM dots d JOIN nq USING (probe_id)
        WHERE d.vec_id != d.probe_id
    ),
    topk AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY probe_id
                                      ORDER BY sim DESC, vec_id) AS rn
            FROM sims
        ) WHERE rn <= {_RECALL_K}
    ),
    b AS ({similarity.SRP_BUCKET_SQL}),
    pb AS (SELECT vec_id AS probe_id, bucket AS qbucket
           FROM b WHERE vec_id < {_RECALL_PROBES}),
    probes AS (
        SELECT probe_id, xor(qbucket, m.mask) AS pbucket
        FROM pb, (VALUES {masks}) AS m(mask)
    ),
    cand AS (
        SELECT p.probe_id, b.vec_id
        FROM b JOIN probes p ON b.bucket = p.pbucket
        WHERE b.vec_id != p.probe_id
    ),
    hits AS (
        SELECT t.probe_id, COUNT(c.vec_id) AS n_hits
        FROM topk t LEFT JOIN cand c
          ON c.probe_id = t.probe_id AND c.vec_id = t.vec_id
        GROUP BY t.probe_id
    ),
    ncand AS (SELECT probe_id, COUNT(*) AS n_candidates
              FROM cand GROUP BY probe_id)
    SELECT h.probe_id,
           COALESCE(nc.n_candidates, 0) AS n_candidates,
           h.n_hits,
           round(h.n_hits * 1.0 / {_RECALL_K}, 6) AS recall
    FROM hits h LEFT JOIN ncand nc USING (probe_id)
    """


@query(
    "q_ann_recall",
    oracle=_ann_recall_oracle(),
    tags=("llm", "similarity", "eval"),
)
def q_ann_recall(spark: SparkSession, d: str):
    """ANN recall@10 evaluation: for each of 5 probe vectors, the
    exact brute-force cosine top-10 is compared against the multi-probe
    SRP-LSH candidate set (q_sim_ann_bucket's 9-bucket probe schedule);
    recall = |top10 ∩ candidates| / 10. This is the evaluation loop
    that sizes LSH parameters before anyone trusts the approximate
    path — the embedding twin of q_minhash_accuracy's Jaccard census.

    The exact side is a probes-bounded cross join (5 broadcast probe
    rows × one corpus scan, per-partition top-k heaps); the candidate
    side reuses the production bucket expression, with the 45-row
    (probe × mask) bucket table broadcast. Both sides are documented
    sample-only on the probe axis: recall is a statistic you estimate
    on a bounded probe set, never computed corpus × corpus."""
    e = load_table(spark, d, "embeddings")
    probes = e.filter(F.col("vec_id") < _RECALL_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("embedding").alias("qv")
    )
    sims = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), "vec_id")
    topk = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("probe_id", "vec_id")
    )
    b = e.select("vec_id", similarity.srp_bucket_col().alias("bucket"))
    pb = b.filter(F.col("vec_id") < _RECALL_PROBES).select(
        F.col("vec_id").alias("probe_id"), F.col("bucket").alias("qbucket")
    )
    masks = F.explode(F.array(*[F.lit(m) for m in similarity.SRP_MASKS])).alias("mask")
    probe_buckets = pb.select("probe_id", "qbucket", masks).select(
        "probe_id",
        F.col("qbucket").bitwiseXOR(F.col("mask")).alias("pbucket"),
    )
    cand = (
        b.join(F.broadcast(probe_buckets), b.bucket == probe_buckets.pbucket)
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
    )
    hits = (
        topk.alias("t")
        .join(
            cand.alias("c"),
            (F.col("c.probe_id") == F.col("t.probe_id"))
            & (F.col("c.vec_id") == F.col("t.vec_id")),
            "left",
        )
        .groupBy(F.col("t.probe_id").alias("probe_id"))
        .agg(F.count(F.col("c.vec_id")).alias("n_hits"))
    )
    ncand = cand.groupBy("probe_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    return (
        hits.join(ncand, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            "n_hits",
            F.round(F.col("n_hits") / _RECALL_K, 6).alias("recall"),
        )
    )


# Power-iteration count for the stationary distribution (contraction
# converges in far fewer; fixed so both engines run identical math).
_MARKOV_ITERS = 40

_MARKOV_M_SQL = """
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    ),
    cnt AS (
        SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    ),
    m AS MATERIALIZED (
        SELECT prev_type, next_type,
               n * 1.0 / SUM(n) OVER (PARTITION BY prev_type) AS p
        FROM cnt
    )
"""


def _markov_oracle() -> str:
    """Unrolled power iteration: v0 = uniform over states, v_{k+1} =
    P^T v_k, 40 stages of tiny GROUP BY CTEs (the state space is the
    event-type vocabulary — bounded), rounded at the end."""
    stages = [
        """
    types AS MATERIALIZED (SELECT DISTINCT prev_type AS typ FROM m),
    v0 AS MATERIALIZED (
        SELECT typ, 1.0 / (SELECT COUNT(*) FROM types) AS p FROM types)"""
    ]
    for k in range(_MARKOV_ITERS):
        stages.append(
            f"""
    v{k + 1} AS MATERIALIZED (
        SELECT m.next_type AS typ, SUM(v{k}.p * m.p) AS p
        FROM v{k} JOIN m ON m.prev_type = v{k}.typ
        GROUP BY m.next_type
    )"""
        )
    return (
        _MARKOV_M_SQL
        + ","
        + ",".join(stages)
        + f"""
    SELECT typ AS event_type, round(p, 6) AS stationary_p
    FROM v{_MARKOV_ITERS}
    """
    )


@query(
    "q_markov_stationary",
    oracle=_markov_oracle(),
    tags=("events", "iterative"),
)
def q_markov_stationary(spark: SparkSession, d: str):
    """Stationary distribution of the user-behaviour Markov chain
    (where does a random surfer of the event graph spend time?) via
    power iteration on the q_transition_matrix chain — the PageRank
    primitive applied to the event-type graph.

    Scale shape: the distributed work is exactly one pass — the
    user-keyed LAG + the |types|²-bounded transition-count aggregate
    (identical to q_transition_matrix). The matrix is then COLLECTED
    (bounded by the event-type vocabulary squared — 25 rows here,
    never corpus-sized) and the 40 vector iterations run driver-side
    in microseconds, exactly like q_kmeans_train's k-row center
    collect. Iterating distributed would cost 40 tiny jobs for a
    matrix that fits in a cache line. Summation inside each iteration
    runs in sorted state order on both engines; the result is rounded
    to 6dp (contraction keeps cross-engine float drift ~1e-14).

    Dangling guard: every state must have outgoing mass (true here —
    each event type both precedes and follows others); states never
    appearing as prev_type would leak mass and are asserted against."""
    from direct_kafka_stream_spark.operators.events_analytics import (
        transition_matrix,
    )

    e = load_table(spark, d, "events")
    m_rows = transition_matrix(e).collect()  # bounded: |types|^2
    states = sorted({r["prev_type"] for r in m_rows})
    next_states = {r["next_type"] for r in m_rows}
    assert next_states <= set(states), "dangling state: mass would leak"
    p = {(r["prev_type"], r["next_type"]): r["n"] for r in m_rows}
    row_tot = {
        s: sum(n for (a, _), n in p.items() if a == s) for s in states
    }
    prob = {(a, b): n / row_tot[a] for (a, b), n in p.items()}
    v = {s: 1.0 / len(states) for s in states}
    for _ in range(_MARKOV_ITERS):
        v = {
            t: sum(v[s] * prob.get((s, t), 0.0) for s in states)
            for t in states
        }
    # Round half-away-from-zero to match both engines' SQL round()
    # (Python's built-in round is banker's).
    import math

    rows = [
        (s, math.floor(v[s] * 1e6 + 0.5) / 1e6) for s in states
    ]
    return spark.createDataFrame(
        rows, "event_type string, stationary_p double"
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


# ---------------------------------------------------------------------------
# Graph analytics over the bounded similarity graph / trade graph
# ---------------------------------------------------------------------------

# Similarity-graph edge threshold (rounded cosine within sign-LSH
# buckets; picked so the fixture graph has a non-trivial triangle
# census: sf0.01 -> 751 edges, 132 triangles).
TRI_TAU = 0.2


def _triangle_oracle() -> str:
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    b AS (SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    cand AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb
        FROM b AS a JOIN b AS b2
          ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ),
    dots AS (
        SELECT c.va, c.vb, SUM(ea.x * eb.x) AS dot
        FROM cand c
        JOIN ev ea ON ea.vec_id = c.va
        JOIN ev eb ON eb.vec_id = c.vb AND eb.i = ea.i
        GROUP BY c.va, c.vb
    ),
    e AS MATERIALIZED (
        SELECT d.va AS a, d.vb AS b
        FROM dots d
        JOIN norms na ON na.vec_id = d.va
        JOIN norms nb ON nb.vec_id = d.vb
        WHERE round(d.dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= {TRI_TAU}
    )
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
            FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
               AS n_triangles
    """


@query(
    "q_triangle_count",
    oracle=_triangle_oracle(),
    tags=("graph", "llm"),
)
def q_triangle_count(spark: SparkSession, d: str):
    """Triangle counting over the embedding similarity graph: edges
    are intra-LSH-bucket pairs with rounded cosine >= 0.2 (oriented
    a < b), and triangles are found with the standard distributed
    edge-join algorithm — e1(a,b) ⋈ e2(b,c) produces wedges, closed
    by a semi-check against e3(a,c). Triangle density is the
    clustering-coefficient numerator — the graph-level summary of how
    clumped near-duplicate content is (complement of
    q_dup_cluster_stats' component sizes).

    Scale shape: edge generation is the bucket-scoped q_dedup_embed
    pattern (sum of squared bucket sizes, never corpus²); the wedge
    join is keyed on the shared vertex and the closing join on the
    (a, b) edge pair — the exact plan GraphX/Pregel triangle counting
    lowers to, entirely as DataFrame joins. Because sign-buckets are
    a function of the vector, every triangle's three edges share one
    bucket, so all joins stay bucket-local (skew bounded by the
    bucket-size cap that the bit-count controls)."""
    emb = load_table(spark, d, "embeddings").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "bucket"
    )
    bb = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "bucket"
    )
    edges = (
        a.join(bb, "bucket")
        .filter(F.col("va") < F.col("vb"))
        .filter(
            F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6) >= TRI_TAU
        )
        .select(F.col("va").alias("a"), F.col("vb").alias("b"))
    )
    edges = track(edges.persist())
    wedges = edges.alias("e1").join(
        edges.alias("e2"), F.col("e2.a") == F.col("e1.b")
    )
    tris = wedges.join(
        edges.alias("e3"),
        (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        "inner",
    )
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    n_tris = tris.agg(F.count(F.lit(1)).alias("n_triangles"))
    return n_edges.crossJoin(n_tris)


# PageRank damping factor.
_PR_D = 0.85


@query(
    "q_pagerank_step",
    oracle=f"""
    WITH edges AS (
        SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
               COUNT(*) AS w
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY src, dst
    ),
    outdeg AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY src),
    nn AS (SELECT COUNT(*) AS n FROM nation),
    contrib AS (
        SELECT e.dst,
               SUM((1.0 / nn.n) * e.w / od.outw) AS inflow
        FROM edges e JOIN outdeg od ON od.src = e.src
        CROSS JOIN nn
        GROUP BY e.dst
    )
    SELECT n.n_name,
           round(0.15 / nn.n + {_PR_D} * COALESCE(c.inflow, 0), 6) AS rank
    FROM nation n
    CROSS JOIN nn
    LEFT JOIN contrib c ON c.dst = n.n_nationkey
    """,
    tags=("graph", "tpch"),
)
def q_pagerank_step(spark: SparkSession, d: str):
    """One PageRank iteration over the international trade graph:
    vertices are nations, edge weight supplier-nation → customer-nation
    is the count of lineitems shipped between them (the TPC-H Q7
    bilateral-trade shape), rank starts uniform and one damped step
    redistributes it along outgoing-weight shares. The iterate-to-
    fixpoint form of the same math is q_markov_stationary's driver
    loop; this registers the distributed single-step that would run
    per superstep on an unbounded vertex set.

    Scale shape: the only heavy work is the fact scan + the
    lineitem→supplier / →orders→customer key joins (exactly Q7's
    exchanges); everything after is nation²-bounded (edges ≤ 625
    rows). The vertex count and outdegree tables are broadcast-sized.
    Dangling vertices (no outgoing trade) keep the base 0.15/N mass —
    documented single-step semantics on both engines."""
    li = load_table(spark, d, "lineitem")
    sup = load_table(spark, d, "supplier")
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")

    edges = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outdeg = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    n = nation.agg(F.count(F.lit(1)).alias("n"))
    contrib = (
        edges.join(F.broadcast(outdeg), "src")
        .crossJoin(F.broadcast(n))
        .groupBy("dst")
        .agg(
            F.sum((1.0 / F.col("n")) * F.col("w") / F.col("outw")).alias(
                "inflow"
            )
        )
    )
    return (
        nation.crossJoin(F.broadcast(n))
        .join(
            F.broadcast(contrib),
            nation.n_nationkey == contrib.dst,
            "left",
        )
        .select(
            "n_name",
            F.round(
                0.15 / F.col("n")
                + _PR_D * F.coalesce(F.col("inflow"), F.lit(0.0)),
                6,
            ).alias("rank"),
        )
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


# ---------------------------------------------------------------------------
# Statistical / forensic analytics
# ---------------------------------------------------------------------------


@query(
    "q_benford",
    oracle="""
    WITH d AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    tot AS (SELECT COUNT(*) AS n FROM d)
    SELECT CAST(d.digit AS INTEGER) AS digit, COUNT(*) AS n,
           round(COUNT(*) * 1.0 / tot.n, 6) AS share,
           round(log10(1.0 + 1.0 / CAST(d.digit AS INTEGER)), 6)
               AS benford_p,
           round(COUNT(*) * 1.0 / tot.n
                 - log10(1.0 + 1.0 / CAST(d.digit AS INTEGER)), 6)
               AS deviation
    FROM d CROSS JOIN tot
    GROUP BY d.digit, tot.n
    """,
    tags=("stats", "forensic"),
)
def q_benford(spark: SparkSession, d: str):
    """Benford's-law first-digit census over order totals: observed
    share of each leading digit vs the log10(1 + 1/d) expectation —
    the classic forensic-accounting / data-fabrication screen, useful
    on any money-valued fact feed before it enters training data.

    The leading digit is extracted through exact integer cents
    (round(price·100) → BIGINT → string head) rather than
    floor(log10(price)) arithmetic, so no cross-engine float-log
    boundary can flip a digit. One map-side-combined aggregation to
    ≤ 9 rows + a 1-row total broadcast."""
    return benford_report(load_table(spark, d, "orders"))


def benford_report(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    o = orders.filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    dd = o.select(digit.alias("digit"))
    tot = dd.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        dd.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
                "benford_p"
            ),
            F.round(
                F.col("n") / F.col("n_total")
                - F.log10(1.0 + 1.0 / F.col("digit")),
                6,
            ).alias("deviation"),
        )
    )


@query(
    "q_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey, SUM(o_totalprice) AS r
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT n.n_name, rev.r,
               ROW_NUMBER() OVER (PARTITION BY n.n_name
                                  ORDER BY rev.r, rev.o_custkey) AS i,
               COUNT(*) OVER (PARTITION BY n.n_name) AS cnt,
               SUM(rev.r) OVER (PARTITION BY n.n_name) AS tot
        FROM rev
        JOIN customer c ON c.c_custkey = rev.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name, MAX(cnt) AS n_cust,
           round(2.0 * SUM(i * r) / (MAX(cnt) * MAX(tot))
                 - (MAX(cnt) + 1.0) / MAX(cnt), 6) AS gini
    FROM ranked
    GROUP BY n_name
    """,
    tags=("stats",),
)
def q_gini(spark: SparkSession, d: str):
    """Gini coefficient of revenue concentration per nation: how
    unequally order revenue distributes over a nation's customers
    (0 = perfectly equal, →1 = one whale) via the sorted-rank closed
    form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. The whale-detection metric
    behind mixture weighting and abuse screens.

    Revenue reduces fact→customer-keyed first (the only corpus-sized
    exchange); ranking then runs per nation — each frame bounded by a
    nation's customer count. At extreme per-key cardinality the
    rank-free binned Lorenz approximation (accumulate into revenue
    deciles, integrate the discrete Lorenz curve — q_hist_equi's
    machinery) replaces the exact window; exact is kept here as the
    calibration anchor. Ties in revenue rank deterministically by
    custkey on both engines."""
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")
    return gini_report(orders, cust, nation)


def gini_report(orders, cust, nation):
    """Composable form over (orders, customer, nation) frames — also
    the fact-stream-vs-static-dims twin entry point (orders stream in,
    dims stay static; tests/test_streaming.py)."""
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    joined = rev.join(
        cust, rev.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    wp = Window.partitionBy("n_name")
    wr = wp.orderBy("r", "o_custkey")
    ranked = joined.select(
        "n_name",
        "r",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
        F.sum("r").over(wp).alias("tot"),
    )
    return ranked.groupBy("n_name").agg(
        F.max("cnt").alias("n_cust"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("r"))
            / (F.max("cnt") * F.max("tot"))
            - (F.max("cnt") + 1.0) / F.max("cnt"),
            6,
        ).alias("gini"),
    )


# Windowed funnel: every later stage must land within this many
# seconds of the user's FIRST view (ClickHouse windowFunnel shape).
_WF_WINDOW_S = 7 * 86400


@query(
    "q_funnel_windowed",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT v.user_id, v.t1, MIN(e.ts) AS t2
        FROM v JOIN events e
          ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts >= v.t1
         AND CAST(floor(epoch(e.ts)) AS BIGINT)
             <= CAST(floor(epoch(v.t1)) AS BIGINT) + {_WF_WINDOW_S}
        GROUP BY v.user_id, v.t1
    ),
    p AS (
        SELECT c.user_id
        FROM c JOIN events e
          ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts >= c.t2
         AND CAST(floor(epoch(e.ts)) AS BIGINT)
             <= CAST(floor(epoch(c.t1)) AS BIGINT) + {_WF_WINDOW_S}
        GROUP BY c.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_view_click,
           (SELECT COUNT(*) FROM p) AS n_view_click_purchase
    """,
    tags=("events", "funnel"),
)
def q_funnel_windowed(spark: SparkSession, d: str):
    """Windowed strict-order funnel (the ClickHouse windowFunnel
    shape): view → click → purchase where every later stage must fall
    within 7 days of the user's FIRST view — q_funnel3's ordering
    constraint plus a conversion deadline, which is how funnels are
    actually reported (unbounded funnels only ever grow).

    Each stage is one filtered fact scan (filter pushed to parquet)
    reduced user-keyed, then joined user-keyed onto the previous
    stage's anchor — identical exchange budget to q_funnel3 plus the
    deadline predicate in integer epoch seconds (no sub-second float
    drift across engines)."""
    e = load_table(spark, d, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    c = (
        v.join(clicks, "user_id")
        .filter(
            (F.col("c_ts") >= F.col("t1"))
            & (
                F.unix_timestamp("c_ts")
                <= F.unix_timestamp("t1") + _WF_WINDOW_S
            )
        )
        .groupBy("user_id", "t1")
        .agg(F.min("c_ts").alias("t2"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    p = (
        c.join(purchases, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("t2"))
            & (
                F.unix_timestamp("p_ts")
                <= F.unix_timestamp("t1") + _WF_WINDOW_S
            )
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    n1 = v.agg(F.count(F.lit(1)).alias("n_view"))
    n2 = c.agg(F.count(F.lit(1)).alias("n_view_click"))
    n3 = p.agg(F.count(F.lit(1)).alias("n_view_click_purchase"))
    return n1.crossJoin(n2).crossJoin(n3)


# SAX breakpoints for a 4-symbol alphabet (standard normal quartiles).
_SAX_BP = 0.6745


@query(
    "q_sax_symbols",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               round(SUM(value), 6) AS rev
        FROM events GROUP BY day
    ),
    st AS (
        SELECT AVG(rev) AS mu, stddev_pop(rev) AS sigma FROM daily
    ),
    z AS (
        SELECT strftime(day, '%Y-%m-%d') AS day,
               round((rev - st.mu) / NULLIF(st.sigma, 0), 6) AS zscore
        FROM daily CROSS JOIN st
    )
    SELECT day, zscore,
           CASE WHEN zscore < -{_SAX_BP} THEN 'a'
                WHEN zscore < 0 THEN 'b'
                WHEN zscore < {_SAX_BP} THEN 'c'
                ELSE 'd' END AS symbol
    FROM z
    """,
    tags=("timeseries", "stats"),
)
def q_sax_symbols(spark: SparkSession, d: str):
    """SAX symbolization of the daily revenue series: z-normalize the
    days-bounded series and map each day onto a 4-letter alphabet at
    the standard-normal quartile breakpoints (±0.6745, 0) — the
    symbolic time-series representation behind motif discovery and
    cheap sequence indexing (a day's shape becomes a character,
    a quarter becomes a string you can grep).

    One fact aggregation to a days-sized table; mean/stddev are a
    1-row broadcast back onto it. The symbol compares the ROUNDED
    z-score on both engines so accumulation-order float drift cannot
    flip a letter at a breakpoint (ALIGNMENT.md round-before-compare
    rule); a zero-variance series yields NULL z and symbol 'd' —
    pinned by the degenerate-series unit test."""
    return sax_table(load_table(spark, d, "events"))


def sax_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("rev")
    )
    st = daily.agg(
        F.avg("rev").alias("mu"), F.stddev_pop("rev").alias("sigma")
    )
    z = daily.crossJoin(F.broadcast(st)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(
            (F.col("rev") - F.col("mu"))
            / F.nullif(F.col("sigma"), F.lit(0.0)),
            6,
        ).alias("zscore"),
    )
    return z.select(
        "day",
        "zscore",
        F.when(F.col("zscore") < -_SAX_BP, "a")
        .when(F.col("zscore") < 0, "b")
        .when(F.col("zscore") < _SAX_BP, "c")
        .otherwise("d")
        .alias("symbol"),
    )
