"""Feature-engineering and drift operators: the hashing-trick
featurizer, PMI collocation mining, Kolmogorov–Smirnov drift
detection, target and lag features, mutual-information selection,
and embedding whitening and quantization — the modeling-adjacent
layer of the pipeline (features in, monitoring out).

Reference anchor: EXT operators (SURVEY.md §2; the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import (
    DEC,
    bounded_window_key,
    dsum,
    dsum_sql,
    md5_int,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.llm import q_dedup_components
from direct_kafka_stream_spark.registry import query

FH_DIM = 32  # hashed feature space size


@query(
    "q_feature_hash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(word), 1, 2)) AS BIGINT)
                % {FH_DIM} AS BIGINT) AS bucket,
           COUNT(*) AS n
    FROM toks
    GROUP BY doc_id, bucket
    """,
    tags=("features", "text"),
)
def q_feature_hash(spark: SparkSession, d: str):
    """Hashing-trick featurizer: token → md5-derived bucket in a fixed
    32-dim space, counted per document — bag-of-words features
    with NO vocabulary state (the property that makes it streamable
    and shard-parallel at 100 TB: any executor featurizes any shard
    with zero coordination). md5 rather than the engine-native hash so
    the bucketing is identical across engines (same contract as the
    md5-uniform draws in q_mix_sample).

    One explode + one (doc, bucket) groupBy — map-side combined, and
    the output is at most 32 rows per doc regardless of length."""
    docs = load_table(spark, d, "documents").filter(F.col("doc_id") < 100)
    toks = text.tokens()
    bucket = md5_int("word", 2) % FH_DIM
    return (
        docs.select("doc_id", F.explode(toks).alias("word"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_COLL_MIN_N = 5


@query(
    "q_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word,
               generate_subscripts(
                   list_filter(string_split(text, ' '), w -> w != ''), 1)
                   AS pos
        FROM documents
    ),
    uni AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY word),
    tot AS (SELECT SUM(n) AS t FROM uni),
    big AS (
        SELECT w1, w2, COUNT(*) AS n FROM (
            SELECT word AS w1, LEAD(word) OVER w AS w2
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE w2 IS NOT NULL GROUP BY w1, w2
    ),
    pmi AS (
        SELECT b.w1, b.w2, b.n,
               round(LN((b.n * 1.0 / t.t) /
                        ((u1.n * 1.0 / t.t) * (u2.n * 1.0 / t.t))), 6) AS pmi
        FROM big b
        JOIN uni u1 ON b.w1 = u1.word
        JOIN uni u2 ON b.w2 = u2.word
        CROSS JOIN tot t
        WHERE b.n >= {_COLL_MIN_N}
    )
    SELECT w1, w2, n, pmi FROM pmi ORDER BY pmi DESC, w1, w2 LIMIT 30
    """,
    tags=("features", "text"),
)
def q_collocations(spark: SparkSession, d: str):
    """PMI collocation mining: bigrams that co-occur far more than
    their unigram frequencies predict (pointwise mutual information,
    min support 5) — the phrase-detection pass tokenizer
    and n-gram-LM training both start from.

    Unigram and bigram count tables both reduce to vocab-sized
    relations before any join; the PMI join is counts ⋈ counts
    (broadcast the unigram table: a real vocabulary is ~10⁵–10⁶ rows,
    megabytes), and the global token total is a 1-row broadcast.
    Top-30 via TakeOrderedAndProject. Bigrams are formed in-row with
    the indexed-lambda transform (tokens hoisted to a column first)."""
    docs = load_table(spark, d, "documents")
    toks_arr = text.tokens()
    tokenized = docs.select("doc_id", toks_arr.alias("toks"))
    uni = (
        tokenized.select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni.agg(F.sum("n").alias("t"))
    bigrams = F.when(
        F.size(F.col("toks")) >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> struct(element_at(toks, i) AS w1,"
            "             element_at(toks, i + 1) AS w2))"
        ),
    ).otherwise(F.expr("array()"))
    big = (
        tokenized.select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= _COLL_MIN_N)
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("n2"))
    return (
        big.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n",
            F.round(
                F.log(
                    (F.col("n") / F.col("t"))
                    / ((F.col("n1") / F.col("t")) * (F.col("n2") / F.col("t")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(30)
    )


@query(
    "q_drift_ks",
    oracle="""
    WITH a AS (SELECT value AS v FROM events WHERE event_type = 'view'),
    b AS (SELECT value AS v FROM events WHERE event_type = 'error'),
    pooled AS (
        SELECT v, 1 AS in_a, 0 AS in_b FROM a
        UNION ALL
        SELECT v, 0, 1 FROM b
    ),
    perv AS (
        SELECT v, SUM(in_a) AS ca, SUM(in_b) AS cb
        FROM pooled GROUP BY v
    ),
    cdf AS (
        SELECT v,
               SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) * 1.0
                   / (SELECT NULLIF(COUNT(*), 0) FROM a) AS fa,
               SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) * 1.0
                   / (SELECT NULLIF(COUNT(*), 0) FROM b) AS fb
        FROM perv
    )
    SELECT round(MAX(ABS(fa - fb)), 6) AS ks,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM a) AS n_a,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM b) AS n_b
    FROM cdf
    """,
    tags=("features", "drift"),
)
def q_drift_ks(spark: SparkSession, d: str):
    """Two-sample Kolmogorov–Smirnov drift statistic between the value
    distributions of two event populations: KS = max |F̂_a − F̂_b| —
    the standard 'did this feed's distribution shift?' monitor.

    Both empirical CDFs are right-continuous step functions that jump
    only at data points, so the exact sup is the max over DISTINCT
    pooled values of the fully-advanced CDFs — which is why the
    per-value counts aggregate BEFORE the running window. (Evaluating
    the running CDF per pooled ROW instead reads F̂_a mid-tie when a
    value occurs in both samples and overestimates: a={1,2}, b={2,3}
    gives 1.0 instead of the true 0.5 — caught in round-3 review,
    pinned by the numpy cross-check test.) The running window also
    shrinks to one row per distinct value. It is single-partition by
    construction — exact KS needs a total order; the 100 TB variant is
    REGISTERED as q_drift_ks_binned (operators/scale_variants.py):
    bin values first (q_hist_equi's shape), max over ≤ ~1000 binned
    CDF points, same operator tree."""
    e = load_table(spark, d, "events")
    a = e.filter(F.col("event_type") == "view").select(
        F.col("value").alias("v"),
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
    )
    b = e.filter(F.col("event_type") == "error").select(
        F.col("value").alias("v"),
        F.lit(0).alias("in_a"),
        F.lit(1).alias("in_b"),
    )
    na = a.agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.agg(F.count(F.lit(1)).alias("n_b"))
    perv = (
        a.unionAll(b)
        .groupBy("v")
        .agg(F.sum("in_a").alias("ca"), F.sum("in_b").alias("cb"))
    )
    w = Window.partitionBy(bounded_window_key("v")).orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cdf = (
        perv.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_a",
            "n_b",
            # nullif guard: with one sample empty (no such event_type)
            # the CDF is NULL on both engines rather than NaN/Inf on
            # one of them; the final MAX then ignores it identically.
            (F.sum("ca").over(w) / F.nullif(F.col("n_a"), F.lit(0))).alias("fa"),
            (F.sum("cb").over(w) / F.nullif(F.col("n_b"), F.lit(0))).alias("fb"),
        )
    )
    # coalesce: on an empty pooled sample first() is NULL but the
    # oracle's scalar COUNT(*) subqueries report 0
    return cdf.agg(
        F.round(F.max(F.abs(F.col("fa") - F.col("fb"))), 6).alias("ks"),
        F.coalesce(F.first("n_a"), F.lit(0).cast("long")).alias("n_a"),
        F.coalesce(F.first("n_b"), F.lit(0).cast("long")).alias("n_b"),
    )


# ---------------------------------------------------------------------------
# Hashed linear quality classifier (featurize → score → filter)

# Deterministic per-bucket weights: w_j = ((j * 37) % 19 - 9) / 10.0
# — a fixed fasttext-style linear model; in production these arrive
# from an offline training job as a broadcast side input.
QC_BIAS = -0.1
_QC_THRESHOLD = 0.5


def qc_weight_sql(bucket_expr: str) -> str:
    return f"((({bucket_expr}) * 37) % 19 - 9) / 10.0"


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(word), 1, 2)) AS BIGINT)
                    % {FH_DIM} AS BIGINT) AS bucket,
               COUNT(*) AS n
        FROM toks GROUP BY doc_id, bucket
    ),
    scored AS (
        SELECT f.doc_id,
               SUM(f.n * {qc_weight_sql('f.bucket')})
                   / SUM(f.n) + {QC_BIAS} AS z
        FROM feats f GROUP BY f.doc_id
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-z)), 6) AS score,
           round(1.0 / (1.0 + exp(-z)), 6) >= {_QC_THRESHOLD} AS keep
    FROM scored
    """,
    tags=("features", "text", "quality"),
)
def q_quality_classifier(spark: SparkSession, d: str):
    """Linear quality classifier over hashed bag-of-words features —
    the fasttext-filter shape used to gate web corpora: token → md5
    bucket (q_feature_hash's space), length-normalized weighted sum +
    bias, sigmoid score, threshold keep/drop. Weights here are a fixed
    deterministic vector; in production they arrive from an offline
    trainer as a 32-float broadcast.

    The whole model application is ONE doc-keyed aggregation over the
    token stream — the weight lookup is a pure arithmetic expression
    on the bucket id (no join at all), so scoring cost is exactly one
    scan + one map-side-combined groupBy regardless of corpus size.
    Sigmoid is exp-based, rounded 6 dp (ALIGNMENT.md transcendental
    rule); the keep decision compares the ROUNDED score on both
    engines so a document landing within float accumulation error of
    the threshold cannot flip keep/drop between engines (same
    round-before-compare contract as the kmeans argmin)."""
    return quality_scores(load_table(spark, d, "documents"))


def quality_scores(docs):
    """Composable form of q_quality_classifier over any (doc_id, text)
    DataFrame."""
    toks = text.tokens()
    bucket = md5_int("word", 2) % FH_DIM
    weight = ((bucket * 37) % 19 - 9) / 10.0
    z = (
        F.sum(weight) / F.count(F.lit(1)) + F.lit(QC_BIAS)
    )  # token-weighted mean: every token contributes its bucket weight
    score = 1.0 / (1.0 + F.exp(-z))
    return (
        docs.select("doc_id", F.explode(toks).alias("word"))
        .groupBy("doc_id")
        .agg(
            F.round(score, 6).alias("score"),
            (F.round(score, 6) >= _QC_THRESHOLD).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Output-shard balance planning

_N_SHARDS = 16


@query(
    "q_shard_plan",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                    AS BIGINT) % {_N_SHARDS} AS BIGINT) AS shard,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_tokens
        FROM documents
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM sized GROUP BY shard ORDER BY shard
    """,
    tags=("features", "sharding"),
)
def q_shard_plan(spark: SparkSession, d: str):
    """Output-shard planning report: md5-hash documents into
    16 shards and report per-shard doc and token counts — the
    pre-write check that the training-data writer's partitioning is
    balanced (token skew across output files stalls downstream
    data-loader workers exactly like partition skew stalls reducers).

    Hash sharding is stateless and shard-parallel; the report is one
    scan + one 16-group aggregation. The balance decision
    (max/mean token ratio) belongs to the caller — this emits the
    evidence."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    shard = md5_int(F.col("doc_id").cast("string"), 2) % _N_SHARDS
    return (
        docs.select(
            shard.alias("shard"), F.size(toks).alias("n_tokens")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Interpolated bigram language-model scoring

_LM_L1 = 0.7  # bigram weight
_LM_L2 = 0.3  # unigram backoff weight


@query(
    "q_text_bigram_lm",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word,
               generate_subscripts(
                   list_filter(string_split(text, ' '), w -> w != ''), 1)
                   AS pos
        FROM documents
    ),
    uni AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY word),
    tot AS (SELECT SUM(n) AS t FROM uni),
    bigpos AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, word AS w1, LEAD(word) OVER w AS w2
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE w2 IS NOT NULL
    ),
    big AS (SELECT w1, w2, COUNT(*) AS n FROM bigpos GROUP BY w1, w2)
    SELECT p.doc_id,
           COUNT(*) AS n_bigrams,
           round(AVG(LN({_LM_L1} * (b.n * 1.0 / u1.n)
                        + {_LM_L2} * (u2.n * 1.0 / t.t))), 6) AS avg_logprob
    FROM bigpos p
    JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN uni u1 ON p.w1 = u1.word
    JOIN uni u2 ON p.w2 = u2.word
    CROSS JOIN tot t
    GROUP BY p.doc_id
    """,
    tags=("features", "text", "quality"),
)
def q_text_bigram_lm(spark: SparkSession, d: str):
    """Interpolated bigram language-model score per document:
    mean ln(λ₁·P(w₂|w₁) + λ₂·P(w₂)) over the document's bigrams, with
    probabilities estimated from the corpus itself — the perplexity
    filter (documents whose own corpus can't predict them are noise),
    one modeling notch above the unigram q_text_logprob.

    The count tables (uni, big) are vocab-sized and BROADCAST onto the
    per-position bigram stream — the fact-sized bigram stream itself
    shuffles only for the final doc-keyed mean. The interpolation
    keeps every probability strictly positive, so the log is total:
    no smoothing special cases to diverge on."""
    scored = lm_scores(load_table(spark, d, "documents"))
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("alp", 6).alias("avg_logprob"),
    )


def lm_scores(docs):
    """Composable interpolated-bigram-LM scorer over any
    (doc_id, text) DataFrame: returns (doc_id, n_bigrams, alp) with
    alp the UNROUNDED mean log-probability (callers round to 6 dp for
    display AND before any keep/drop threshold — the
    round-before-compare contract). Shared by q_text_bigram_lm and
    the q_curation_v2 capstone so the tokenization, bigram formation,
    and interpolation live in exactly one place."""
    toks_arr = text.tokens()
    tokenized = docs.select("doc_id", toks_arr.alias("toks"))
    bigrams = F.when(
        F.size(F.col("toks")) >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> struct(element_at(toks, i) AS w1,"
            "             element_at(toks, i + 1) AS w2))"
        ),
    ).otherwise(F.expr("array()"))
    bigpos = tokenized.select(
        "doc_id", F.explode(bigrams).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    uni = (
        tokenized.select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = uni.agg(F.sum("n").alias("t"))
    big = bigpos.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("nb"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("n").alias("n2"))
    p = (
        F.lit(_LM_L1) * (F.col("nb") / F.col("n1"))
        + F.lit(_LM_L2) * (F.col("n2") / F.col("t"))
    )
    return (
        bigpos.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(p)).alias("alp"),
        )
    )


# ---------------------------------------------------------------------------
# Curation capstone v2: composing the round-3 operators into one DAG

_CV2_SCORE_MIN = 0.43   # classifier gate (drops the low-quality tail)
_CV2_LM_MIN = -3.42     # bigram-LM perplexity gate


@query(
    "q_curation_v2",
    oracle=f"""
    WITH canon AS (
        SELECT doc_id, text,
               ROW_NUMBER() OVER (
                   PARTITION BY
                       lower('https://' || upper(source) || '.example.com') ||
                       '/docs/' || CAST(doc_id % 100 AS VARCHAR)
                   ORDER BY doc_id) AS rn
        FROM documents
    ),
    s1 AS (SELECT doc_id, text FROM canon WHERE rn = 1),
    t2 AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM s1
    ),
    buckets AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(word), 1, 2)) AS BIGINT)
                   % {FH_DIM} AS bucket
        FROM t2
    ),
    scored AS (
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(SUM({qc_weight_sql('bucket')})
                                        / COUNT(*) + {QC_BIAS}))), 6) AS score
        FROM buckets GROUP BY doc_id
    ),
    s2 AS (
        SELECT s1.doc_id, s1.text, scored.score
        FROM s1 JOIN scored ON s1.doc_id = scored.doc_id
        WHERE scored.score >= {_CV2_SCORE_MIN}
    ),
    t3 AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word,
               generate_subscripts(
                   list_filter(string_split(text, ' '), w -> w != ''), 1)
                   AS pos
        FROM s2
    ),
    uni AS (SELECT word, COUNT(*) AS n FROM t3 GROUP BY word),
    tot AS (SELECT SUM(n) AS t FROM uni),
    bigpos AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, word AS w1, LEAD(word) OVER w AS w2
            FROM t3 WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE w2 IS NOT NULL
    ),
    big AS (SELECT w1, w2, COUNT(*) AS n FROM bigpos GROUP BY w1, w2),
    lm AS (
        SELECT p.doc_id,
               round(AVG(LN({_LM_L1} * (b.n * 1.0 / u1.n)
                            + {_LM_L2} * (u2.n * 1.0 / t.t))), 6) AS alp
        FROM bigpos p
        JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        JOIN uni u1 ON p.w1 = u1.word
        JOIN uni u2 ON p.w2 = u2.word
        CROSS JOIN tot t
        GROUP BY p.doc_id
    ),
    s3 AS (
        SELECT s2.doc_id, s2.text, s2.score, lm.alp
        FROM s2 JOIN lm ON s2.doc_id = lm.doc_id
        WHERE lm.alp >= {_CV2_LM_MIN}
    ),
    s4 AS (
        SELECT doc_id, score, alp,
               ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                  ORDER BY doc_id) AS rn
        FROM s3
    )
    SELECT doc_id, round(score, 6) AS score, round(alp, 6) AS avg_logprob
    FROM s4 WHERE rn = 1
    """,
    tags=("features", "llm", "capstone"),
)
def q_curation_v2(spark: SparkSession, d: str):
    """Curation capstone v2 — the round-3 operators composed into one
    keep/drop DAG, the complement of q_curation_pipeline's
    LSH-near-dup path:

        canonical-URL keep-first (q_dedup_url)
        → hashed linear classifier gate (q_quality_classifier ≥ 0.43)
        → interpolated bigram-LM perplexity gate (q_text_bigram_lm ≥ −3.42,
          with the LM estimated on the POST-classifier corpus — the
          gates compound, they don't just intersect)
        → exact sha256 keep-first.

    Shuffle budget at 100 TB: canonical-dedup window (doc-keyed),
    classifier aggregation (doc-keyed), LM count tables (vocab-sized,
    broadcast back), LM per-doc mean (doc-keyed), sha256 window
    (doc-keyed) — every exchange is either document-keyed (bounded per
    key) or vocabulary-sized; nothing is quadratic and nothing
    collects. Gate thresholds compare values ROUNDED to 6 dp on both
    engines (the round-before-compare contract) so float accumulation
    order can't flip a near-threshold document's keep/drop."""
    docs = load_table(spark, d, "documents")
    url_canon = F.concat(
        F.lower(F.concat(F.lit("https://"), F.upper("source"),
                         F.lit(".example.com"))),
        F.lit("/docs/"),
        (F.col("doc_id") % 100).cast("string"),
    )
    w1 = Window.partitionBy(url_canon).orderBy("doc_id")
    s1 = (
        docs.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
    )
    s2 = (
        s1.join(quality_scores(s1).select("doc_id", "score"), "doc_id")
        .filter(F.col("score") >= _CV2_SCORE_MIN)
    )

    lm = lm_scores(s2).select("doc_id", F.round("alp", 6).alias("alp"))
    s3 = s2.join(lm, "doc_id").filter(F.col("alp") >= _CV2_LM_MIN)
    w4 = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    return (
        s3.withColumn("rn", F.row_number().over(w4))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.round("score", 6).alias("score"),
            F.round("alp", 6).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# k-NN classification and running-distinct window

_KNN_K = 15


@query(
    "q_knn_classify",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    qv AS (SELECT i, x AS qx FROM ev WHERE vec_id = 0),
    dots AS (
        SELECT e.vec_id, ANY_VALUE(e.label) AS label,
               SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev AS e JOIN qv AS q USING (i)
        WHERE e.vec_id != 0
        GROUP BY e.vec_id
    ),
    nq AS (SELECT SUM(qx * qx) AS nq FROM qv),
    topk AS (
        SELECT d.vec_id, d.label,
               round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
        FROM dots AS d, nq
        ORDER BY sim DESC, d.vec_id LIMIT {_KNN_K}
    )
    SELECT label AS predicted, COUNT(*) AS votes,
           round(AVG(sim), 6) AS mean_sim
    FROM topk GROUP BY label
    ORDER BY votes DESC, label LIMIT 1
    """,
    tags=("features", "embedding", "knn"),
)
def q_knn_classify(spark: SparkSession, d: str):
    """k-NN classification of a probe embedding (vec_id 0): cosine
    top-15 neighbors vote by label, majority (ties → smaller label)
    wins — the label-propagation / weak-annotation primitive over an
    embedded corpus.

    Composition of the ANN baseline (q_sim_cosine's broadcast query
    vector + TakeOrderedAndProject top-k) with a 15-row vote
    aggregation — the corpus is scanned once and only k rows leave the
    heap. At scale the top-k pass swaps for the IVF/LSH probes
    (q_sim_ivf, q_sim_ann_bucket) with identical voting."""
    e = load_table(spark, d, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    topk = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(_KNN_K)
    )
    return (
        topk.groupBy(F.col("label").alias("predicted"))
        .agg(
            F.count(F.lit(1)).alias("votes"),
            F.round(F.avg("sim"), 6).alias("mean_sim"),
        )
        .orderBy(F.col("votes").desc(), "predicted")
        .limit(1)
    )


@query(
    "q_win_running_distinct",
    oracle="""
    WITH flagged AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN ROW_NUMBER() OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id) = 1
                    THEN 1 ELSE 0 END AS first_seen
        FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(first_seen) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS distinct_types_so_far
    FROM flagged
    """,
    tags=("window", "events"),
)
def q_win_running_distinct(spark: SparkSession, d: str):
    """Running DISTINCT count per user over time — 'how many different
    event types has this user produced so far?' (breadth-of-engagement
    scoring). COUNT(DISTINCT) OVER a running frame is unsupported in
    both engines; the portable form marks each (user, type)'s first
    occurrence with one window, then running-sums the flags with a
    second — both windows share the same user-keyed shuffle, so the
    rewrite costs one exchange total."""
    e = load_table(spark, d, "events")
    w_first = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            "ts",
            (F.row_number().over(w_first) == 1).cast("int").alias("first_seen"),
        )
        .select(
            "user_id",
            "event_id",
            F.sum("first_seen").over(w_run).cast("long").alias(
                "distinct_types_so_far"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Quality-aware dedup representative selection


def _keep_best_oracle() -> str:
    return f"""
    WITH RECURSIVE {similarity.BANDS_SQL},
    comp(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, c.label FROM comp c JOIN edges e ON c.doc_id = e.src
    ),
    labels AS (
        SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id
    ),
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents
    ),
    buckets AS (
        SELECT doc_id,
               CAST(concat('0x', substr(md5(word), 1, 2)) AS BIGINT)
                   % {{fh}} AS bucket
        FROM toks
    ),
    scored AS (
        SELECT doc_id,
               1.0 / (1.0 + exp(-(SUM({{w}})
                                  / COUNT(*) + {{bias}}))) AS score
        FROM buckets GROUP BY doc_id
    ),
    ranked AS (
        SELECT l.component, l.doc_id, s.score,
               ROW_NUMBER() OVER (PARTITION BY l.component
                                  ORDER BY round(s.score, 6) DESC,
                                           l.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY l.component) AS cluster_size
        FROM labels l JOIN scored s ON l.doc_id = s.doc_id
    )
    SELECT component, doc_id AS keep_doc,
           round(score, 6) AS score,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rn = 1
    """.format(
        fh=FH_DIM, w=qc_weight_sql("bucket"), bias=QC_BIAS
    )


@query(
    "q_dedup_keep_best",
    oracle=_keep_best_oracle(),
    tags=("llm", "dedup", "capstone"),
)
def q_dedup_keep_best(spark: SparkSession, d: str):
    """Quality-aware dedup representative selection: within every
    near-dup cluster (the LSH connected-components labeling), keep the
    HIGHEST-quality document by classifier score (ties → smaller
    doc_id) instead of the arbitrary keep-first — the policy real
    curation uses, because near-dups differ in boilerplate and the
    first-crawled copy is often the worst one.

    Composition: components labeling (iterative, doc-keyed) ⋈
    classifier scores (one scan + doc-keyed agg, no join inside) →
    per-component argmax via a component-keyed window. Every exchange
    is doc- or component-keyed; clusters are bounded by the LSH bucket
    cap so no window partition can explode. Docs with no tokens have
    no classifier score row at all, so the inner join drops them from
    their cluster (and from cluster_size) on BOTH engines — a
    token-free doc can never represent anything; the fixture has no
    token-free docs (pinned by test_quality_classifier)."""
    labels = q_dedup_components(spark, d)
    scores = quality_scores(load_table(spark, d, "documents")).select(
        "doc_id", "score"
    )
    w = Window.partitionBy("component").orderBy(
        F.col("score").desc(), "doc_id"
    )
    return (
        labels.join(scores, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("component")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_doc"),
            F.round("score", 6).alias("score"),
            F.col("cluster_size").cast("long").alias("cluster_size"),
        )
    )


_TE_SMOOTH = 20.0  # prior strength (pseudo-observations)


@query(
    "q_target_encode",
    oracle=f"""
    WITH labeled AS (
        SELECT source,
               CASE WHEN text LIKE '%the%' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    overall AS (
        SELECT CAST(SUM(y) AS DOUBLE) / COUNT(*) AS gmean FROM labeled
    ),
    cats AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM labeled GROUP BY source
    )
    SELECT c.source, c.n, c.pos,
           round(CAST(c.pos AS DOUBLE) / c.n, 6) AS raw_rate,
           round((c.pos + {_TE_SMOOTH!r} * o.gmean)
                 / (c.n + {_TE_SMOOTH!r}), 6) AS encoded,
           round(o.gmean, 6) AS global_rate
    FROM cats c CROSS JOIN overall o
    ORDER BY c.source
    """,
    tags=("ml", "features"),
)
def q_target_encode(spark: SparkSession, d: str):
    """Smoothed target (mean) encoding of the source category against
    the 'contains-the' label: encoded = (pos + m·prior)/(n + m) with
    m = {_TE_SMOOTH} pseudo-observations — the high-cardinality
    categorical featurizer (public CatBoost/Micci-Barreca scheme)
    whose smoothing prevents rare categories from memorizing their
    labels.

    One labeled scan aggregates per category; the 1-row global prior
    broadcasts onto the category table. Rates are ratios of exact
    integer counts; the smoothing arithmetic uses the same literal
    and operation order on both engines."""
    docs = load_table(spark, d, "documents")
    labeled = docs.select(
        "source",
        F.when(F.col("text").like("%the%"), 1).otherwise(0).alias("y"),
    )
    labeled = track(labeled.persist())
    overall = labeled.agg(
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("gmean")
    )
    cats = labeled.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    return (
        cats.crossJoin(F.broadcast(overall))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n"),
            F.col("pos").cast("bigint").alias("pos"),
            F.round(F.col("pos").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round(
                (F.col("pos") + _TE_SMOOTH * F.col("gmean"))
                / (F.col("n") + _TE_SMOOTH),
                6,
            ).alias("encoded"),
            F.round("gmean", 6).alias("global_rate"),
        )
        .orderBy("source")
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


_MI_TOPK = 20


@query(
    "q_mutual_info",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
        WHERE text IS NOT NULL
    ),
    dt2 AS (SELECT doc_id, token FROM dt WHERE token <> ''),
    top AS (
        SELECT token, df FROM (
            SELECT token, COUNT(*) AS df,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS rn
            FROM dt2 GROUP BY token
        ) WHERE rn <= {_MI_TOPK}
    ),
    nl AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
    ntot AS (SELECT COUNT(*) AS n FROM documents),
    n11 AS (
        SELECT t.token, doc.lang, COUNT(*) AS n11
        FROM dt2 j
        JOIN top t ON t.token = j.token
        JOIN documents doc ON doc.doc_id = j.doc_id
        GROUP BY t.token, doc.lang
    ),
    grid AS (
        SELECT t.token, t.df, l.lang, l.n_l, COALESCE(x.n11, 0) AS n11
        FROM top t CROSS JOIN nl l
        LEFT JOIN n11 x ON x.token = t.token AND x.lang = l.lang
    ),
    terms AS (
        SELECT token, df,
               CASE WHEN n11 > 0 THEN
                   (CAST(n11 AS DOUBLE) / n.n)
                   * ln((CAST(n11 AS DOUBLE) * n.n)
                        / (CAST(df AS DOUBLE) * n_l))
               ELSE 0.0 END
               + CASE WHEN n_l - n11 > 0 THEN
                   (CAST(n_l - n11 AS DOUBLE) / n.n)
                   * ln((CAST(n_l - n11 AS DOUBLE) * n.n)
                        / (CAST(n.n - df AS DOUBLE) * n_l))
               ELSE 0.0 END AS term
        FROM grid, ntot n
    )
    SELECT token, CAST(df AS BIGINT) AS df,
           round(CAST(SUM(CAST(term AS DECIMAL(38,10))) AS DOUBLE), 6) AS mi
    FROM terms
    GROUP BY token, df
    """,
    tags=("features", "text", "selection"),
)
def q_mutual_info(spark: SparkSession, d: str):
    """Mutual information I(token-presence; language) for the top-20
    document-frequency tokens — the filter-method feature selector
    (which tokens carry signal about the class?) used to rank features
    before training a lightweight classifier like q_quality_classifier.

    MI over the binary presence × language grid: p(x,y)·ln of exact
    count ratios, zero-count cells contributing 0 by convention. The
    token×language grid is tiny (20 × #langs) — built by crossing the
    broadcast top-k vocabulary with the language totals and left-joining
    observed presence counts, so absent (token, lang) cells still emit
    their x=0 term. Scale shape: the only corpus-sized work is the
    distinct (doc, token) projection and its token-keyed count; terms
    and the final sum live on the bounded grid. Exact decimal for the
    term sum; single 6 dp rounding."""
    docs = load_table(spark, d, "documents")
    dt = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(text.space_split()).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    top = (
        dt.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(bounded_window_key("token")).orderBy(
                    F.col("df").desc(), "token"
                )
            ),
        )
        .filter(F.col("rn") <= _MI_TOPK)
        .select("token", "df")
    )
    nl = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_l"))
    ntot = docs.agg(F.count(F.lit(1)).alias("n"))
    n11 = (
        dt.join(F.broadcast(top.select("token")), "token")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("token", "lang")
        .agg(F.count(F.lit(1)).alias("n11"))
    )
    grid = (
        top.crossJoin(F.broadcast(nl))
        .join(n11, ["token", "lang"], "left")
        .withColumn("n11", F.coalesce(F.col("n11"), F.lit(0)))
        .crossJoin(F.broadcast(ntot))
    )
    n = F.col("n").cast("double")
    n11c = F.col("n11").cast("double")
    n01c = (F.col("n_l") - F.col("n11")).cast("double")
    dfc = F.col("df").cast("double")
    nlc = F.col("n_l").cast("double")
    term = F.when(
        F.col("n11") > 0, (n11c / n) * F.log((n11c * n) / (dfc * nlc))
    ).otherwise(F.lit(0.0)) + F.when(
        (F.col("n_l") - F.col("n11")) > 0,
        (n01c / n) * F.log((n01c * n) / ((n - dfc) * nlc)),
    ).otherwise(F.lit(0.0))
    return (
        grid.select("token", "df", term.alias("term"))
        .groupBy("token", "df")
        .agg(F.round(F.sum(F.col("term").cast(DEC)).cast("double"), 6).alias("mi"))
        .select("token", F.col("df").cast("bigint").alias("df"), "mi")
    )


@query(
    "q_whiten_embed",
    oracle="""
    WITH ev AS (
        SELECT vec_id, i - 1 AS dim, CAST(x AS DOUBLE) AS x
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    st AS (
        SELECT dim,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(ROUND(SUM(CAST(x AS DECIMAL(38,10))), 6) AS DOUBLE) AS s,
               CAST(ROUND(SUM(CAST(x * x AS DECIMAL(38,10))), 6) AS DOUBLE)
                   AS ssq
        FROM ev GROUP BY dim
    ),
    params AS (
        SELECT dim, n,
               round(s / n, 6) AS mu,
               round(sqrt((ssq - s * s / n) / n), 6) AS sd
        FROM st
    ),
    z AS (
        SELECT e.dim, p.n,
               round((e.x - p.mu) / NULLIF(p.sd, 0.0), 6) AS z
        FROM ev e JOIN params p ON p.dim = e.dim
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           -- + 0.0 canonicalizes IEEE negative zero (engines differ in
           -- the sign they keep through round)
           round(CAST(ROUND(SUM(CAST(z AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / MAX(n), 6) + 0.0 AS mean_z,
           round(sqrt(CAST(ROUND(SUM(CAST(round(z * z, 9)
                   AS DECIMAL(38,10))), 6) AS DOUBLE) / MAX(n)), 6) AS sd_z
    FROM z
    GROUP BY dim
    """,
    tags=("embedding", "preprocessing"),
)
def q_whiten_embed(spark: SparkSession, d: str):
    """Diagonal whitening of the embedding corpus with a built-in
    post-check: per-dimension mean/sd (exact decimal moments, rounded
    to the 6 dp shared literal), z = (x − μ)/σ applied to the exploded
    stream, and the VERIFICATION aggregate — per-dim mean_z ≈ 0 and
    sd_z ≈ 1 — returned as the result. The feature-scaling primitive
    every distance-based downstream (k-means, LOF, ANN) assumes, plus
    the audit that proves it ran.

    Scale shape: the d-row parameter table aggregates dimension-keyed
    (map-side combinable) and broadcasts back onto one exploded scan;
    the check is a second dimension-keyed aggregate. Zero-variance
    dims yield NULL z (NULLIF guard) rather than infinities."""
    emb = spread_scan(load_table(spark, d, "embeddings"), "vec_id")
    ev = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    st = ev.groupBy("dim").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum(F.col("x").cast(DEC)), 6).cast("double").alias("s"),
        F.round(F.sum((F.col("x") * F.col("x")).cast(DEC)), 6)
        .cast("double")
        .alias("ssq"),
    )
    params = st.select(
        "dim",
        "n",
        F.round(F.col("s") / F.col("n"), 6).alias("mu"),
        F.round(
            F.sqrt(
                (F.col("ssq") - F.col("s") * F.col("s") / F.col("n"))
                / F.col("n")
            ),
            6,
        ).alias("sd"),
    )
    z = ev.join(F.broadcast(params), "dim").select(
        "dim",
        "n",
        F.round(
            (F.col("x") - F.col("mu")) / F.nullif(F.col("sd"), F.lit(0.0)), 6
        ).alias("z"),
    )
    return z.groupBy("dim").agg(
        # + 0.0 canonicalizes IEEE negative zero (see oracle note)
        (
            F.round(
                F.round(F.sum(F.col("z").cast(DEC)), 6).cast("double")
                / F.max("n"),
                6,
            )
            + 0.0
        ).alias("mean_z"),
        F.round(
            F.sqrt(
                F.round(
                    F.sum(F.round(F.col("z") * F.col("z"), 9).cast(DEC)), 6
                ).cast("double")
                / F.max("n")
            ),
            6,
        ).alias("sd_z"),
    ).select(F.col("dim").cast("bigint").alias("dim"), "mean_z", "sd_z")


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, i - 1 AS dim, CAST(x AS DOUBLE) AS x
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)
    ),
    scales AS (
        SELECT dim, MAX(ABS(x)) / 127.0 AS scale FROM ev GROUP BY dim
    ),
    q AS (
        SELECT ev.vec_id, ev.dim, ev.x, s.scale,
               FLOOR(ev.x / s.scale + 0.5) AS qx
        FROM ev JOIN scales s ON s.dim = ev.dim
        WHERE s.scale > 0
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           round(MIN(scale), 9) AS scale,
           round({dsum_sql('ABS(x - qx * scale)')} / COUNT(*), 9)
               AS mean_abs_err,
           round(MAX(ABS(x - qx * scale)), 9) AS max_abs_err
    FROM q
    GROUP BY dim
    ORDER BY dim
    """,
    tags=("llm", "quantization"),
)
def q_embed_quantize(spark: SparkSession, d: str):
    """Symmetric int8 quantization of the embedding table with
    per-dimension error accounting: scale each dimension by
    max|x|/127, round to the nearest integer level, and report the
    mean/max reconstruction error per dimension — the precision audit
    run before shipping a quantized ANN index (4x memory saving vs
    recall risk).

    The vector stream explodes once (dim-keyed aggregation for the
    64-row scale table, broadcast back), the quantize + error pass is
    stateless per element, and the final rollup is dim-keyed. Rounding
    uses FLOOR(x/scale + 0.5) explicitly — Spark's round() is
    HALF_UP, DuckDB's is banker's-adjacent on doubles; the explicit
    floor formula is bit-identical on both. All divisions and
    multiplies are IEEE-exact per element; sums use the decimal
    contract."""
    emb = load_table(spark, d, "embeddings")
    ev = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xf")
    ).select("vec_id", "dim", F.col("xf").cast("double").alias("x"))
    scales = ev.groupBy("dim").agg(
        (F.max(F.abs(F.col("x"))) / 127.0).alias("scale")
    )
    q = (
        ev.join(F.broadcast(scales), "dim")
        .filter(F.col("scale") > 0)
        .select(
            "dim",
            "x",
            "scale",
            F.floor(F.col("x") / F.col("scale") + 0.5).alias("qx"),
        )
    )
    err = F.abs(F.col("x") - F.col("qx") * F.col("scale"))
    return (
        q.groupBy("dim")
        .agg(
            F.round(F.min("scale"), 9).alias("scale"),
            F.round(dsum(err) / F.count(F.lit(1)), 9).alias("mean_abs_err"),
            F.round(F.max(err), 9).alias("max_abs_err"),
        )
        .select(F.col("dim").cast("bigint").alias("dim"), "scale",
                "mean_abs_err", "max_abs_err")
        .orderBy("dim")
    )
