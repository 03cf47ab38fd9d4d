"""Corpus-hygiene operators, round 3: canonical-URL dedup, tokenizer
vocabulary coverage, embedding-norm diagnostics, and lightweight
format detection — the second ring of checks a web-scale training
corpus goes through after the core dedup/quality passes
(operators/llm.py, llm2.py).

Reference anchor: EXT operators (SURVEY.md §2; the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import bounded_window_key
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.operators.llm2 import DECON_EVAL, decon_gram_stream
from direct_kafka_stream_spark.registry import query


@query(
    "q_dedup_url",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'https://' || upper(source) || '.Example.com/docs/' ||
                   CAST(doc_id % 100 AS VARCHAR) || '?session=' ||
                   CAST(doc_id AS VARCHAR) AS url
        FROM documents
    ),
    canon AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^https?://([^/]+)', 1)) ||
                   regexp_extract(url, '^https?://[^/]+([^?#]*)', 1)
                   AS canonical
        FROM u
    )
    SELECT canonical,
           MIN(doc_id) AS keep_doc,
           COUNT(*) AS n_dups
    FROM canon
    GROUP BY canonical
    ORDER BY canonical
    """,
    tags=("llm", "dedup", "url"),
)
def q_dedup_url(spark: SparkSession, d: str):
    """Canonical-URL deduplication: normalize scheme-host casing and
    strip the query string (session ids, tracking params), then
    keep-first per canonical URL — the cheapest, highest-yield dedup
    pass on a web crawl, run BEFORE any content hashing (it needs no
    document bytes at all).

    URLs are synthesized from fixture columns (the corpus stores
    logical source ids); the mod-100 path makes real collisions.
    One groupBy on the canonical key — map-side combine, no skew
    (canonical URLs are near-unique by construction)."""
    docs = load_table(spark, d, "documents")
    url = F.concat(
        F.lit("https://"),
        F.upper("source"),
        F.lit(".Example.com/docs/"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit("?session="),
        F.col("doc_id").cast("string"),
    )
    canonical = F.concat(
        F.lower(F.regexp_extract(url, r"^https?://([^/]+)", 1)),
        F.regexp_extract(url, r"^https?://[^/]+([^?#]*)", 1),
    )
    return (
        docs.select("doc_id", canonical.alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.min("doc_id").alias("keep_doc"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .orderBy("canonical")
    )


_VOCAB_K = 100


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents
    ),
    freq AS (
        SELECT word, COUNT(*) AS n FROM toks GROUP BY word
    ),
    vocab AS (
        SELECT word FROM freq ORDER BY n DESC, word LIMIT {_VOCAB_K}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           round(SUM(CASE WHEN v.word IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS coverage
    FROM toks t LEFT JOIN vocab v ON t.word = v.word
    GROUP BY t.doc_id
    """,
    tags=("llm", "text", "vocab"),
)
def q_vocab_coverage(spark: SparkSession, d: str):
    """Tokenizer-design diagnostic: build a top-K unigram vocabulary
    from the corpus itself, then score every document by the fraction
    of its tokens the vocabulary covers. Low-coverage documents are
    the out-of-domain / wrong-language / garbage tail a fixed
    vocabulary will shred into bytes.

    Two phases over one token table: (1) corpus-wide top-K word
    frequency — groupBy + TakeOrderedAndProject, vocab is K rows;
    (2) per-doc coverage — the K-row vocab BROADCASTs onto the token
    stream (left join marks membership), then one doc-keyed count.
    The token table is never shuffled by word for phase 2; only the
    doc-keyed aggregation exchanges fact-sized data."""
    docs = load_table(spark, d, "documents")
    toks_arr = text.tokens()
    toks = docs.select("doc_id", F.explode(toks_arr).alias("word"))
    vocab = (
        toks.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(_VOCAB_K)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("in_vocab", F.lit(False)).cast("long")).alias(
                "n_in_vocab"
            ),
            F.round(
                F.sum(F.coalesce("in_vocab", F.lit(False)).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("coverage"),
        )
    )


@query(
    "q_embed_norm_stats",
    oracle="""
    WITH norms AS (
        SELECT label,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2
        FROM embeddings
    )
    SELECT label,
           COUNT(*) AS n,
           round(AVG(l2), 6) AS mean_norm,
           round(MIN(l2), 6) AS min_norm,
           round(MAX(l2), 6) AS max_norm,
           CAST(SUM(CASE WHEN ABS(l2 - 1.0) > 0.01 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unnormalized
    FROM norms GROUP BY label
    """,
    tags=("llm", "embedding", "profiling"),
)
def q_embed_norm_stats(spark: SparkSession, d: str):
    """Embedding hygiene: per-label L2-norm statistics and a count of
    vectors that are not unit-normalized. Mixed-norm embedding tables
    silently corrupt cosine similarity (dot products stop being
    cosines) — this is the check that catches a mis-exported shard
    before it poisons ANN results.

    The norm is a JVM higher-order fold per row (no Python, no
    explode); one label-keyed aggregation follows — map-side combined,
    |labels| groups."""
    e = load_table(spark, d, "embeddings")
    l2 = F.sqrt(
        F.aggregate(
            F.transform(
                "embedding", lambda x: x.cast("double") * x.cast("double")
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return (
        e.select("label", l2.alias("l2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l2"), 6).alias("mean_norm"),
            F.round(F.min("l2"), 6).alias("min_norm"),
            F.round(F.max("l2"), 6).alias("max_norm"),
            F.sum((F.abs(F.col("l2") - 1.0) > 0.01).cast("long")).alias(
                "n_unnormalized"
            ),
        )
    )


@query(
    "q_format_detect",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN regexp_matches(text, '[{};]')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_codeish,
           CAST(SUM(CASE WHEN regexp_matches(text, '[0-9]')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_numeric,
           CAST(SUM(CASE WHEN length(text) -
                         length(replace(text, '.', '')) >= 3
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_prose,
           CAST(SUM(CASE WHEN upper(text) = text THEN 1 ELSE 0 END)
                AS BIGINT) AS n_allcaps
    FROM documents
    GROUP BY source
    """,
    tags=("llm", "text", "profiling"),
)
def q_format_detect(spark: SparkSession, d: str):
    """Lightweight per-source format census: how many documents look
    like code (brace/semicolon characters), contain digits, read as
    multi-sentence prose (≥3 periods), or are ALL-CAPS shouting. The
    per-source rollup is what routes sources to different cleaning
    pipelines (code formatter vs prose filters).

    Pure per-row regex/string predicates folded into ONE conditional
    aggregation — single scan, |sources| output groups, zero UDFs."""
    docs = load_table(spark, d, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("text").rlike("[{};]").cast("long")).alias("n_codeish"),
            F.sum(F.col("text").rlike("[0-9]").cast("long")).alias("n_numeric"),
            F.sum(
                (
                    F.length("text")
                    - F.length(F.regexp_replace("text", r"\.", ""))
                    >= 3
                ).cast("long")
            ).alias("n_prose"),
            F.sum((F.upper("text") == F.col("text")).cast("long")).alias(
                "n_allcaps"
            ),
        )
    )


@query(
    "q_decontaminate_frac",
    oracle="""
    WITH sh AS (
        SELECT doc_id, source, md5(word || ' ' || w1 || ' ' || w2 || ' ' || w3) AS gh
        FROM (
            SELECT doc_id, source, word,
                   LEAD(word, 1) OVER w AS w1,
                   LEAD(word, 2) OVER w AS w2,
                   LEAD(word, 3) OVER w AS w3
            FROM (
                SELECT doc_id, source,
                       unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word,
                       generate_subscripts(list_filter(string_split(text, ' '), w -> w != ''), 1) AS pos
                FROM documents
            )
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE w3 IS NOT NULL
    ),
    ev AS (SELECT DISTINCT gh FROM sh WHERE source = 'src0'),
    totals AS (
        SELECT doc_id, CAST(COUNT(DISTINCT gh) AS BIGINT) AS n_grams
        FROM sh WHERE source != 'src0' GROUP BY doc_id
    ),
    hits AS (
        SELECT s.doc_id, CAST(COUNT(DISTINCT s.gh) AS BIGINT) AS n_shared
        FROM sh AS s JOIN ev USING (gh)
        WHERE s.source != 'src0'
        GROUP BY s.doc_id
    )
    SELECT t.doc_id, t.n_grams, h.n_shared,
           round(h.n_shared * 1.0 / t.n_grams, 6) AS containment
    FROM hits h JOIN totals t ON h.doc_id = t.doc_id
    """,
    tags=("llm", "curation"),
)
def q_decontaminate_frac(spark: SparkSession, d: str):
    """Containment-fraction decontamination: for each contaminated
    training document, the FRACTION of its distinct word 4-grams that
    appear in the held-out eval set — the graded score behind
    threshold policies ('drop if >80% contained, log if >10%'), where
    q_decontaminate's binary any-hit flag over- or under-reacts.

    Same scale shape as its sibling: the eval-gram set broadcasts,
    matches move 16-byte digests, and the only corpus-keyed exchanges
    are the two per-doc distinct counts; the final join is
    contamination-sized ⋈ corpus-sized on doc_id with the small side
    broadcast."""
    sh = decon_gram_stream(spread_scan(load_table(spark, d, "documents"), "doc_id"))
    train = sh.filter(F.col("source") != DECON_EVAL)
    ev = sh.filter(F.col("source") == DECON_EVAL).select("gh").distinct()
    totals = train.groupBy("doc_id").agg(
        F.count_distinct("gh").alias("n_grams")
    )
    hits = (
        train.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_shared"))
    )
    return totals.join(F.broadcast(hits), "doc_id").select(
        "doc_id",
        "n_grams",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("containment"),
    )


@query(
    "q_zipf_slope",
    oracle="""
    WITH freq AS (
        SELECT word, COUNT(*) AS n FROM (
            SELECT unnest(list_filter(string_split(text, ' '), w -> w != ''))
                AS word
            FROM documents
        ) GROUP BY word
    ),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM freq
        ORDER BY n DESC, word LIMIT 100
    )
    SELECT round(regr_slope(LN(n), LN(rank)), 6) AS zipf_slope,
           round(regr_r2(LN(n), LN(rank)), 6) AS r2,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM ranked
    """,
    tags=("llm", "text", "stats"),
)
def q_zipf_slope(spark: SparkSession, d: str):
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) against ln(rank) for the top-100 words (natural
    language sits near −1; a flat or erratic slope flags synthetic or
    templated corpora) — a one-number corpus-health fingerprint.

    The word-frequency table is one map-side-combined groupBy; the
    top-100 rank assignment and the regression aggregate both run on
    ≤100 rows, so everything after the count is free. regr_slope /
    regr_r2 are identical closed forms in both engines; rounded 6 dp
    (ALIGNMENT.md transcendental rule for the LN inputs)."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    freq = (
        docs.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(100)
    )
    w = Window.partitionBy(bounded_window_key("word")).orderBy(
        F.col("n").desc(), "word"
    )
    ranked = freq.select("n", F.row_number().over(w).alias("rank"))
    return ranked.agg(
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(F.regr_r2(F.log("n"), F.log("rank")), 6).alias("r2"),
        F.count(F.lit(1)).alias("n_words"),
    )


@query(
    "q_minhash_accuracy",
    oracle="""
    WITH shingles AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
            FROM (
                SELECT doc_id, word,
                       LEAD(word, 1) OVER w AS w1,
                       LEAD(word, 2) OVER w AS w2
                FROM (
                    SELECT doc_id,
                           unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word,
                           generate_subscripts(list_filter(string_split(text, ' '), w -> w != ''), 1) AS pos
                    FROM documents
                )
                WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
            ) WHERE w2 IS NOT NULL
        )
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM shingles),
    ws AS (SELECT doc_id, list(DISTINCT shingle) AS s FROM sh GROUP BY doc_id),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                   AS exact_j
        FROM ws a JOIN ws b ON a.doc_id < b.doc_id
        WHERE a.doc_id < 50 AND b.doc_id < 50
    )
    SELECT CAST(FLOOR(exact_j * 10) AS BIGINT) AS j_decile,
           COUNT(*) AS n_pairs,
           round(AVG(exact_j), 6) AS mean_exact
    FROM pairs
    WHERE exact_j > 0
    GROUP BY j_decile ORDER BY j_decile
    """,
    tags=("llm", "dedup", "diagnostic"),
)
def q_minhash_accuracy(spark: SparkSession, d: str):
    """Jaccard-distribution census over a bounded probe window (doc_id
    < 50, exhaustive pairs): how many pairs fall in each exact-Jaccard
    decile — the ground-truth histogram you size MinHash/LSH
    parameters against (band/row choices are picked so the S-curve
    knee lands where this histogram separates dups from noise).

    The probe window is an explicit bound: exhaustive exact Jaccard is
    O(window²) and exists to CALIBRATE the sketch parameters on a
    sample, never to run corpus-wide (the banded q_dedup_near /
    q_jaccard_pairs paths are the corpus-scale forms). Distinct
    3-gram shingle sets per doc, intersection via sorted-array
    overlap, decile bucketing in one aggregation."""
    docs = spread_scan(
        load_table(spark, d, "documents").filter(F.col("doc_id") < 50), "doc_id"
    )
    sh = text.shingles_from_docs(docs).select("doc_id", "shingle").distinct()
    ws = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("shingle")).alias("s")
    )
    a, b = ws.alias("a"), ws.alias("b")
    inter = F.size(F.array_intersect(F.col("a.s"), F.col("b.s")))
    union = F.size(F.col("a.s")) + F.size(F.col("b.s")) - inter
    pairs = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select((inter.cast("double") / union).alias("exact_j"))
        .filter(F.col("exact_j") > 0)
    )
    return (
        pairs.groupBy(
            F.floor(F.col("exact_j") * 10).cast("long").alias("j_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("exact_j"), 6).alias("mean_exact"),
        )
        .orderBy("j_decile")
    )


@query(
    "q_embed_outliers",
    oracle="""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label, i,
               round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM ev GROUP BY label, i
    ),
    dists AS (
        SELECT e.vec_id, e.label,
               round(SUM((e.x - c.c) * (e.x - c.c)), 6) AS d2
        FROM ev e JOIN cent c ON e.label = c.label AND e.i = c.i
        GROUP BY e.vec_id, e.label
    ),
    ranked AS (
        SELECT vec_id, label, d2,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY d2 DESC, vec_id) AS rn
        FROM dists
    )
    SELECT label, vec_id, d2 AS dist2
    FROM ranked WHERE rn <= 3
    """,
    tags=("llm", "embedding", "profiling"),
)
def q_embed_outliers(spark: SparkSession, d: str):
    """Embedding outliers: the 3 vectors farthest from their own
    label's centroid, per label — mislabeled or corrupt vectors sit in
    exactly this set (the embedding-space twin of q_anomaly_mad).

    Centroids are a (labels × dims)-sized exact-decimal aggregation
    that BROADCASTS back onto the exploded vector stream, so the fact
    never shuffles for the distance pass; per-vector distances reduce
    doc-keyed, and the top-3 window partitions by label over a
    corpus-sized but label-bounded table. Distances round at 6 dp
    before ranking (tie-break vec_id) so the cutoff is cross-engine
    stable."""
    e = load_table(spark, d, "embeddings")
    ev = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = ev.groupBy("label", "i").agg(
        F.round(
            F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )
    dists = (
        ev.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))),
                6,
            ).alias("d2")
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("d2").desc(), "vec_id")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", F.col("d2").alias("dist2"))
    )


def _langid_confusion_oracle() -> str:
    return f"""
    SELECT lang AS actual,
           CASE WHEN {text.marker_hits_sql()} > 0 THEN 'en' ELSE 'unknown' END
               AS predicted,
           COUNT(*) AS n,
           round(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY lang), 6)
               AS frac_of_actual
    FROM documents
    GROUP BY actual, predicted
    """


@query(
    "q_langid_confusion",
    oracle=_langid_confusion_oracle(),
    tags=("llm", "text", "diagnostic"),
)
def q_langid_confusion(spark: SparkSession, d: str):
    """Language-ID confusion matrix: the langid heuristic's prediction
    (en / unknown) crossed with the corpus's actual language labels,
    with each cell's share of its actual-language row — the accuracy
    report that tells you the classifier's recall on 'en' and its
    false-positive rate on every other language BEFORE you trust it to
    route documents (the evaluation loop every heuristic filter needs).

    One conditional scan (the same marker-count expression as
    q_text_langid — length-delta-of-replace, no regex) + a
    (langs × 2)-cell aggregation; the row-share window runs on that
    tiny matrix."""
    docs = load_table(spark, d, "documents")
    hits = text.marker_hits()
    cells = (
        docs.select(
            F.col("lang").alias("actual"),
            F.when(hits > 0, "en").otherwise("unknown").alias("predicted"),
        )
        .groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("actual")
    return cells.select(
        "actual",
        "predicted",
        "n",
        F.round(F.col("n") / F.sum("n").over(w), 6).alias("frac_of_actual"),
    )
