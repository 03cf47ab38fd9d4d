"""Corpus hygiene and text statistics: canonical-URL dedup, tokenizer
vocabulary coverage and fertility, embedding-norm diagnostics, format
detection, BPE merges, language profiles, quality-rule censuses,
readability, lexical richness, Heaps' law, keyword extraction and
per-source dataset cards — the second ring of checks a web-scale
training corpus goes through after the core dedup/quality passes
(operators/llm.py).

Reference anchor: EXT operators (SURVEY.md §2; the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import DEC, bounded_window_key, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.operators.llm import DECON_EVAL, decon_gram_stream
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


@query(
    "q_sentence_stats",
    oracle="""
    WITH sent AS (
        SELECT doc_id,
               list_filter(string_split(text, '. '), s -> s <> '') AS ss
        FROM documents WHERE text IS NOT NULL
    )
    SELECT doc_id,
           CAST(len(ss) AS BIGINT) AS n_sentences,
           CAST(list_max(list_transform(ss, s -> length(s))) AS BIGINT)
               AS max_sentence_chars,
           round(CAST(list_sum(list_transform(ss,
                     s -> len(list_filter(string_split(s, ' '), w -> w <> ''))))
                     AS DOUBLE)
                 / len(ss), 6) AS avg_sentence_words
    FROM sent WHERE len(ss) > 0
    """,
    tags=("text", "profiling"),
)
def q_sentence_stats(spark: SparkSession, d: str):
    """Per-document sentence statistics: split on the '. ' boundary,
    count sentences, the longest sentence in characters, and the mean
    words-per-sentence — readability-style features that corpus
    quality filters gate on (degenerate docs have 1 run-on sentence or
    hundreds of fragments).

    Pure higher-order array functions on both engines (split /
    filter / transform / aggregate — JVM codegen in Spark, list_*
    kernels in DuckDB): zero UDFs, zero explodes, so the whole
    operator is a stateless projection over the corpus scan — the
    best possible 100 TB shape (no shuffle at all). The split is a
    LITERAL separator, deliberately avoiding regex lookbehind, which
    RE2-based engines do not support."""
    docs = load_table(spark, d, "documents").filter(F.col("text").isNotNull())
    ss = F.filter(F.split("text", "\\. "), lambda s: s != "")
    words = lambda s: F.size(text.tokens(s))  # noqa: E731
    out = docs.select(
        "doc_id",
        F.size(ss).cast("bigint").alias("n_sentences"),
        F.array_max(F.transform(ss, lambda s: F.length(s))).cast("bigint").alias(
            "max_sentence_chars"
        ),
        F.round(
            F.aggregate(
                F.transform(ss, words), F.lit(0), lambda acc, x: acc + x
            ).cast("double")
            / F.size(ss),
            6,
        ).alias("avg_sentence_words"),
    )
    return out.filter(F.col("n_sentences") > 0)


@query(
    "q_readability",
    oracle=f"""
    WITH per_doc AS (
        SELECT source,
               CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS DOUBLE) AS w,
               CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS DOUBLE) AS s,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS DOUBLE) AS syl
        FROM documents
    ),
    scored AS (
        SELECT source,
               round(206.835 - 1.015 * (w / s) - 84.6 * (syl / w), 6)
                   AS flesch,
               w, s
        FROM per_doc WHERE w > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(ROUND(SUM(CAST(flesch AS DECIMAL(38,10))), 6)
                      AS DOUBLE) / COUNT(*), 6) AS mean_flesch,
           round({dsum_sql('w')} / {dsum_sql('s')}, 6) AS words_per_sentence
    FROM scored
    GROUP BY source
    """,
    tags=("text", "quality"),
)
def q_readability(spark: SparkSession, d: str):
    """Flesch-style readability per source: 206.835 − 1.015·(W/S) −
    84.6·(Syl/W) with a vowel-group syllable proxy — the reading-level
    quality signal that complements the Gopher/C4 rule census
    (q_gopher_rules) with a graded score instead of binary gates.

    One scan, pure column expressions (two regexp extractions + a
    whitespace split), per-source rollup. The regex classes are simple
    enough to be engine-identical ([aeiouy]+ vowel groups, [.!?]+
    sentence terminators); coefficient literals are shared verbatim;
    per-doc scores are rounded 6 dp then exact-decimal averaged.
    Zero-sentence docs clamp S to 1; zero-word docs are excluded (the
    score is undefined, and they are q_gopher_rules' problem)."""
    return readability_report(load_table(spark, d, "documents"))


def readability_report(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    wcol = F.size(text.tokens()).cast("double")
    scol = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    ).cast("double")
    sylcol = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("double")
    per_doc = docs.select(
        "source", wcol.alias("w"), scol.alias("s"), sylcol.alias("syl")
    ).filter(F.col("w") > 0)
    scored = per_doc.select(
        "source",
        F.round(
            206.835
            - 1.015 * (F.col("w") / F.col("s"))
            - 84.6 * (F.col("syl") / F.col("w")),
            6,
        ).alias("flesch"),
        "w",
        "s",
    )
    def _dsum(c):
        return F.round(F.sum(F.col(c).cast(DEC)), 4).cast("double")
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(
            F.round(F.sum(F.col("flesch").cast(DEC)), 6).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_flesch"),
        F.round(_dsum("w") / _dsum("s"), 6).alias("words_per_sentence"),
    )


@query(
    "q_dataset_card",
    oracle="""
    WITH base AS (
        SELECT source, doc_id, lang, n_chars,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_words,
               md5(text) AS h
        FROM documents
    ),
    per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_words) AS BIGINT) AS n_tokens,
               round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6)
                   AS mean_chars,
               COUNT(DISTINCT lang) AS n_langs
        FROM base GROUP BY source
    ),
    lang_mix AS (
        SELECT source,
               round(CAST(ROUND(SUM(CAST(
                   round((CAST(c AS DOUBLE) / tot) * (CAST(c AS DOUBLE) / tot), 9)
                   AS DECIMAL(38,10))), 6) AS DOUBLE), 6) AS simpson
        FROM (
            SELECT source, lang, COUNT(*) AS c,
                   SUM(COUNT(*)) OVER (PARTITION BY source) AS tot
            FROM base GROUP BY source, lang
        ) GROUP BY source
    ),
    dup AS (
        SELECT source,
               CAST(COALESCE(SUM(CASE WHEN c > 1 THEN c END), 0) AS BIGINT)
                   AS dup_docs
        FROM (SELECT source, h, COUNT(*) AS c FROM base GROUP BY source, h)
        GROUP BY source
    )
    SELECT p.source, CAST(p.n_docs AS BIGINT) AS n_docs, p.n_tokens,
           p.mean_chars, CAST(p.n_langs AS BIGINT) AS n_langs,
           l.simpson, d.dup_docs,
           round(CAST(d.dup_docs AS DOUBLE) / p.n_docs, 6) AS dup_rate
    FROM per_source p
    JOIN lang_mix l USING (source)
    JOIN dup d USING (source)
    """,
    tags=("corpus", "profiling"),
)
def q_dataset_card(spark: SparkSession, d: str):
    """Per-source dataset card — the datasheet a training-data release
    ships with: document and token counts, mean length, language
    breadth, the Simpson concentration of the language mix (1 = one
    language, →0 = uniform), and the exact-duplicate rate (md5 within
    source). Aggregates the census every curation decision starts from.

    Scale shape: one scan computes doc-level columns; everything after
    is source-keyed aggregation (dup detection is a (source, md5)-keyed
    count — the q_dedup_exact machinery scoped per source). Simpson
    terms are squared exact-count ratios rounded 9 dp then decimal-
    summed; md5 is the cross-engine-identical hash."""
    docs = load_table(spark, d, "documents")
    base = docs.select(
        "source",
        "doc_id",
        "lang",
        "n_chars",
        F.size(text.tokens()).alias("n_words"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    per_source = base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    lc = base.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    wt = Window.partitionBy("source")
    p = F.col("c").cast("double") / F.sum("c").over(wt)
    lang_mix = (
        lc.select("source", F.round(p * p, 9).alias("t"))
        .groupBy("source")
        .agg(
            F.round(
                F.round(F.sum(F.col("t").cast(DEC)), 6).cast("double"), 6
            ).alias("simpson")
        )
    )
    dup = (
        base.groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.coalesce(F.sum(F.when(F.col("c") > 1, F.col("c"))), F.lit(0))
            .cast("bigint")
            .alias("dup_docs")
        )
    )
    return (
        per_source.join(lang_mix, "source")
        .join(dup, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_chars",
            "n_langs",
            "simpson",
            "dup_docs",
            F.round(
                F.col("dup_docs").cast("double") / F.col("n_docs"), 6
            ).alias("dup_rate"),
        )
    )


@query(
    "q_hapax",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(list_filter(string_split(text, ' '),
                                          w -> w != '')) AS word
        FROM documents
    ),
    wc AS (SELECT source, word, COUNT(*) AS c FROM toks GROUP BY source, word)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           round(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_rate,
           round(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS type_token_ratio
    FROM wc
    GROUP BY source
    """,
    tags=("text", "profiling"),
)
def q_hapax(spark: SparkSession, d: str):
    """Lexical-richness profile per source: hapax legomena rate (share
    of vocabulary occurring exactly once) and type-token ratio — the
    vocabulary-health metrics that expose both template spam (low TTR,
    low hapax) and OCR noise / mojibake (anomalously HIGH hapax: every
    garbled token is unique).

    One (source, word)-keyed aggregation — map-side combinable — then
    a source-keyed rollup of exact integer counts; ratios are exact
    rationals rounded once."""
    return hapax_report(load_table(spark, d, "documents"))


def hapax_report(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    wc = (
        docs.select(
            "source",
            F.explode(text.tokens()).alias("word"),
        )
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    one = F.when(F.col("c") == 1, 1).otherwise(0)
    return wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum(one).cast("bigint").alias("n_hapax"),
        F.round(F.sum(one).cast("double") / F.count(F.lit(1)), 6).alias(
            "hapax_rate"
        ),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )


# Heaps'-law checkpoints: doc-id range buckets at which (T, V) is
# sampled for the log-log fit.
_HL_BUCKETS = 20


def _heaps_oracle() -> str:
    return f"""
    WITH docs_t AS (
        SELECT doc_id,
               CAST(FLOOR(CAST(doc_id * {_HL_BUCKETS} AS DOUBLE) /
                    ((SELECT MAX(doc_id) + 1 FROM documents))) AS BIGINT)
                   AS bucket,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_toks
        FROM documents
    ),
    toks AS (
        SELECT d.bucket, t.word FROM (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                              w -> w != '')) AS word
            FROM documents
        ) t JOIN docs_t d USING (doc_id)
    ),
    first_b AS (SELECT word, MIN(bucket) AS fb FROM toks GROUP BY word),
    newv AS (SELECT fb AS bucket, COUNT(*) AS nv FROM first_b GROUP BY fb),
    tokb AS (SELECT bucket, SUM(n_toks) AS nt FROM docs_t GROUP BY bucket),
    cum AS (
        SELECT t.bucket,
               SUM(t.nt) OVER (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ct,
               SUM(COALESCE(v.nv, 0)) OVER (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        FROM tokb t LEFT JOIN newv v ON v.bucket = t.bucket
    ),
    pts AS (
        SELECT round(ln(CAST(ct AS DOUBLE)), 9) AS x,
               round(ln(CAST(cv AS DOUBLE)), 9) AS y
        FROM cum WHERE ct > 0 AND cv > 0
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('x')} AS sx, {dsum_sql('y')} AS sy,
               {dsum_sql('x * x')} AS sxx, {dsum_sql('x * y')} AS sxy
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 6)
               AS beta,
           round((sy - (n * sxy - sx * sy)
                       / NULLIF(n * sxx - sx * sx, 0.0) * sx) / n,
                 6) AS ln_k
    FROM m
    """


@query("q_heaps_law", oracle=_heaps_oracle(), tags=("text", "scale"))
def q_heaps_law(spark: SparkSession, d: str):
    """Heaps'-law fit V = K·T^β of vocabulary growth against corpus
    size, from ≤20 checkpoint buckets over the doc-id axis — the
    sublinearity diagnostic (β far above the 0.4-0.6 band means the
    corpus keeps minting 'new words': OCR noise, unstripped markup, or
    id-like tokens that will blow up any vocabulary build).

    The naive form needs a cumulative DISTINCT count — unbounded
    state. Here each word contributes once at its FIRST bucket (a
    word-keyed min), new-word counts and token masses aggregate per
    bucket, and the cumulative (T, V) series is two prefix sums over
    the ≤20-row bucket table; the OLS fit runs on those checkpoints in
    closed form. Transcendental points rounded 9 dp; slope/intercept
    expressions share operation order verbatim with the oracle."""
    docs = load_table(spark, d, "documents")
    maxid = docs.agg((F.max("doc_id") + 1).alias("mx"))
    dt = docs.crossJoin(F.broadcast(maxid)).select(
        "doc_id",
        F.floor(
            (F.col("doc_id") * _HL_BUCKETS).cast("double") / F.col("mx")
        )
        .cast("bigint")
        .alias("bucket"),
        F.size(text.tokens()).alias("n_toks"),
        "text",
    )
    toks = dt.select(
        "bucket",
        F.explode(text.tokens()).alias("word"),
    )
    first_b = toks.groupBy("word").agg(F.min("bucket").alias("fb"))
    newv = first_b.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).alias("nv")
    )
    tokb = dt.groupBy("bucket").agg(F.sum("n_toks").alias("nt"))
    wb = Window.partitionBy(bounded_window_key("bucket")).orderBy(
        "bucket"
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = (
        tokb.join(newv, "bucket", "left")
        .select(
            "bucket",
            F.sum("nt").over(wb).alias("ct"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(wb).alias("cv"),
        )
    )
    pts = cum.filter((F.col("ct") > 0) & (F.col("cv") > 0)).select(
        F.round(F.log(F.col("ct").cast("double")), 9).alias("x"),
        F.round(F.log(F.col("cv").cast("double")), 9).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum("x").alias("sx"),
        dsum("y").alias("sy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    # NULLIF: a single checkpoint (tiny corpus) has no slope — the
    # fit is undefined (NULL) identically on both engines
    beta = (n * sxy - sx * sy) / F.nullif(n * sxx - sx * sx, F.lit(0.0))
    return m.select(
        n.cast("bigint").alias("n_points"),
        F.round(beta, 6).alias("beta"),
        F.round((sy - beta * sx) / n, 6).alias("ln_k"),
    )


# c-TF-IDF: minimum corpus frequency for a term to be scored, and the
# per-class top-k reported.
_CT_MIN_F = 5
_CT_TOPK = 5


@query(
    "q_ctfidf_terms",
    oracle=f"""
    WITH toks AS (
        SELECT lang, unnest(list_filter(string_split(text, ' '),
                                        w -> w != '')) AS word
        FROM documents
    ),
    cw AS (SELECT lang, word, COUNT(*) AS c FROM toks GROUP BY lang, word),
    fw AS (SELECT word, SUM(c) AS f FROM cw GROUP BY word
           HAVING SUM(c) >= {_CT_MIN_F}),
    cl AS (SELECT lang, SUM(c) AS lt FROM cw GROUP BY lang),
    a AS (SELECT CAST(ROUND(AVG(lt), 6) AS DOUBLE) AS a FROM cl),
    scored AS (
        SELECT cw.lang, cw.word,
               round((CAST(cw.c AS DOUBLE) / cl.lt)
                     * round(ln(1.0 + a.a / fw.f), 9), 9) AS score
        FROM cw
        JOIN fw USING (word)
        JOIN cl USING (lang)
        CROSS JOIN a
    )
    SELECT lang, word, score, CAST(rn AS BIGINT) AS rank
    FROM (SELECT lang, word, score,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY score DESC, word) AS rn
          FROM scored)
    WHERE rn <= {_CT_TOPK}
    """,
    tags=("text", "keywords"),
)
def q_ctfidf_terms(spark: SparkSession, d: str):
    """Class-based TF-IDF (the BERTopic c-TF-IDF scheme): terms scored
    per LANGUAGE as (class tf) · ln(1 + A/f_w) where A is the average
    class token mass and f_w the corpus frequency — the top-5 terms
    that characterize each language slice against the rest of the
    corpus. The class-level complement of q_text_tfidf's per-document
    weights (and the labeled-slice analog of q_collocations).

    Scale shape: the corpus reduces to the (lang × word) count table
    in one aggregation; frequencies, class masses, and the scalar A
    are bounded broadcasts; the top-k rank window partitions per
    language over the vocab-sized scored table. Transcendental terms
    rounded 9 dp (q_psi discipline), tie-broken by word."""
    docs = load_table(spark, d, "documents")
    toks = docs.select(
        "lang",
        F.explode(text.tokens()).alias("word"),
    )
    # persisted: cw feeds the frequency filter, the class masses, and
    # the scoring join — one corpus explode instead of three
    cw = track(toks.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c")).persist())
    fw = (
        cw.groupBy("word")
        .agg(F.sum("c").alias("f"))
        .filter(F.col("f") >= _CT_MIN_F)
    )
    cl = cw.groupBy("lang").agg(F.sum("c").alias("lt"))
    a = cl.agg(F.round(F.avg("lt"), 6).cast("double").alias("a"))
    scored = (
        cw.join(F.broadcast(fw), "word")
        .join(F.broadcast(cl), "lang")
        .crossJoin(F.broadcast(a))
        .select(
            "lang",
            "word",
            F.round(
                (F.col("c").cast("double") / F.col("lt"))
                * F.round(F.log(1.0 + F.col("a") / F.col("f")), 9),
                9,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("score").desc(), "word")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CT_TOPK)
        .select("lang", "word", "score", F.col("rn").cast("bigint").alias("rank"))
    )


# RAKE: phrase delimiters are punctuation plus a fixed stopword set —
# one regex shared verbatim by both engines (RE2-safe subset).
_RAKE_STOPS = (
    "the|and|of|to|a|in|is|it|for|on|with|as|at|by|an|be|this|that|from|"
    "or|are|was|were|has|have|had|not|but|they|their|its"
)
_RAKE_DELIM = rf"([.!?,;:()\[\]]|\b({_RAKE_STOPS})\b)+"
_RAKE_TOPK = 10
_RAKE_MIN_FREQ = 3


@query(
    "q_rake_keywords",
    oracle=f"""
    WITH phrases AS (
        SELECT doc_id,
               list_filter(
                   list_transform(
                       string_split_regex(lower(text), '{_RAKE_DELIM}'),
                       p -> list_filter(string_split(p, ' '), w -> w != '')),
                   p -> len(p) > 0) AS ps
        FROM documents
    ),
    pw AS (
        SELECT len(p.phrase) AS plen, unnest(p.phrase) AS word
        FROM (SELECT unnest(ps) AS phrase FROM phrases) p
    ),
    scores AS (
        SELECT word,
               COUNT(*) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree,
               round(CAST(SUM(plen) AS DOUBLE) / COUNT(*), 6) AS score
        FROM pw GROUP BY word
        HAVING COUNT(*) >= {_RAKE_MIN_FREQ}
    )
    SELECT word, CAST(freq AS BIGINT) AS freq, degree, score
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, word) AS rn
          FROM scores)
    WHERE rn <= {_RAKE_TOPK}
    """,
    tags=("text", "keywords"),
)
def q_rake_keywords(spark: SparkSession, d: str):
    """RAKE keyword extraction (Rose et al.): split text into
    candidate phrases at punctuation and stopwords, score each word by
    degree/frequency (degree = total length of phrases it appears in —
    words that live in long multi-word phrases outrank isolated
    frequent words), report the corpus top-10. The phrase-aware
    complement of q_collocations' PMI pairs and q_ctfidf_terms' class
    slices.

    One scan does the regex phrase split (a single shared RE2-safe
    pattern — identical semantics on Java regex and RE2); word scores
    are one vocab-keyed aggregation of exact integers; the top-k is a
    rank over the frequency-floored vocab table. Scores are exact
    rationals rounded once."""
    docs = load_table(spark, d, "documents")
    phrases = docs.select(
        F.explode(
            F.filter(
                F.transform(
                    F.split(F.lower(F.col("text")), _RAKE_DELIM),
                    lambda p: text.tokens(p),
                ),
                lambda p: F.size(p) > 0,
            )
        ).alias("phrase")
    )
    pw = phrases.select(
        F.size("phrase").alias("plen"), F.explode("phrase").alias("word")
    )
    scores = (
        pw.groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
            F.round(
                F.sum("plen").cast("double") / F.count(F.lit(1)), 6
            ).alias("score"),
        )
        .filter(F.col("freq") >= _RAKE_MIN_FREQ)
    )
    # distributed top-k heap (TakeOrderedAndProject), never a global
    # rank window over the vocab-sized score table
    return (
        scores.orderBy(F.col("score").desc(), "word")
        .limit(_RAKE_TOPK)
        .select(
            "word", F.col("freq").cast("bigint").alias("freq"), "degree", "score"
        )
    )


@query(
    "q_text_repetition",
    oracle=f"""
    WITH shingles AS ({text.SHINGLES_SQL})
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT shingle) AS BIGINT) AS n_distinct,
           round(1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*), 6)
               AS rep_ratio
    FROM shingles GROUP BY doc_id
    """,
    tags=("llm", "quality"),
)
def q_text_repetition(spark: SparkSession, d: str):
    """Duplicate-3-gram repetition ratio per document — the Gopher/C4
    corpus-quality rule that catches boilerplate and degenerate
    repetition (high ratio = the same phrases loop). One shingle
    explode + one groupBy; COUNT DISTINCT expands to the standard
    two-phase aggregate. Docs under 3 tokens have no 3-grams and drop
    out on both engines."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    sh = text.shingles_from_docs(docs)
    return sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.round(
            1.0 - F.countDistinct("shingle").cast("double") / F.count(F.lit(1)), 6
        ).alias("rep_ratio"),
    )


@query(
    "q_text_logprob",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word
        FROM documents
    ),
    freq AS (SELECT word, COUNT(*) AS cnt FROM toks GROUP BY word),
    total AS (SELECT COUNT(*) AS t FROM toks),
    scored AS (
        SELECT tk.doc_id,
               round(ln(CAST(f.cnt AS DOUBLE) / total.t), 6) AS lp
        FROM toks tk JOIN freq f ON tk.word = f.word CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(CAST(ROUND(SUM(CAST(lp AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    tags=("llm", "quality"),
)
def q_text_logprob(spark: SparkSession, d: str):
    """Unigram log-probability score per document — the language-model
    filtering proxy (low average log-prob ≈ gibberish / OCR noise /
    wrong-language text). Corpus word frequencies broadcast back onto
    the token stream; each token's ln(p) is rounded to 6 dp FIRST (so
    both engines sum identical doubles), then summed exactly in
    decimal and averaged. Two shuffles: word-frequency groupBy and the
    per-doc aggregate."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    toks = text.words(docs).select("doc_id", "word")
    freq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("t"))
    lp = F.round(F.log(F.col("cnt").cast("double") / F.col("t")), 6)
    return (
        toks.join(F.broadcast(freq), "word")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.round(F.sum(F.col("lp").cast("decimal(38,10)")), 6).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


_BPE_TOPK = 10


@query(
    "q_bpe_merge_step",
    oracle=f"""
    WITH wc AS (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS n
        FROM (
            SELECT unnest(list_filter(string_split(text, ' '), w -> w != ''))
                       AS word
            FROM documents
        ) GROUP BY word
    ),
    pairs AS (
        SELECT substr(word, i, 2) AS pair, n
        FROM wc, UNNEST(generate_series(1, len(word) - 1)) AS t(i)
        WHERE len(word) >= 2
    ),
    scored AS (
        SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count
        FROM pairs GROUP BY pair
        ORDER BY pair_count DESC, pair LIMIT {_BPE_TOPK}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
               AS rank,
           pair, pair_count,
           FIRST_VALUE(pair) OVER (ORDER BY pair_count DESC, pair)
               AS chosen_merge
    FROM scored
    ORDER BY rank
    """,
    tags=("llm", "tokenizer"),
)
def q_bpe_merge_step(spark: SparkSession, d: str):
    """One BPE training step: count every adjacent character pair
    across the corpus (weighted by word frequency) and pick the most
    frequent pair as the next merge — the inner loop of byte-pair-
    encoding tokenizer training, reported with the top-10 candidate
    pairs. (q_text_bpe applies a trained BPE-ish segmentation; this
    is the op that TRAINS one.)

    Scale shape: the corpus collapses to the word-frequency table
    FIRST (vocab-bounded), so pair generation explodes distinct words
    only — a corpus of any size costs one word-count aggregation plus
    vocab x word-length pair rows. The pair census is
    alphabet²-bounded; top-k is TakeOrderedAndProject."""
    docs = load_table(spark, d, "documents")
    wc = (
        docs.select(F.explode(text.tokens()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.length("word") >= 2)
    )
    pairs = wc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "n",
    )
    scored = (
        pairs.groupBy("pair")
        .agg(F.sum("n").cast("bigint").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(_BPE_TOPK)
    )
    w = Window.partitionBy(bounded_window_key("pair")).orderBy(
        F.col("pair_count").desc(), "pair"
    )
    return (
        scored.select(
            F.row_number().over(w).cast("bigint").alias("rank"),
            "pair",
            "pair_count",
            F.first("pair").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("chosen_merge"),
        )
        .orderBy("rank")
    )


_TC_PROFILE_K = 20  # trigrams per language profile


@query(
    "q_textcat_profiles",
    oracle=f"""
    WITH tri AS (
        SELECT doc_id, lang, substr(lower(text), i, 3) AS tg
        FROM documents,
             UNNEST(generate_series(1, len(text) - 2)) AS t(i)
        WHERE len(text) >= 3
    ),
    prof AS (
        SELECT lang, tg,
               CAST(COUNT(*) AS BIGINT) AS c,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY COUNT(*) DESC, tg) AS r
        FROM tri GROUP BY lang, tg
    ),
    top_prof AS (
        SELECT lang AS plang, tg FROM prof WHERE r <= {_TC_PROFILE_K}
    ),
    doc_tg AS (
        SELECT DISTINCT doc_id, lang, tg FROM tri
    ),
    scores AS (
        SELECT d.doc_id, d.lang AS actual_lang, p.plang,
               CAST(COUNT(*) AS BIGINT) AS hits
        FROM doc_tg d JOIN top_prof p ON p.tg = d.tg
        GROUP BY d.doc_id, d.lang, p.plang
    ),
    best AS (
        SELECT doc_id, actual_lang, plang AS predicted_lang
        FROM (
            SELECT doc_id, actual_lang, plang,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY hits DESC, plang) AS r
            FROM scores
        ) WHERE r = 1
    )
    SELECT actual_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM best
    GROUP BY actual_lang, predicted_lang
    ORDER BY actual_lang, predicted_lang
    """,
    tags=("llm", "langid"),
)
def q_textcat_profiles(spark: SparkSession, d: str):
    """Character-trigram language identification (the textcat / Cavnar-
    Trenkle algorithm, simplified): build a top-20 trigram profile per
    language from the corpus itself, classify each document to the
    profile sharing the most of its distinct trigrams, and report the
    confusion matrix against the actual labels — the self-supervised
    langid loop that needs no marker-word lexicon (complement of
    q_text_langid's lexicon heuristic and q_langid_confusion's
    evaluation of it).

    Scale shape: the trigram stream is chars-linear and aggregates to
    per-(lang, trigram) counts (bounded by langs x alphabet³); the
    top-20 profile table broadcasts onto the distinct doc-trigram
    stream; the per-doc argmax window is bounded at |langs| rows per
    doc. Ranking windows use fully tie-broken ORDER BYs throughout."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id").filter(F.length("text") >= 3)
    # Round 13: lower(text) is projected ONCE before the per-position
    # transform — inside the lambda it re-lowercased the whole document
    # per trigram position (O(len²) char work per doc). The position
    # sequence stays bounded by length(text), NOT length(lt): the
    # oracle generates positions from the original length and
    # substrings the lowered text, and Unicode lowercasing can change
    # a string's length (e.g. U+0130), so the two bounds must not be
    # conflated. Same trigrams, same counts.
    lowered = docs.select(
        "doc_id", "lang", F.lower("text").alias("lt"), F.length("text").alias("n0")
    )
    tri = lowered.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n0") - 2),
                lambda i: F.col("lt").substr(i, F.lit(3)),
            )
        ).alias("tg"),
    )
    # Round 12: not persisted — both consumers (profile census and
    # distinct doc-trigram stream) reuse the explode stage's exchanges
    # at runtime; measured 0.85x vs the persist.
    w_prof = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), "tg"
    )
    prof = (
        tri.groupBy("lang", "tg")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("r", F.row_number().over(w_prof))
        .filter(F.col("r") <= _TC_PROFILE_K)
        .select(F.col("lang").alias("plang"), "tg")
    )
    doc_tg = tri.select("doc_id", "lang", "tg").distinct()
    scores = (
        doc_tg.join(F.broadcast(prof), "tg")
        .groupBy("doc_id", F.col("lang").alias("actual_lang"), "plang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("hits").desc(), "plang"
    )
    best = (
        scores.withColumn("r", F.row_number().over(w_best))
        .filter(F.col("r") == 1)
        .select("actual_lang", F.col("plang").alias("predicted_lang"))
    )
    return (
        best.groupBy("actual_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("actual_lang", "predicted_lang")
    )


@query(
    "q_gopher_rules",
    oracle="""
    WITH feats AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_words,
               CASE WHEN len(list_filter(string_split(text, ' '), w -> w != '')) > 0
                    THEN len(replace(text, ' ', ''))
                         / CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
                                AS DOUBLE)
                    ELSE 0 END AS mean_word_len,
               CASE WHEN len(text) > 0
                    THEN (len(text) - len(regexp_replace(text, '[^a-z ]', '', 'g')))
                         / CAST(len(text) AS DOUBLE)
                    ELSE 0 END AS symbol_ratio,
               CASE WHEN text LIKE '%the%' OR text LIKE '%a %'
                     OR text LIKE '%of %' OR text LIKE '%to %'
                     OR text LIKE '%and %' THEN 1 ELSE 0 END AS has_stopword
        FROM documents
    ),
    gated AS (
        SELECT doc_id,
               CASE WHEN n_words BETWEEN 15 AND 100000 THEN 0 ELSE 1 END AS f_words,
               CASE WHEN mean_word_len BETWEEN 2.0 AND 10.0 THEN 0 ELSE 1 END AS f_wlen,
               CASE WHEN symbol_ratio <= 0.1 THEN 0 ELSE 1 END AS f_symbol,
               CASE WHEN has_stopword = 1 THEN 0 ELSE 1 END AS f_stop
        FROM feats
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_words) AS BIGINT) AS fail_word_count,
           CAST(SUM(f_wlen) AS BIGINT) AS fail_mean_word_len,
           CAST(SUM(f_symbol) AS BIGINT) AS fail_symbol_ratio,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stopword,
           CAST(COUNT(*) FILTER (WHERE f_words + f_wlen + f_symbol + f_stop = 0)
                AS BIGINT) AS n_pass_all,
           round(COUNT(*) FILTER (WHERE f_words + f_wlen + f_symbol + f_stop = 0)
                 / CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 6) AS pass_rate
    FROM gated
    """,
    tags=("llm", "quality"),
)
def q_gopher_rules(spark: SparkSession, d: str):
    """Gopher-style quality-rule census: word-count bounds, mean word
    length bounds, symbol-character ratio, and stopword presence —
    evaluated per document in one pass, reported as per-rule failure
    counts plus the pass-all rate. The rule-based pre-filter
    (Gopher/C4 heuristics, public) that runs before any learned
    quality classifier; per-rule counts are what you tune the
    thresholds against.

    One scan, one ungrouped aggregation; every feature is a pure
    column expression (no UDFs); ratios are single divisions compared
    against literals, so the gate decisions are engine-exact without
    rounding."""
    return gopher_rules_census(load_table(spark, d, "documents"))


def gopher_rules_census(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs

    n_words = F.size(text.tokens())
    mean_wlen = F.when(
        n_words > 0,
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
        / n_words.cast("double"),
    ).otherwise(0.0)
    symbol_ratio = F.when(
        F.length("text") > 0,
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[^a-z ]", ""))
        )
        / F.length("text").cast("double"),
    ).otherwise(0.0)
    has_stop = (
        F.col("text").like("%the%")
        | F.col("text").like("%a %")
        | F.col("text").like("%of %")
        | F.col("text").like("%to %")
        | F.col("text").like("%and %")
    )
    gated = docs.select(
        F.when(n_words.between(15, 100000), 0).otherwise(1).alias("f_words"),
        F.when(mean_wlen.between(2.0, 10.0), 0).otherwise(1).alias("f_wlen"),
        F.when(symbol_ratio <= 0.1, 0).otherwise(1).alias("f_symbol"),
        F.when(has_stop, 0).otherwise(1).alias("f_stop"),
    )
    all_pass = (
        F.col("f_words") + F.col("f_wlen") + F.col("f_symbol") + F.col("f_stop")
        == 0
    )
    return gated.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("f_words").cast("bigint").alias("fail_word_count"),
        F.sum("f_wlen").cast("bigint").alias("fail_mean_word_len"),
        F.sum("f_symbol").cast("bigint").alias("fail_symbol_ratio"),
        F.sum("f_stop").cast("bigint").alias("fail_stopword"),
        F.count(F.when(all_pass, 1)).alias("n_pass_all"),
        F.round(
            F.count(F.when(all_pass, 1))
            / F.nullif(F.count(F.lit(1)).cast("double"), F.lit(0.0)),
            6,
        ).alias("pass_rate"),
    )


_JSD_VOCAB = 200


@query(
    "q_jsd",
    oracle=f"""
    WITH words AS (
        SELECT source,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents WHERE source IN ('src0', 'src1')
    ),
    vocab AS (
        SELECT word FROM words GROUP BY word
        ORDER BY COUNT(*) DESC, word LIMIT {_JSD_VOCAB}
    ),
    counts AS (
        SELECT w.word,
               CAST(COUNT(*) FILTER (WHERE source = 'src0') AS BIGINT) AS ca,
               CAST(COUNT(*) FILTER (WHERE source = 'src1') AS BIGINT) AS cb
        FROM words w JOIN vocab v ON v.word = w.word
        GROUP BY w.word
    ),
    tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb, COUNT(*) AS nw FROM counts),
    terms AS (
        SELECT nw,
               CASE WHEN ca > 0 THEN
                 round(0.5 * (ca / CAST(ta AS DOUBLE))
                       * ln((ca / CAST(ta AS DOUBLE))
                            / (0.5 * ca / CAST(ta AS DOUBLE)
                               + 0.5 * cb / CAST(tb AS DOUBLE))), 9)
               ELSE 0.0 END AS term_a,
               CASE WHEN cb > 0 THEN
                 round(0.5 * (cb / CAST(tb AS DOUBLE))
                       * ln((cb / CAST(tb AS DOUBLE))
                            / (0.5 * ca / CAST(ta AS DOUBLE)
                               + 0.5 * cb / CAST(tb AS DOUBLE))), 9)
               ELSE 0.0 END AS term_b
        FROM counts CROSS JOIN tot
    )
    SELECT CAST(MIN(nw) AS BIGINT) AS n_words,
           round({dsum_sql('term_a + term_b')}, 6) AS jsd,
           round({dsum_sql('term_a + term_b')} / ln(2), 6) AS jsd_normalized
    FROM terms
    """,
    tags=("corpus", "drift"),
)
def q_jsd(spark: SparkSession, d: str):
    """Jensen-Shannon divergence between the src0 and src1 unigram
    distributions over the shared top-200 vocabulary — the symmetric,
    bounded corpus-similarity metric used to pick mixture partners
    and detect domain shift between crawl snapshots (0 = identical,
    ln 2 = disjoint).

    The token stream aggregates to a vocab-bounded count table once;
    all divergence arithmetic runs on those <= 200 rows. Each KL term
    is rounded per-element then exact-summed (ALIGNMENT); zero-count
    words contribute 0 exactly (the p·ln(p/m) limit), keeping JSD
    finite without epsilons."""
    docs = load_table(spark, d, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    words = docs.select("source", F.explode(text.tokens()).alias("word"))
    words = track(words.persist())
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(_JSD_VOCAB)
        .select("word")
    )
    counts = (
        words.join(F.broadcast(vocab), "word")
        .groupBy("word")
        .agg(
            F.count(F.when(F.col("source") == "src0", 1)).alias("ca"),
            F.count(F.when(F.col("source") == "src1", 1)).alias("cb"),
        )
    )
    tot = counts.agg(
        F.sum("ca").alias("ta"),
        F.sum("cb").alias("tb"),
        F.count(F.lit(1)).alias("nw"),
    )
    pa = F.col("ca") / F.col("ta").cast("double")
    pb = F.col("cb") / F.col("tb").cast("double")
    m = 0.5 * pa + 0.5 * pb
    term_a = F.when(
        F.col("ca") > 0, F.round(0.5 * pa * F.log(pa / m), 9)
    ).otherwise(0.0)
    term_b = F.when(
        F.col("cb") > 0, F.round(0.5 * pb * F.log(pb / m), 9)
    ).otherwise(0.0)
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "nw", term_a.alias("term_a"), term_b.alias("term_b")
    )
    jsd = dsum(F.col("term_a") + F.col("term_b"))
    return terms.agg(
        F.min("nw").cast("bigint").alias("n_words"),
        F.round(jsd, 6).alias("jsd"),
        F.round(jsd / F.log(F.lit(2.0)), 6).alias("jsd_normalized"),
    )
