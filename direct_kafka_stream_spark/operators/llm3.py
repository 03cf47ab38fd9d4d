"""Round-4 LLM-corpus additions, part 3: a BPE merge-step training
primitive, char-trigram language profiles with nearest-profile
classification (the textcat algorithm), a MinHash threshold-sweep
duplicate curve, and the Gopher quality-rule census.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import bounded_window_key
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.registry import query

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


def _dup_curve_oracle() -> str:
    return f"""
    WITH shingles AS ({text.SHINGLES_SQL}),
    {similarity.SIGS_CTE_SQL},
    rows1 AS ({similarity.ROWS1_SELECT_SQL}),
    capped AS (
        SELECT doc_id, band, mh FROM (
            SELECT doc_id, band, mh,
                   COUNT(*) OVER (PARTITION BY band, mh) AS bn
            FROM rows1
        ) WHERE bn <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped AS a JOIN capped AS b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
    ),
    warr AS ({similarity.WARR_SQL}),
    jac AS (
        SELECT round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
                     / (len(wa.ws) + len(wb.ws)
                        - len(list_intersect(wa.ws, wb.ws))), 6) AS j
        FROM cand AS c
        JOIN warr AS wa ON wa.doc_id = c.doc_a
        JOIN warr AS wb ON wb.doc_id = c.doc_b
    ),
    taus(tau) AS (VALUES (0.3), (0.4), (0.5), (0.6), (0.7), (0.8), (0.9))
    SELECT tau,
           CAST(COUNT(*) FILTER (WHERE j >= tau) AS BIGINT) AS n_pairs_ge_tau
    FROM taus CROSS JOIN jac
    GROUP BY tau
    ORDER BY tau
    """


@query(
    "q_dup_threshold_curve",
    oracle=_dup_curve_oracle(),
    tags=("llm", "dedup"),
)
def q_dup_threshold_curve(spark: SparkSession, d: str):
    """Duplicate-rate-vs-threshold curve: exact Jaccard over the
    high-recall MinHash candidate set (the q_jaccard_pairs sweep),
    counted cumulatively at thresholds 0.3..0.9 — the policy curve a
    curation team reads before fixing the dedup threshold ("0.8 drops
    1.2% of pairs, 0.7 drops 4%").

    Reuses the skew-capped single-row-collision candidate machinery
    (bucket-scoped, never corpus²); the curve itself is a 7-literal
    threshold table against the pair similarities, all counts
    exact."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    # nothing persisted: AQE stage reuse recycles the signature/cap/
    # word-array exchanges (0.80x the time of persisting them, round 12)
    sigs = similarity.minhash_sigs(text.shingles_from_docs(docs))
    rows1 = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("band"), F.col(f"mh{j}").alias("mh"))
                    for j in range(similarity.N_MINHASH)
                ]
            )
        ).alias("e"),
    ).select("doc_id", F.col("e.band").alias("band"), F.col("e.mh").alias("mh"))
    wb = Window.partitionBy("band", "mh")
    capped = rows1.withColumn("bn", F.count(F.lit(1)).over(wb)).filter(
        F.col("bn") <= similarity.BUCKET_CAP
    )
    a, b = capped.alias("a"), capped.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    warr = similarity.word_arrays(docs)
    jac = similarity.jaccard_on_pairs(cand, warr, "doc_a", "doc_b").select(
        F.round("jaccard", 6).alias("j")
    )
    taus = spark.createDataFrame(
        [(t,) for t in (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)], "tau DOUBLE"
    )
    return (
        F.broadcast(taus)
        .crossJoin(jac)
        .groupBy("tau")
        .agg(
            F.count(F.when(F.col("j") >= F.col("tau"), 1)).alias(
                "n_pairs_ge_tau"
            )
        )
        .orderBy("tau")
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
