"""Retrieval and corpus-mixing operators: dense RAG retrieval, BM25
lexical retrieval and their reciprocal-rank fusion, grid-cell kNN,
boilerplate n-gram detection (the CCNet-style repeated-shingle
hygiene pass), temperature-scaled domain mixture weights (the
multinomial-sampling schedule LLM pretraining mixes corpora with),
and top-k user journey paths.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import bounded_window_key
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.registry import query

# BM25 constants (standard Robertson defaults) and a fixed lexical
# query; in production the terms arrive per-request.
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TERMS = ("spark", "join", "window")
_BM25_TOPK = 10

# Shared CTE chain producing the per-document BM25 score for the fixed
# lexical query — used by the q_rag_bm25 oracle and by q_rrf_fusion's
# fused-ranking oracle (below) so the two can never drift.
BM25_SCORED_SQL = f"""
    t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w != '') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM t),
    st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS word FROM t),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM tok
        WHERE word IN {repr(_BM25_TERMS)}
        GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfr FROM tf GROUP BY word),
    scored AS (
        SELECT tf.doc_id,
               SUM(LN(1 + (st.n - dfreq.dfr + 0.5) / (dfreq.dfr + 0.5))
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                            + {_BM25_B} * dl.dl / st.avgdl)))
                   AS score,
               COUNT(*) AS n_terms_hit
        FROM tf
        JOIN dfreq USING (word)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN st
        GROUP BY tf.doc_id
    )
"""


def bm25_scored(spark: SparkSession, d: str):
    """Per-document BM25 score (unrounded) for the fixed query — the
    Spark twin of ``BM25_SCORED_SQL``. Candidate-docs-sized output:
    only documents containing at least one query term appear."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    dl = docs.select("doc_id", F.size(toks).alias("dl"))
    st = dl.agg(F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        docs.select("doc_id", F.explode(toks).alias("word"))
        .filter(F.col("word").isin(*_BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dfr"))
    idf = F.log(
        1 + (F.col("n") - F.col("dfr") + 0.5) / (F.col("dfr") + 0.5)
    )
    denom = F.col("tf") + _BM25_K1 * (
        1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.sum(idf * F.col("tf") * (_BM25_K1 + 1) / denom).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )


@query(
    "q_rag_bm25",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w != '') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM t),
    st AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(toks) AS word FROM t),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM tok
        WHERE word IN {repr(_BM25_TERMS)}
        GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS dfr FROM tf GROUP BY word),
    scored AS (
        SELECT tf.doc_id,
               SUM(LN(1 + (st.n - dfreq.dfr + 0.5) / (dfreq.dfr + 0.5))
                   * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                                            + {_BM25_B} * dl.dl / st.avgdl)))
                   AS score,
               COUNT(*) AS n_terms_hit
        FROM tf
        JOIN dfreq USING (word)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN st
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(score, 6) AS score, n_terms_hit
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
    tags=("retrieval", "text", "llm"),
)
def q_rag_bm25(spark: SparkSession, d: str):
    """BM25 top-k lexical retrieval (Lucene idf form:
    ln(1 + (N − df + 0.5)/(df + 0.5))) — the sparse-retrieval
    complement of the dense-embedding q_rag_retrieve path; real RAG
    stacks run both and fuse.

    Shuffle budget: the term-frequency table exists only for the
    query's terms (three words → candidate-docs-sized, not
    corpus-sized), document length is a doc-keyed aggregate joined
    doc-keyed, and the per-term document frequencies and the (N,
    avgdl) corpus stats are 1-to-3-row broadcasts. The corpus is
    scanned once; top-k leaves via TakeOrderedAndProject. Ranking
    compares the ROUNDED score with a doc_id tiebreak on both engines
    (ALIGNMENT.md ranking rule)."""
    return (
        bm25_scored(spark, d)
        .select("doc_id", F.round("score", 6).alias("score"), "n_terms_hit")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# Boilerplate detection: shingle width and the document-frequency
# threshold above which a shingle counts as boilerplate.
_BP_N = 5
_BP_DF = 3


@query(
    "q_boilerplate_ngrams",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w != '') AS toks
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, len(toks) - {_BP_N - 1}),
                   i -> array_to_string(toks[i:i + {_BP_N - 1}], ' ')))
                   AS gram
        FROM t
        WHERE len(toks) >= {_BP_N}
    ),
    gdf AS (SELECT gram, COUNT(*) AS dfr FROM g GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN gdf.dfr >= {_BP_DF} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boiler,
           round(SUM(CASE WHEN gdf.dfr >= {_BP_DF} THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS boiler_frac
    FROM g JOIN gdf USING (gram)
    GROUP BY g.doc_id
    """,
    tags=("corpus", "text", "dedup"),
)
def q_boilerplate_ngrams(spark: SparkSession, d: str):
    """Per-document boilerplate fraction: the share of a document's
    distinct 5-gram shingles that occur in >= 3 documents — the
    repeated-template detector (headers, footers, navigation chrome)
    that CCNet-style pipelines run between exact dedup and quality
    filtering. Documents shorter than one shingle drop out (no
    denominator).

    The (doc, gram) relation is distinct-deduped before counting so a
    gram repeated WITHIN one document counts once toward its document
    frequency. The gram→df table is corpus-vocabulary-sized; the join
    back is gram-keyed (sort-merge at scale). The 100 TB shortcut the
    docstring contract allows: filter gdf to df >= threshold first —
    the BOILERPLATE gram set is orders of magnitude smaller than the
    full shingle vocabulary and usually broadcastable; a left join
    against it plus the doc's own gram count gives the same fraction
    with no full-vocabulary shuffle."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    tokenized = docs.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size(F.col("toks")) >= _BP_N,
        F.expr(
            f"transform(sequence(1, size(toks) - {_BP_N - 1}),"
            f" i -> array_join(slice(toks, i, {_BP_N}), ' '))"
        ),
    ).otherwise(F.expr("array()"))
    dg = (
        tokenized.select("doc_id", F.explode(grams).alias("gram")).distinct()
    )
    gdf = dg.groupBy("gram").agg(F.count(F.lit(1)).alias("dfr"))
    boiler = F.sum(F.when(F.col("dfr") >= _BP_DF, 1).otherwise(0))
    return (
        dg.join(gdf, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            boiler.cast("long").alias("n_boiler"),
            F.round(boiler / F.count(F.lit(1)), 6).alias("boiler_frac"),
        )
    )


# Temperature-scaled mixture: weight_i ∝ n_i^alpha, the sampling
# schedule that upweights small domains (alpha < 1) when mixing
# pretraining corpora.
_MIX_ALPHA = 0.5
_MIX_BUDGET = 100000


@query(
    "q_mix_temperature",
    oracle=f"""
    WITH src AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(list_filter(string_split(text, ' '),
                                        w -> w != ''))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(POW(n_docs, {_MIX_ALPHA})) AS z FROM src)
    SELECT source, n_docs, n_tokens,
           round(POW(n_docs, {_MIX_ALPHA}) / z, 6) AS weight,
           CAST(FLOOR(POW(n_docs, {_MIX_ALPHA}) / z * {_MIX_BUDGET})
                AS BIGINT) AS docs_per_100k
    FROM src, tot
    ORDER BY source
    """,
    tags=("corpus", "mixing"),
)
def q_mix_temperature(spark: SparkSession, d: str):
    """Temperature-scaled domain mixture plan: per-source sampling
    weight ∝ n_docs^0.5, normalized, with the integer per-100k-draw
    allocation — the alpha-sampling schedule multilingual/multi-domain
    pretraining uses to keep large domains from drowning small ones
    (alpha=1 is proportional, alpha→0 is uniform).

    One source-keyed aggregation (sources-sized output), a 1-row
    normalizer broadcast back — the corpus is scanned once regardless
    of size. The integer allocation FLOORs on both engines (half-up
    vs banker's rounding never enters)."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    src = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(toks)).cast("long").alias("n_tokens"),
    )
    z = src.agg(F.sum(F.pow("n_docs", _MIX_ALPHA)).alias("z"))
    w = F.pow("n_docs", _MIX_ALPHA) / F.col("z")
    return (
        src.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(w, 6).alias("weight"),
            F.floor(w * _MIX_BUDGET).cast("long").alias("docs_per_100k"),
        )
        .orderBy("source")
    )


_PATH_LEN = 3
_PATH_TOPK = 10


@query(
    "q_path_topk",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM ranked WHERE rn <= {_PATH_LEN}
        GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT {_PATH_TOPK}
    """,
    tags=("events", "sequence"),
)
def q_path_topk(spark: SparkSession, d: str):
    """Top-10 opening user journeys: each user's first three event
    types (by timestamp, event_id tiebreak) joined into a path string,
    counted across users — the 'how do sessions start' report of
    product analytics.

    The rank window is user-keyed (bounded per user), the path build
    is a user-keyed ordered aggregation over ≤ 3 rows each, and only
    the paths-sized count table reaches the final top-k heap."""
    e = load_table(spark, d, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= _PATH_LEN)
    paths = ranked.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct("rn", "event_type"))
            ).getField("event_type"),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(_PATH_TOPK)
    )


# Gap-based sessionization: a new session starts after 30 minutes of
# inactivity (the industry-default web session boundary).
_SESS_GAP_S = 1800


@query(
    "q_sessionize",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, ts,
               LAG(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN prev_ts IS NULL
                         OR date_diff('second', prev_ts, ts) > {_SESS_GAP_S}
                    THEN 1 ELSE 0 END AS new_sess
        FROM seq
    ),
    sess AS (
        SELECT user_id, event_id, ts,
               SUM(new_sess) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM flagged
    )
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
               AS duration_s
    FROM sess
    GROUP BY user_id, session_seq
    """,
    tags=("events", "session"),
)
def q_sessionize(spark: SparkSession, d: str):
    """Gap-based sessionization: per user, a new session begins
    whenever more than 30 minutes separate consecutive events; the
    classic flag + running-sum assignment yields a per-user session
    sequence number, then per-session event counts and durations —
    the complement of q_win_session's fixed-window grouping (gap
    sessions follow activity, window sessions follow the clock).

    Both windows are user-partitioned and ordered (ts, event_id) —
    bounded per user, one shuffle total shared by flag and running
    sum; the session rollup is (user, session)-keyed. Gap comparison
    and duration use integer epoch-second differences on both engines
    (no sub-second float divergence)."""
    return sessionize_report(load_table(spark, d, "events"))


def sessionize_report(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull() | (gap_s > _SESS_GAP_S), 1
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = flagged.select(
        "user_id",
        "event_id",
        "ts",
        F.sum("new_sess").over(w_cum).alias("session_seq"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("long")
        .alias("duration_s"),
    )


# Novelty analysis shingle width.
_NOV_N = 3


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), w -> w != '') AS toks
        FROM documents
    ),
    g AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   generate_series(1, len(toks) - {_NOV_N - 1}),
                   i -> array_to_string(toks[i:i + {_NOV_N - 1}], ' ')))
                   AS gram
        FROM t
        WHERE len(toks) >= {_NOV_N}
    ),
    firsts AS (SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN firsts.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(SUM(CASE WHEN firsts.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS novelty_frac
    FROM g JOIN firsts USING (gram)
    GROUP BY g.doc_id
    """,
    tags=("corpus", "text", "dedup"),
)
def q_ngram_novelty(spark: SparkSession, d: str):
    """Per-document n-gram novelty: the fraction of a document's
    distinct 3-gram shingles whose FIRST corpus occurrence (minimum
    doc_id — in production, earliest ingest time) is this document —
    the marginal-contribution measure dedup research uses to decide
    whether a document adds anything the corpus doesn't already have
    (near-1 → fresh content, near-0 → recombination of known text).

    Same bounded dataflow as q_boilerplate_ngrams: distinct (doc,
    gram) pairs, a gram-keyed MIN to find first owners (map-side
    combined), a gram-keyed join back, and a doc-keyed rollup —
    nothing quadratic, no global window anywhere."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    tokenized = docs.select("doc_id", toks.alias("toks"))
    grams = F.when(
        F.size(F.col("toks")) >= _NOV_N,
        F.expr(
            f"transform(sequence(1, size(toks) - {_NOV_N - 1}),"
            f" i -> array_join(slice(toks, i, {_NOV_N}), ' '))"
        ),
    ).otherwise(F.expr("array()"))
    dg = (
        tokenized.select("doc_id", F.explode(grams).alias("gram")).distinct()
    )
    firsts = dg.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        dg.join(firsts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.cast("long").alias("n_novel"),
            F.round(novel / F.count(F.lit(1)), 6).alias("novelty_frac"),
        )
    )


# Reciprocal-rank fusion: the standard k=60 damping constant and the
# per-list candidate depth.
_RRF_K = 60
_RRF_N = 20

_RRF_ORACLE = f"""
    WITH {BM25_SCORED_SQL},
    lex_top AS (
        SELECT doc_id, round(score, 6) AS s
        FROM scored ORDER BY s DESC, doc_id LIMIT {_RRF_N}
    ),
    lex AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r_lex
        FROM lex_top
    ),
    ev AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    qv AS (SELECT i, x AS qx FROM ev WHERE vec_id = 0),
    dots AS (
        SELECT e.vec_id, SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev e JOIN qv q USING (i) GROUP BY e.vec_id
    ),
    nq AS (SELECT SUM(qx * qx) AS nq FROM qv),
    sem_top AS (
        SELECT d.vec_id AS doc_id,
               round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
        FROM dots d, nq WHERE d.vec_id != 0
        ORDER BY sim DESC, doc_id LIMIT {_RRF_N}
    ),
    sem AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS r_sem
        FROM sem_top
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, r_lex, r_sem,
           round(COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + r_lex), 0)
                 + COALESCE(CAST(1 AS DOUBLE) / ({_RRF_K} + r_sem), 0),
                 6) AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
"""


@query(
    "q_rrf_fusion",
    oracle=_RRF_ORACLE,
    tags=("retrieval", "llm", "composite"),
)
def q_rrf_fusion(spark: SparkSession, d: str):
    """Reciprocal-rank fusion (RRF) of the lexical BM25 top-20 and the
    dense cosine top-20 for the fixed query: score(d) = Σ_lists
    1/(k + rank_list(d)), the standard hybrid-retrieval merge. Shares
    q_rag_bm25's scoring helper (``retrieval.bm25_scored``) and
    q_rag_retrieve's cosine shape, so the fused ranking is consistent
    with both single-mode paths.

    Scale shape: each list is cut to its top-N FIRST via
    TakeOrderedAndProject (per-partition heaps), so the rank-assigning
    global window runs over ≤N rows — bounded by construction, never
    corpus-sized. The fusion join is a ≤2N-row full outer join.
    Ranking uses the ALIGNMENT.md rule: ROUNDED score desc with id
    tiebreak, identical on both engines."""
    lex_top = (
        bm25_scored(spark, d)
        .select("doc_id", F.round("score", 6).alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(_RRF_N)
    )
    lex = lex_top.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(bounded_window_key("doc_id")).orderBy(
                F.col("s").desc(), "doc_id"
            )
        )
        .cast("long")
        .alias("r_lex"),
    )

    e = load_table(spark, d, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sem_top = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(_RRF_N)
    )
    sem = sem_top.select(
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy(bounded_window_key("doc_id")).orderBy(
                F.col("sim").desc(), "doc_id"
            )
        )
        .cast("long")
        .alias("r_sem"),
    )

    one = F.lit(1.0)
    fused = lex.join(sem, "doc_id", "full")
    return fused.select(
        "doc_id",
        "r_lex",
        "r_sem",
        F.round(
            F.coalesce(one / (_RRF_K + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(one / (_RRF_K + F.col("r_sem")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )


@query(
    "q_rag_retrieve",
    oracle="""
    WITH ev AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    qv AS (SELECT i, x AS qx FROM ev WHERE vec_id = 0),
    dots AS (
        SELECT e.vec_id, SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev e JOIN qv q USING (i) GROUP BY e.vec_id
    ),
    nq AS (SELECT SUM(qx * qx) AS nq FROM qv),
    sims AS (
        SELECT d.vec_id, round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
        FROM dots d, nq WHERE d.vec_id != 0
    )
    SELECT doc.doc_id, doc.lang, s.sim, left(doc.text, 40) AS snippet
    FROM sims s
    JOIN documents doc ON doc.doc_id = s.vec_id
    WHERE doc.lang IN ('en', 'es', 'de') AND doc.n_chars BETWEEN 100 AND 100000
    ORDER BY s.sim DESC, doc.doc_id
    LIMIT 10
    """,
    tags=("llm", "similarity", "composite"),
)
def q_rag_retrieve(spark: SparkSession, d: str):
    """End-to-end retrieval: corpus quality gate (language + length) ∘
    cosine similarity vs a query vector ∘ top-k with text payload —
    the full RAG retrieval path in one declarative plan. The quality
    filter pushes into the documents scan BEFORE the embedding join
    prunes the similarity work; top-k is a TakeOrderedAndProject
    (per-partition heaps, no global sort). At scale the sims stage is
    replaced by the IVF probe (q_sim_ivf) — the surrounding plan is
    unchanged."""
    docs = load_table(spark, d, "documents").filter(
        F.col("lang").isin("en", "es", "de")
        & F.col("n_chars").between(100, 100000)
    )
    e = load_table(spark, d, "embeddings")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .join(docs, e.vec_id == docs.doc_id)
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "lang",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
            F.left("text", F.lit(40)).alias("snippet"),
        )
        .orderBy(F.col("sim").desc(), "doc_id")
        .limit(10)
    )


# Geo kNN: synthetic deterministic coordinates, 10-degree grid cells,
# 3x3 neighborhood probe, top-5 per probe.
_GEO_CELL_DEG = 10
_GEO_TOPK = 5
_GEO_PROBES = ((1, 37.77, -122.42), (2, 51.5, -0.13), (3, -33.87, 151.21))
_GEO_R_KM = 6371.0


def _geo_probes_sql() -> str:
    rows = ", ".join(
        f"({pid}, CAST({lat} AS DOUBLE), CAST({lon} AS DOUBLE))"
        for pid, lat, lon in _GEO_PROBES
    )
    return f"(VALUES {rows}) AS probes(pid, plat, plon)"


@query(
    "q_geo_cell_knn",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey,
               (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
               (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        FROM customer
    ),
    cand AS (
        SELECT probes.pid, probes.plat, probes.plon,
               t.c_custkey, t.lat, t.lon
        FROM pts t, {_geo_probes_sql()}
        WHERE abs(CAST(floor(t.lat / {_GEO_CELL_DEG}) AS BIGINT)
                  - CAST(floor(probes.plat / {_GEO_CELL_DEG}) AS BIGINT)) <= 1
          AND abs(CAST(floor(t.lon / {_GEO_CELL_DEG}) AS BIGINT)
                  - CAST(floor(probes.plon / {_GEO_CELL_DEG}) AS BIGINT)) <= 1
    ),
    dists AS (
        SELECT pid, c_custkey,
               round(2 * {_GEO_R_KM} * asin(sqrt(
                   sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
                   + cos(radians(plat)) * cos(radians(lat))
                     * sin(radians(lon - plon) / 2)
                     * sin(radians(lon - plon) / 2))), 6) AS d_km
        FROM cand
    )
    SELECT pid AS probe_id, c_custkey, d_km,
           CAST(rn AS BIGINT) AS rank_n
    FROM (
        SELECT pid, c_custkey, d_km,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY d_km, c_custkey) AS rn
        FROM dists
    ) WHERE rn <= {_GEO_TOPK}
    """,
    tags=("geo", "similarity"),
)
def q_geo_cell_knn(spark: SparkSession, d: str):
    """Grid-cell k-nearest-neighbor search: deterministic synthetic
    coordinates per customer, a 10° lat/lon grid, and per-probe
    candidate generation restricted to the probe's 3×3 cell
    neighborhood before the exact haversine top-5 — the geospatial
    instance of the bucket-then-verify pattern (q_sim_ivf's probe, on
    a grid instead of learned centroids). The neighborhood scan is
    the documented semantic (candidates beyond ~10° are not
    considered), matching production geo indexes that probe a fixed
    ring of cells; distances compare ROUNDED with a key tiebreak.

    Scale shape: probes are a literal broadcast; the cell filter is a
    pair of integer predicates that push into the scan, pruning
    parquet row groups when the table is laid out cell-ordered (the
    q_zorder_key layout makes exactly this query fast); the per-probe
    rank window is bounded by 9-cell occupancy. Antimeridian wrap is
    out of scope and documented (probe cells sit away from ±180°)."""
    pts = load_table(spark, d, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    probes = spark.createDataFrame(
        list(_GEO_PROBES), "pid int, plat double, plon double"
    )
    cell = lambda c: F.floor(c / _GEO_CELL_DEG)  # noqa: E731
    cand = pts.crossJoin(F.broadcast(probes)).filter(
        (F.abs(cell(F.col("lat")) - cell(F.col("plat"))) <= 1)
        & (F.abs(cell(F.col("lon")) - cell(F.col("plon"))) <= 1)
    )
    sin_dlat = F.sin(F.radians(F.col("lat") - F.col("plat")) / 2)
    sin_dlon = F.sin(F.radians(F.col("lon") - F.col("plon")) / 2)
    hav = 2 * _GEO_R_KM * F.asin(
        F.sqrt(
            sin_dlat * sin_dlat
            + F.cos(F.radians(F.col("plat")))
            * F.cos(F.radians(F.col("lat")))
            * sin_dlon
            * sin_dlon
        )
    )
    dists = cand.select(
        "pid", "c_custkey", F.round(hav, 6).alias("d_km")
    )
    return (
        dists.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy("d_km", "c_custkey")
            ),
        )
        .filter(F.col("rn") <= _GEO_TOPK)
        .select(
            F.col("pid").alias("probe_id"),
            "c_custkey",
            "d_km",
            F.col("rn").cast("long").alias("rank_n"),
        )
    )
