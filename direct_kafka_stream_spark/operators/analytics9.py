"""Round-4 drift / corpus-comparison / lakehouse-ops additions:
Population Stability Index, Jensen-Shannon divergence between source
vocabularies, cross-source contamination pairs, small-file compaction
planning, and the navigation window-function surface.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import bounded_window_key, dsum, dsum_sql
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query

_PSI_BINS = 10
_PSI_EPS = 1e-6


@query(
    "q_psi",
    oracle=f"""
    WITH split AS (
        SELECT CAST(event_id % 2 AS INT) AS grp, value FROM events
    ),
    rng AS (
        SELECT MIN(value) AS lo, MAX(value) AS hi FROM split
    ),
    binned AS (
        SELECT grp,
               COALESCE(LEAST(CAST(FLOOR((value - lo)
                          / NULLIF((hi - lo) / {_PSI_BINS}, 0.0)) AS INT),
                     {_PSI_BINS - 1}), 0) AS bin
        FROM split CROSS JOIN rng
    ),
    counts AS (
        SELECT bin,
               CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS na,
               CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS nb
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT SUM(na) AS ta, SUM(nb) AS tb, COUNT(*) AS n_bins FROM counts
    ),
    terms AS (
        SELECT round((GREATEST(na / CAST(ta AS DOUBLE), {_PSI_EPS})
                      - GREATEST(nb / CAST(tb AS DOUBLE), {_PSI_EPS}))
                     * ln(GREATEST(na / CAST(ta AS DOUBLE), {_PSI_EPS})
                          / GREATEST(nb / CAST(tb AS DOUBLE), {_PSI_EPS})),
                     9) AS term,
               ta, tb, n_bins
        FROM counts CROSS JOIN tot
    )
    SELECT CAST(MIN(ta) AS BIGINT) AS n_a,
           CAST(MIN(tb) AS BIGINT) AS n_b,
           CAST(MIN(n_bins) AS BIGINT) AS n_bins,
           round({dsum_sql('term')}, 6) AS psi
    FROM terms
    """,
    tags=("monitoring", "drift"),
)
def q_psi(spark: SparkSession, d: str):
    """Population Stability Index between two deterministic halves of
    the value distribution (event_id parity — an A/A split, so the
    expected PSI is ~0; the same operator pointed at train-vs-serve
    slices is THE feature-drift gate in model monitoring; companion
    to q_drift_ks_binned's KS form).

    Equi-width bins from a 2-value broadcast range; per-bin shares
    with the standard epsilon floor so empty bins stay finite; each
    (pa-pb)·ln(pa/pb) term is rounded per-element (ALIGNMENT: round
    the transcendental, then exact-sum) over the bins-bounded table."""
    e = load_table(spark, d, "events")
    split = e.select(
        (F.col("event_id") % 2).cast("int").alias("grp"), "value"
    )
    rng = split.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    # NULLIF + COALESCE: a constant column has zero bin width — every
    # row lands in bin 0 instead of an ANSI divide-by-zero abort
    width = F.nullif((F.col("hi") - F.col("lo")) / _PSI_BINS, F.lit(0.0))
    binned = split.crossJoin(F.broadcast(rng)).select(
        "grp",
        F.coalesce(
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("int"),
                F.lit(_PSI_BINS - 1),
            ),
            F.lit(0),
        ).alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("na"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("nb"),
    )
    tot = counts.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    pa = F.greatest(F.col("na") / F.col("ta").cast("double"), F.lit(_PSI_EPS))
    pb = F.greatest(F.col("nb") / F.col("tb").cast("double"), F.lit(_PSI_EPS))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        F.round((pa - pb) * F.log(pa / pb), 9).alias("term"),
        "ta",
        "tb",
        "n_bins",
    )
    return terms.agg(
        F.min("ta").cast("bigint").alias("n_a"),
        F.min("tb").cast("bigint").alias("n_b"),
        F.min("n_bins").cast("bigint").alias("n_bins"),
        F.round(dsum("term"), 6).alias("psi"),
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


_XS_MAX_DF = 10  # rare-gram blocking: ignore grams in > 10 docs
_XS_MIN_SHARED = 8  # pair threshold: >= 8 shared rare grams


@query(
    "q_dedup_cross_source",
    oracle=f"""
    WITH grams AS (
        SELECT DISTINCT doc_id, source,
               md5(word || ' ' || w1 || ' ' || w2 || ' ' || w3) AS gh
        FROM (
            SELECT doc_id, source, word,
                   LEAD(word, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
                   LEAD(word, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
                   LEAD(word, 3) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
            FROM (
                SELECT doc_id, source,
                       unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word,
                       generate_subscripts(list_filter(string_split(text, ' '), w -> w != ''), 1) AS pos
                FROM documents
            )
        ) WHERE w3 IS NOT NULL
    ),
    rare AS (
        SELECT gh FROM grams GROUP BY gh
        HAVING COUNT(DISTINCT doc_id) <= {_XS_MAX_DF}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, a.source AS src_a,
               b.doc_id AS doc_b, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM grams a
        JOIN rare r ON r.gh = a.gh
        JOIN grams b ON b.gh = a.gh AND b.doc_id > a.doc_id
                    AND b.source <> a.source
        GROUP BY a.doc_id, a.source, b.doc_id, b.source
        HAVING COUNT(*) >= {_XS_MIN_SHARED}
    )
    SELECT LEAST(src_a, src_b) AS source_x,
           GREATEST(src_a, src_b) AS source_y,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(n_shared) AS BIGINT) AS total_shared_grams
    FROM pairs
    GROUP BY LEAST(src_a, src_b), GREATEST(src_a, src_b)
    ORDER BY source_x, source_y
    """,
    tags=("llm", "dedup"),
)
def q_dedup_cross_source(spark: SparkSession, d: str):
    """Cross-source contamination census: document pairs from
    DIFFERENT sources sharing >= 8 rare 4-gram shingles, rolled up
    per source pair — the provenance-aware dedup view (intra-source
    duplication is expected mirroring; cross-source duplication is
    contamination that silently double-weights content in a training
    mix).

    Scale shape: the shingle stream dedups per (doc, gram) once;
    RARE-GRAM BLOCKING (document frequency <= 10, a gram-keyed
    filter) caps the join fan-out per gram before any pairing — the
    same bound that makes the decontamination path safe — and the
    pair aggregation is doc-pair-keyed. No similarity join ever sees
    a hot gram."""
    from direct_kafka_stream_spark.operators.llm2 import decon_gram_stream

    grams = decon_gram_stream(load_table(spark, d, "documents")).distinct()
    grams = track(grams.persist())
    rare = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") <= _XS_MAX_DF)
        .select("gh")
    )
    a = grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        "gh",
    ).join(rare, "gh")
    b = grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        "gh",
    )
    pairs = (
        a.join(b, "gh")
        .filter(
            (F.col("doc_b") > F.col("doc_a"))
            & (F.col("src_b") != F.col("src_a"))
        )
        .groupBy("doc_a", "src_a", "doc_b", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= _XS_MIN_SHARED)
    )
    return (
        pairs.groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("n_shared").cast("bigint").alias("total_shared_grams"),
        )
        .orderBy("source_x", "source_y")
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
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("long")
        % 16
    )
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


@query(
    "q_win_nav",
    oracle="""
    SELECT user_id, event_id, event_type,
           first_value(event_type) OVER w AS first_type,
           nth_value(value, 2) OVER w AS second_val,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS) OVER w AS last_purchase_val,
           COALESCE(lead(event_type) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id), 'END')
               AS next_type
    FROM events
    WHERE user_id % 50 = 0
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
    tags=("relational", "window"),
)
def q_win_nav(spark: SparkSession, d: str):
    """Navigation window-function surface: first_value, nth_value,
    IGNORE-NULLS last_value (running "most recent purchase amount" —
    the LOCF-of-a-subset pattern), and defaulted LEAD, all over one
    fully-tie-broken user window — the per-entity timeline enrichment
    every sessionized export runs.

    One user-keyed exchange serves all four functions (they share the
    window spec); the deterministic user sample (user_id % 50) bounds
    the output without changing the plan shape. The IGNORE NULLS
    variant is the portable trick for 'carry forward the last event
    of type X' without a second join."""
    e = load_table(spark, d, "events").filter(F.col("user_id") % 50 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        "event_type",
        F.first("event_type").over(w).alias("first_type"),
        F.nth_value("value", 2).over(w).alias("second_val"),
        F.last(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            ignorenulls=True,
        )
        .over(w)
        .alias("last_purchase_val"),
        F.coalesce(F.lead("event_type").over(w_lead), F.lit("END")).alias(
            "next_type"
        ),
    ).orderBy("user_id", "event_id")
