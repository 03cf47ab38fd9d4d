"""LLM-training-data pipeline operators (SURVEY.md §2.D + north star):
deduplication (exact hash, MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine, fuzzy, containment, set similarity, TF-IDF),
similarity search (brute-force top-k and an LSH-bucketed ANN variant),
text analysis (tokenize, stats, quality scoring, language-ID
heuristic, fingerprinting), and curation: chunking and packing,
sampling and splits, domain mixtures, decontamination and the whole
curation pipeline.

Everything is pure DataFrame algebra over JVM built-ins — no Python in
the hot path — and every hash is md5/sha256 (identical hex output in
Spark and DuckDB) so each operator is oracle-checkable.

Scale notes (100 TB of documents):
  * Exact dedup: hash-groupBy — one shuffle on the 64-hex digest,
    perfectly parallel, AQE handles skew (identical boilerplate docs).
  * MinHash+LSH: per-doc signatures are embarrassingly parallel; the
    candidate join shuffles on (band, minhash) — bucket sizes are the
    knob, never the corpus cross-join.
  * Brute-force cosine is the correctness baseline; the bucketed ANN
    variant prunes candidates by an LSH bucket so the per-query scan is
    corpus/`n_buckets`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import (
    DEC,
    U_DENOM,
    bounded_window_key,
    dsum_sql,
    md5_int,
    u01,
    u01_sql,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.graph import propagate_min_labels
from direct_kafka_stream_spark.registry import query

_STOPWORDS = ("the", "a", "of", "and", "to", "in")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "q_dedup_exact",
    oracle="""
    SELECT sha256(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, d: str):
    """Exact dedup: sha256(text) hash-groupBy, keep the lowest doc_id.
    One shuffle on the digest; at 100 TB you'd hash first and shuffle
    only (digest, doc_id), never the text."""
    return dedup_exact_keep_first(load_table(spark, d, "documents"))


def dedup_exact_keep_first(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    return (
        docs.withColumn("h", F.sha2("text", 256))
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "q_dedup_near",
    oracle=f"""
    WITH shingles AS ({text.SHINGLES_SQL}),
    {similarity.SIGS_CTE_SQL},
    bands AS ({similarity.BANDS_SELECT_SQL}),
    capped AS (
        SELECT doc_id, band, mh FROM (
            SELECT doc_id, band, mh,
                   COUNT(*) OVER (PARTITION BY band, mh) AS bn
            FROM bands
        ) WHERE bn <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped AS a JOIN capped AS b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
    ),
    warr AS ({similarity.WARR_SQL})
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
                 / (len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws))),
                 6) AS jaccard
    FROM cand AS c
    JOIN warr AS wa ON wa.doc_id = c.doc_a
    JOIN warr AS wb ON wb.doc_id = c.doc_b
    """,
    tags=("llm", "dedup"),
)
def q_dedup_near(spark: SparkSession, d: str):
    """MinHash + banded LSH near-dup candidates, verified with exact
    word-set Jaccard. Pipeline: 3-gram shingles → 16 minhashes (md5
    with per-function seed prefix — identical hex in both engines) →
    4 bands of 4 rows (candidate iff a whole band matches; S-curve
    ≈0.99 at shingle-Jaccard 0.9, ≈0.0004 at 0.1) → skew-capped
    (band, mh) self-join — the corpus is never cross-joined — → exact
    Jaccard via array_intersect on per-doc distinct-word arrays (a
    doc-count-sized join, not two corpus-sized word-fact joins)."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    cand = (
        similarity.minhash_band_edges(docs)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    )
    warr = track(similarity.word_arrays(docs).persist())
    return similarity.jaccard_on_pairs(cand, warr, "doc_a", "doc_b").select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


_SIMHASH_BITS = 16
_HI_HEX = tuple("89abcdef")


def _simhash_sql() -> str:
    bit_sums = ", ".join(
        "SUM(CASE WHEN substring(hx, {p}, 1) IN ({hi}) THEN 1 ELSE -1 END) AS s{i}".format(
            p=i + 1, hi=", ".join(f"'{c}'" for c in _HI_HEX), i=i
        )
        for i in range(_SIMHASH_BITS)
    )
    fp = " + ".join(f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS))
    return f"""
    WITH wset AS (SELECT DISTINCT doc_id, word FROM ({text.WORDS_SQL})),
    h AS (SELECT doc_id, md5(word) AS hx FROM wset),
    bits AS (SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM bits
    """


@query("q_dedup_simhash", oracle=_simhash_sql(), tags=("llm", "dedup"))
def q_dedup_simhash(spark: SparkSession, d: str):
    """SimHash document fingerprint (16-bit): each distinct word votes
    ±1 per bit position according to its md5 hex digit; the fingerprint
    packs the sign bits. Near-dups have small Hamming distance. One
    explode + one groupBy — linear in corpus size."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    wset = text.words(docs).select("doc_id", "word").distinct()
    h = wset.select("doc_id", F.md5("word").alias("hx"))
    bit_sums = [
        F.sum(
            F.when(F.substring("hx", i + 1, 1).isin(*_HI_HEX), 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(_SIMHASH_BITS)
    ]
    bits = h.groupBy("doc_id").agg(*bit_sums)
    fp = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
            for i in range(_SIMHASH_BITS)
        ],
    )
    return bits.select("doc_id", fp.cast("long").alias("simhash"))



@query(
    "q_jaccard_pairs",
    oracle=f"""
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
    warr AS ({similarity.WARR_SQL})
    SELECT c.doc_a, c.doc_b,
           round(CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
                 / (len(wa.ws) + len(wb.ws) - len(list_intersect(wa.ws, wb.ws))),
                 6) AS jaccard
    FROM cand AS c
    JOIN warr AS wa ON wa.doc_id = c.doc_a
    JOIN warr AS wb ON wb.doc_id = c.doc_b
    """,
    tags=("llm", "dedup"),
)
def q_jaccard_pairs(spark: SparkSession, d: str):
    """Exact word-set Jaccard over a HIGH-RECALL candidate set: a pair
    qualifies when ANY single one of the 16 minhash rows collides
    (recall 1-(1-s)^16 — ≈0.997 at Jaccard 0.3), each single-row bucket
    skew-capped at 64. This is the ground-truth sweep the banded
    q_dedup_near path is tuned against: near-exhaustive for moderate
    similarity yet still bucket-joined — the corpus is never
    cross-joined, unlike the round-1 sampled all-pairs baseline whose
    a.id < b.id join was quadratic by construction."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
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
    capped = track(
        rows1.withColumn("bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("bn") <= similarity.BUCKET_CAP)
        .persist()
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
    warr = track(similarity.word_arrays(docs).persist())
    return similarity.jaccard_on_pairs(cand, warr, "doc_a", "doc_b").select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query(
    "q_sim_cosine",
    oracle=similarity.cosine_vs_query_sql(0, where="d.vec_id != 0")
    + " ORDER BY sim DESC, d.vec_id LIMIT 20",
    tags=("llm", "similarity"),
)
def q_sim_cosine(spark: SparkSession, d: str):
    """Brute-force cosine top-k vs a query vector (vec_id 0) — the ANN
    correctness baseline. zip_with/aggregate keep the arithmetic
    JVM-side; the query vector is broadcast so the scan is a single
    pass, and top-k is TakeOrderedAndProject (per-partition heaps)."""
    e = load_table(spark, d, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(20)
    )


@query(
    "q_sim_knn_group",
    oracle=f"""
    WITH sims AS (
        SELECT e2.label, s.vec_id, s.sim
        FROM ({similarity.cosine_vs_query_sql(0, where="d.vec_id != 0")}) AS s
        JOIN embeddings AS e2 ON e2.vec_id = s.vec_id
    )
    SELECT label, vec_id, sim FROM (
        SELECT label, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY label
                                  ORDER BY sim DESC, vec_id) AS rn
        FROM sims
    ) WHERE rn <= 3
    """,
    tags=("llm", "similarity"),
)
def q_sim_knn_group(spark: SparkSession, d: str):
    """Top-3 nearest neighbors of the query vector per label — ranking
    window over similarity (partition-parallel by label)."""
    e = load_table(spark, d, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sims = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "label",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("sim").desc(), "vec_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", "sim")
    )


@query(
    "q_sim_ann_bucket",
    oracle=f"""
    WITH b AS ({similarity.SRP_BUCKET_SQL}),
    qb AS (SELECT bucket FROM b WHERE vec_id = 0),
    probes AS (
        SELECT xor(qb.bucket, m.mask) AS pbucket
        FROM qb, (VALUES {", ".join(f"({m})" for m in similarity.SRP_MASKS)}) AS m(mask)
    ),
    cand AS (SELECT b.vec_id, b.bucket FROM b JOIN probes ON b.bucket = probes.pbucket
             WHERE b.vec_id != 0)
    SELECT c.bucket, s.vec_id, s.sim
    FROM ({similarity.cosine_vs_query_sql(0, where="d.vec_id != 0")}) AS s
    JOIN cand AS c ON c.vec_id = s.vec_id
    ORDER BY s.sim DESC, s.vec_id LIMIT 10
    """,
    tags=("llm", "similarity"),
)
def q_sim_ann_bucket(spark: SparkSession, d: str):
    """Multi-probe SRP-LSH approximate NN: 8 deterministic hyperplanes
    hash every vector into one of 256 sign buckets; the query probes its
    own bucket plus the 8 Hamming-distance-1 neighbors (single-bit
    flips), so the scan is ~9/256 of the corpus instead of all of it,
    with the probe set — not index duplication — recovering the recall a
    single bucket loses. At 100 TB the bucket id becomes the partition
    key of a written index (see the persisted-IVF test): candidates are
    pruned at the parquet-partition level and the 9 probed buckets are 9
    partition reads. Masks are distinct, so probed buckets never overlap
    and no candidate dedup is needed.

    Timing note: a one-shot run carries ~2s of Janino compile for the
    fused scan→bucket→join→cosine codegen stage (the 8×64 literal
    coefficient matrix makes the generated method large); steady-state
    is ~1.1s at sf0.1 and the compile is a per-query constant that
    amortizes to nothing at scale."""
    e = load_table(spark, d, "embeddings")
    b = e.select("vec_id", "embedding", similarity.srp_bucket_col().alias("bucket"))
    qrow = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )
    masks = spark.createDataFrame([(m,) for m in similarity.SRP_MASKS], "mask int")
    qprobes = qrow.crossJoin(masks).select(
        "qv", F.col("qbucket").bitwiseXOR(F.col("mask")).alias("pbucket")
    )
    return (
        b.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qprobes), F.col("bucket") == F.col("pbucket"))
        .select(
            "bucket",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


@query(
    "q_dedup_embed",
    oracle=f"""
    WITH ev AS ({similarity.EV_SQL}),
    b AS (SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    pairs AS (
        SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
        FROM b AS a JOIN b AS b2
          ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ),
    dots AS (
        SELECT p.vec_a, p.vec_b, SUM(ea.x * eb.x) AS dot
        FROM pairs AS p
        JOIN ev AS ea ON ea.vec_id = p.vec_a
        JOIN ev AS eb ON eb.vec_id = p.vec_b AND eb.i = ea.i
        GROUP BY p.vec_a, p.vec_b
    )
    SELECT d.vec_a, d.vec_b,
           round(d.dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS sim
    FROM dots AS d
    JOIN norms AS na ON na.vec_id = d.vec_a
    JOIN norms AS nb ON nb.vec_id = d.vec_b
    """,
    tags=("llm", "dedup", "similarity"),
)
def q_dedup_embed(spark: SparkSession, d: str):
    """Embedding-cosine near-dup pairs scoped to sign-LSH buckets: 4
    hyperplane sign bits split the corpus into 16 buckets and pairs are
    generated ONLY within a bucket — the join key is the bucket id, so
    the work is sum of squared bucket sizes (corpus²/16 in expectation),
    never the corpus cross-join the round-1 sampled baseline used. Sign
    buckets preserve cosine neighbors (same-sign vectors are the ones
    with high cosine), making this the scale path for embedding dedup;
    at 100 TB, more hyperplanes → 2^k buckets keeps per-bucket pair
    counts bounded."""
    e = spread_scan(load_table(spark, d, "embeddings"), "vec_id").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"), "bucket"
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(similarity.cosine(F.col("ea"), F.col("eb")), 6).alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

@query(
    "q_text_tokens",
    oracle=f"""
    SELECT word, COUNT(*) AS n
    FROM ({text.WORDS_SQL})
    GROUP BY word
    """,
    tags=("llm", "text"),
)
def q_text_tokens(spark: SparkSession, d: str):
    """Tokenize + global word count (the classic)."""
    docs = load_table(spark, d, "documents")
    return text.words(docs).groupBy("word").agg(F.count(F.lit(1)).alias("n"))


@query(
    "q_text_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(list_filter(string_split(text, ' '), w -> w != ''))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(MIN(length(text)) AS INTEGER) AS min_len,
           CAST(MAX(length(text)) AS INTEGER) AS max_len
    FROM documents GROUP BY lang
    """,
    tags=("llm", "text"),
)
def q_text_stats(spark: SparkSession, d: str):
    """Corpus stats per language: doc/token counts, char stats."""
    docs = load_table(spark, d, "documents")
    n_tok = F.size(text.tokens())
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).cast("long").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min(F.length("text")).alias("min_len"),
        F.max(F.length("text")).alias("max_len"),
    )


@query(
    "q_text_filter",
    oracle="""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
    """,
    tags=("llm", "text"),
)
def q_text_filter(spark: SparkSession, d: str):
    """Quality filter — the standard LLM-corpus cleaning predicate
    (lang allowlist + length band). Pushes down to the scan."""
    docs = load_table(spark, d, "documents")
    return docs.filter(
        F.col("lang").isin("en", "de") & F.col("n_chars").between(100, 400)
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "q_text_quality",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, COUNT(*) AS n_tok,
               COUNT(*) FILTER (WHERE word IN ({', '.join(f"'{w}'" for w in _STOPWORDS)})) AS n_stop
        FROM ({text.WORDS_SQL}) GROUP BY doc_id
    )
    SELECT d.doc_id,
           t.n_tok,
           t.n_stop,
           round(CAST(t.n_stop AS DOUBLE) / t.n_tok, 6) AS stop_ratio,
           round(CAST(length(replace(d.text, ' ', '')) AS DOUBLE) / t.n_tok, 6) AS avg_token_len,
           CASE WHEN t.n_tok >= 10 AND CAST(t.n_stop AS DOUBLE) / t.n_tok BETWEEN 0.01 AND 0.6
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM documents AS d JOIN tok AS t USING (doc_id)
    """,
    tags=("llm", "text"),
)
def q_text_quality(spark: SparkSession, d: str):
    """Per-document quality scoring: token count, stopword ratio,
    average token length, keep/drop verdict — the heuristic-filter
    stage of a training-data pipeline."""
    return text_quality_report(load_table(spark, d, "documents"))


def text_quality_report(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    tok = (
        text.words(docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(F.col("word").isin(*_STOPWORDS), 1)).alias("n_stop"),
        )
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    return (
        docs.join(tok, "doc_id")
        .select(
            "doc_id",
            "n_tok",
            "n_stop",
            F.round(stop_ratio, 6).alias("stop_ratio"),
            F.round(
                F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
                / F.col("n_tok"),
                6,
            ).alias("avg_token_len"),
            F.when(
                (F.col("n_tok") >= 10) & stop_ratio.between(0.01, 0.6), "keep"
            )
            .otherwise("drop")
            .alias("verdict"),
        )
    )


@query(
    "q_text_langid",
    oracle=f"""
    SELECT doc_id,
           CAST({text.marker_hits_sql()} AS BIGINT) AS en_hits,
           CASE WHEN {text.marker_hits_sql()} > 0 THEN 'en' ELSE 'unknown' END AS lang_guess
    FROM documents
    """,
    tags=("llm", "text"),
)
def q_text_langid(spark: SparkSession, d: str):
    """Language-ID heuristic: count English marker-word occurrences via
    the length-delta-of-replace trick (portable, no regex dialect
    divergence). Real pipelines swap in per-language marker n-gram
    tables — same dataflow shape."""
    return text_langid_report(load_table(spark, d, "documents"))


def text_langid_report(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    hits = text.marker_hits()
    return docs.select(
        "doc_id",
        hits.cast("long").alias("en_hits"),
        F.when(hits > 0, "en").otherwise("unknown").alias("lang_guess"),
    )


@query(
    "q_multimodal",
    oracle="""
    SELECT d.doc_id, d.lang, CAST(length(d.text) AS INTEGER) AS n_text_chars,
           CAST(len(e.embedding) AS INTEGER) AS dim, e.label,
           round(CAST(e.embedding[1] AS DOUBLE), 6) AS emb_head
    FROM documents AS d JOIN embeddings AS e ON d.doc_id = e.vec_id
    """,
    tags=("llm", "multimodal"),
)
def q_multimodal(spark: SparkSession, d: str):
    """Multimodal container: text ⋈ vector into one typed struct column
    (text + embedding + metadata), then a flattened projection for the
    oracle. Binary modalities (image/audio) ride the same shape — see
    functions/multimodal.py for the decode/feature plumbing."""
    docs = load_table(spark, d, "documents")
    emb = load_table(spark, d, "embeddings")
    joined = docs.join(emb, docs.doc_id == emb.vec_id).withColumn(
        "mm",
        F.struct(
            F.col("text"), F.col("embedding"), F.col("lang"), F.col("label")
        ),
    )
    return joined.select(
        "doc_id",
        F.col("mm.lang").alias("lang"),
        F.length(F.col("mm.text")).alias("n_text_chars"),
        F.size(F.col("mm.embedding")).alias("dim"),
        F.col("mm.label").alias("label"),
        F.round(F.element_at(F.col("mm.embedding"), 1).cast("double"), 6).alias("emb_head"),
    )


@query(
    "q_text_bpe",
    oracle="""
    SELECT doc_id,
           CAST(list_sum(list_transform(
                list_filter(string_split(text, ' '), w -> w != ''),
                w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_pieces,
           CAST(len(list_filter(string_split(text, ' '), w -> w != '')) AS INTEGER) AS n_words
    FROM documents
    """,
    tags=("llm", "text"),
)
def q_text_bpe(spark: SparkSession, d: str):
    """Subword (BPE-ish) token counting: each word contributes
    ceil(len/4) pieces — the fixed-rate approximation used for corpus
    budgeting when a real tokenizer is too expensive to run inline.
    Pure higher-order array functions, no Python."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    pieces = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0),
    )
    return docs.select(
        "doc_id",
        pieces.alias("n_pieces"),
        F.size(toks).alias("n_words"),
    )


_IVF_CENTROIDS = (1, 2, 3, 4)


def _centroid_sims_sql() -> str:
    """DuckDB: cosine sim of every vector vs each centroid vector."""
    cids = ", ".join(str(c) for c in _IVF_CENTROIDS)
    return f"""
    WITH ev AS ({similarity.EV_SQL}),
    cv AS (SELECT vec_id AS cid, i, x AS cx FROM ev WHERE vec_id IN ({cids})),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    sims AS (
        SELECT e.vec_id, c.cid,
               SUM(e.x * c.cx) / (sqrt(nv.nn) * sqrt(nc.nn)) AS csim
        FROM ev AS e
        JOIN cv AS c USING (i)
        JOIN norms AS nv ON nv.vec_id = e.vec_id
        JOIN norms AS nc ON nc.vec_id = c.cid
        GROUP BY e.vec_id, c.cid, nv.nn, nc.nn
    )
    """


@query(
    "q_sim_ivf",
    oracle=f"""
    {_centroid_sims_sql()},
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY round(csim, 6) DESC, cid) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    qc AS (SELECT cid FROM assign WHERE vec_id = 0),
    bucket AS (
        SELECT a.vec_id, a.cid FROM assign AS a, qc
        WHERE a.cid = qc.cid AND a.vec_id != 0
    )
    SELECT b.cid, s.vec_id, s.sim
    FROM ({similarity.cosine_vs_query_sql(0, where="d.vec_id != 0")}) AS s
    JOIN bucket AS b ON b.vec_id = s.vec_id
    ORDER BY s.sim DESC, s.vec_id LIMIT 5
    """,
    tags=("llm", "similarity"),
)
def q_sim_ivf(spark: SparkSession, d: str):
    """IVF-style ANN: a coarse quantizer (4 fixed centroid vectors)
    partitions the corpus into inverted lists; a query probes only its
    centroid's list. The scale architecture behind FAISS-style IVF —
    here the centroids are fixture vectors so the oracle can replay the
    assignment exactly; production would train them with k-means
    (q_kmeans_step) and persist the assignment as a bucketed table.
    Measured: with the index built INLINE (as here, for oracle
    replayability) a single query shows no speedup over brute force at
    60 k vectors — the assignment pass costs what the probe saves. The
    IVF win is real only when the inverted lists are persisted and
    amortized across many queries, which is how it deploys."""
    e = load_table(spark, d, "embeddings")
    cents = e.filter(F.col("vec_id").isin(*_IVF_CENTROIDS)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    sims = e.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.round(similarity.cosine(F.col("embedding"), F.col("cv")), 6).alias("csim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cid")
    assign = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    assign = track(assign.persist())
    qc = assign.filter(F.col("vec_id") == 0).select(F.col("cid").alias("qcid"))
    bucket = assign.join(F.broadcast(qc), assign.cid == qc.qcid).filter(
        F.col("vec_id") != 0
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    return (
        e.join(bucket.select("vec_id", "cid"), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "cid",
            "vec_id",
            F.round(similarity.cosine(F.col("embedding"), F.col("qv")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(5)
    )


@query(
    "q_text_winnow",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    grams AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                   list_transform(generate_series(1, len(t) - 2),
                       i -> substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 16))
               ELSE [] END AS g
        FROM toks
    ),
    sel AS (
        SELECT doc_id,
               CASE WHEN len(g) >= 4 THEN
                   list_distinct(list_transform(generate_series(1, len(g) - 3),
                       i -> list_aggregate(g[i:i+3], 'min')))
               WHEN len(g) >= 1 THEN [list_aggregate(g, 'min')]
               ELSE [] END AS fps
        FROM grams
    )
    SELECT doc_id, unnest(fps) AS fp FROM sel
    """,
    tags=("llm", "fingerprint"),
)
def q_text_winnow(spark: SparkSession, d: str):
    """Winnowing document fingerprints (Schleimer et al.): rolling
    3-gram hashes, then the minimum hash of every 4-gram-wide sliding
    window — guarantees any shared run of >= 6 tokens between two
    documents shares a fingerprint, with ~1/4 the storage of all grams.
    Everything runs array-side inside the scan stage (transform over a
    sequence — zero shuffles, no explode until the final projection);
    md5 hex prefixes are bit-identical across engines so the oracle
    needs no tolerance. At 100 TB the (doc_id, fp) output feeds the
    same band-join dedup as MinHash with a containment (not just
    resemblance) guarantee."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    tokd = docs.select("doc_id", text.tokens().alias("toks"))
    toks = F.col("toks")
    n = F.size(toks)
    grams = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.substring(
                F.md5(
                    F.concat_ws(
                        " ",
                        F.element_at(toks, i),
                        F.element_at(toks, i + 1),
                        F.element_at(toks, i + 2),
                    )
                ),
                1,
                16,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = tokd.select("doc_id", grams.alias("g"))
    ng = F.size(F.col("g"))
    # 4-wide sliding min via a flat least() over shifted element_at —
    # no per-position sub-array allocation (slice+array_min would build
    # one array per window position).
    fps = (
        F.when(
            ng >= 4,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), ng - 3),
                    lambda i: F.least(
                        F.element_at(F.col("g"), i),
                        F.element_at(F.col("g"), i + 1),
                        F.element_at(F.col("g"), i + 2),
                        F.element_at(F.col("g"), i + 3),
                    ),
                )
            ),
        )
        .when(ng >= 1, F.array(F.array_min(F.col("g"))))
        .otherwise(F.array().cast("array<string>"))
    )
    return g.select("doc_id", F.explode(fps).alias("fp"))


# ---------------------------------------------------------------------------
# TF-IDF and duplicate-cluster components
# ---------------------------------------------------------------------------

@query(
    "q_text_tfidf",
    oracle=f"""
    WITH tok AS ({text.WORDS_SQL}),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word),
    dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    scored AS (
        SELECT t.doc_id, t.word,
               ROUND(t.tf * ln((n.n + 1.0) / (d.df + 1.0)), 6) AS tfidf
        FROM tf t JOIN dfreq d ON t.word = d.word CROSS JOIN n
    )
    SELECT doc_id, word, tfidf, CAST(rn AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, word
        ) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
    tags=("llm", "text"),
)
def q_text_tfidf(spark: SparkSession, d: str):
    """Top-5 TF-IDF terms per document (smoothed idf = ln((N+1)/(df+1))).
    Three aggregates — term frequency, document frequency, corpus
    size — all map-side combinable; df and N are tiny (vocab-sized /
    single-row) and broadcast back onto tf, so the only fact-sized
    shuffle is the (doc_id, word) groupBy. Ranking orders by the
    ROUNDED score (bit-identical across engines) with the term as
    tie-break, so the top-5 set is deterministic."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    tf = (
        text.words(docs)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("doc_id", "word", "tfidf", "rank")
    )


@query(
    "q_dedup_components",
    oracle=f"""
    WITH RECURSIVE {similarity.BANDS_SQL},
    comp(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, c.label FROM comp c JOIN edges e ON c.doc_id = e.src
    )
    SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id
    """,
    tags=("llm", "dedup", "iterative"),
)
def q_dedup_components(spark: SparkSession, d: str):
    """Duplicate-cluster connected components: the transitive closure
    of the MinHash-LSH collision graph, labeling every document with
    the minimum doc_id reachable from it (singletons label themselves).
    This is the step that turns pairwise near-dup hits into KEEP/DROP
    decisions for a corpus.

    Spark side runs iterative min-label propagation with pointer
    jumping — per round, each node takes the min of its neighbors'
    labels (src ⋈ labels join + groupBy(dst) min) and then of its
    label's label (one self-join), so chains contract in O(log
    diameter) rounds instead of O(diameter). Convergence test: the
    global label sum stops falling (labels decrease monotonically, so
    one exact long sum is a complete test — no row-level diff join).

    Each round ends in ``localCheckpoint()``: without it the logical
    plan doubles per iteration and Catalyst analysis time explodes
    exponentially (measured: 1s/round → 98s by round 5 at 500 docs).
    At 100 TB use reliable ``checkpoint()`` to HDFS/S3 instead — same
    truncation, executor-loss-safe. The oracle is DuckDB's recursive
    CTE of the same closure."""
    docs = load_table(spark, d, "documents")
    edges = track(similarity.minhash_band_edges(docs).persist())
    labels = propagate_min_labels(edges)
    singletons = docs.join(labels, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("label")
    )
    return (
        labels.unionByName(singletons)
        .select("doc_id", F.col("label").alias("component"))
    )


_FUZZY_PREFIX = 12  # blocking-key prefix length
_FUZZY_CMP = 60  # compared prefix length
_FUZZY_TAU = 30  # max edit distance to report


@query(
    "q_dedup_fuzzy",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, text,
               substr(text, 1, {_FUZZY_PREFIX}) AS blk
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(substr(a.text, 1, {_FUZZY_CMP}),
                            substr(b.text, 1, {_FUZZY_CMP})) AS BIGINT)
               AS edit_dist
    FROM keyed a
    JOIN keyed b ON a.lang = b.lang AND a.blk = b.blk
                AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, {_FUZZY_CMP}),
                      substr(b.text, 1, {_FUZZY_CMP})) <= {_FUZZY_TAU}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm", "dedup"),
)
def q_dedup_fuzzy(spark: SparkSession, d: str):
    """Blocked edit-distance fuzzy-duplicate candidates: documents
    sharing (lang, first-{_FUZZY_PREFIX}-chars) form a block;
    within-block pairs whose 60-char-prefix Levenshtein distance is
    <= {_FUZZY_TAU} are reported — the record-linkage pattern
    (blocking key + expensive comparator only within blocks) that
    complements the shingle-based q_dedup_near.

    Scale shape: the quadratic comparator never sees the corpus —
    pairs exist only within blocking buckets (sum of squared bucket
    sizes, the same bound as every LSH path here), and the
    Levenshtein compare is capped at a constant 60-char prefix so
    per-pair cost is O(1). The block key is a pure column function,
    so the only exchange is the block-key self-join shuffle."""
    docs = load_table(spark, d, "documents").select(
        "doc_id",
        "lang",
        "text",
        F.substring("text", 1, _FUZZY_PREFIX).alias("blk"),
    )
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        "blk",
        F.substring("text", 1, _FUZZY_CMP).alias("ta"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        "lang",
        "blk",
        F.substring("text", 1, _FUZZY_CMP).alias("tb"),
    )
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("ta", "tb").cast("bigint").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _FUZZY_TAU)
        .orderBy("doc_a", "doc_b")
    )


_WS_K = 20  # sample size


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               ln(GREATEST(
                   CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                        AS BIGINT) AS DOUBLE) / {U_DENOM!r},
                   1e-18)) / n_chars AS k
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, source, n_chars,
               ROW_NUMBER() OVER (ORDER BY round(k, 9) DESC, doc_id) AS rn
        FROM keyed
    )
    SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {_WS_K}
    ORDER BY rn
    """,
    tags=("llm", "sampling"),
)
def q_sample_weighted(spark: SparkSession, d: str):
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each document draws u = md5-uniform
    and gets key ln(u)/weight (monotone in u^(1/w)); the top-k keys
    ARE a weighted sample — longer documents proportionally more
    likely, reproducible run-to-run, mergeable across partitions (the
    property that makes A-ES THE distributed weighted sampler).

    Ranking is on the 9dp-rounded key with doc_id tie-break
    (ALIGNMENT ranking rule — ln() is libm and may differ in the last
    ulp across engines). The md5-uniform draw itself is bit-exact.
    Selection is ORDER BY + LIMIT — Spark plans it as
    TakeOrderedAndProject (a distributed k-element heap per
    partition, k-row merge on the driver — no global sort, no
    single-partition window); the ROW_NUMBER for the rn output column
    runs AFTER the limit, over k rows only."""
    docs = load_table(spark, d, "documents")
    u = u01("doc_id")
    k = F.log(F.greatest(u, F.lit(1e-18))) / F.col("n_chars")
    keyed = docs.select(
        "doc_id", "source", "n_chars", F.round(k, 9).alias("k9")
    )
    topk = keyed.orderBy(F.col("k9").desc(), "doc_id").limit(_WS_K)
    w = Window.partitionBy(bounded_window_key("doc_id")).orderBy(
        F.col("k9").desc(), "doc_id"
    )
    return (
        topk.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "source", "n_chars", "rn")
        .orderBy("rn")
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


@query(
    "q_train_test_split",
    oracle=f"""
    WITH tagged AS (
        SELECT doc_id, text,
               len(list_filter(string_split(text, ' '), w -> w != ''))
                   AS n_tokens,
               CASE WHEN {u01_sql('doc_id')} < 0.8 THEN 'train'
                    WHEN {u01_sql('doc_id')} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tagged),
    leak AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_leaked
        FROM (
            SELECT sha256(text) FROM tagged
            GROUP BY sha256(text)
            HAVING COUNT(DISTINCT split) > 1
        )
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           round(COUNT(*) / CAST(MIN(tot.n) AS DOUBLE), 6) AS share,
           CAST(MIN(leak.n_leaked) AS BIGINT) AS n_leaked_texts
    FROM tagged CROSS JOIN tot CROSS JOIN leak
    GROUP BY split
    ORDER BY split
    """,
    tags=("llm", "sampling"),
)
def q_train_test_split(spark: SparkSession, d: str):
    """Deterministic 80/10/10 train/val/test split by md5-uniform on
    doc_id, with the leakage audit every eval pipeline needs: the
    count of exact-duplicate texts (sha256) that landed in more than
    one split — nonzero means the dedup pass must run BEFORE the
    split, or eval scores are contaminated.

    The split tag is a stateless column function; per-split stats are
    one aggregation; the leakage check is a sha256-keyed aggregation
    counting distinct splits per text hash. Reproducible run-to-run
    and engine-exact (md5/sha256 are the portable primitives)."""
    docs = load_table(spark, d, "documents")
    u = u01("doc_id")
    tagged = docs.select(
        "text",
        F.size(text.tokens()).alias("n_tokens"),
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
            "split"
        ),
    )
    tagged = track(tagged.persist())
    tot = tagged.agg(F.count(F.lit(1)).alias("n"))
    leak = (
        tagged.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.countDistinct("split").alias("ns"))
        .filter(F.col("ns") > 1)
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    return (
        tagged.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.count(F.lit(1)) / F.min("n").cast("double"), 6
            ).alias("share"),
            F.min("n_leaked").cast("bigint").alias("n_leaked_texts"),
        )
        .orderBy("split")
    )


_CONS_RATE = 0.25


@query(
    "q_sample_consistent",
    oracle=f"""
    WITH so AS (
        SELECT o_orderkey FROM orders WHERE {u01_sql('o_orderkey')} < {_CONS_RATE}
    ),
    sl AS (
        SELECT l_orderkey FROM lineitem WHERE {u01_sql('l_orderkey')} < {_CONS_RATE}
    ),
    joined AS (
        SELECT 1 FROM so JOIN sl ON sl.l_orderkey = so.o_orderkey
    ),
    full_join AS (
        SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM so) AS n_orders_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sl) AS n_lineitem_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM joined) AS n_join_sampled,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM full_join) AS n_join_full,
           round((SELECT COUNT(*) FROM joined)
                 / CAST(NULLIF((SELECT COUNT(*) FROM full_join), 0) AS DOUBLE),
                 6) AS join_sample_ratio
    """,
    tags=("sampling", "distributed"),
)
def q_sample_consistent(spark: SparkSession, d: str):
    """Join-consistent sampling: both orders and lineitem are sampled
    by the SAME md5-uniform draw on the JOIN KEY, so the join of the
    samples is an exact 25% sample of the join — where independent
    per-table sampling would keep only rate² (6.25%) of join rows and
    silently bias any sampled-join metric. The subtlety every
    distributed "dev slice" pipeline must get right (engine-native
    TABLESAMPLE is NOT join-consistent).

    The sample predicate is a stateless column function (no shuffle
    added); the report's ratio column IS the verification — it reads
    ~0.25, not ~0.0625."""
    o = load_table(spark, d, "orders")
    li = load_table(spark, d, "lineitem")
    so = o.filter(u01("o_orderkey") < _CONS_RATE).select("o_orderkey")
    sl = li.filter(u01("l_orderkey") < _CONS_RATE).select(
        "l_orderkey"
    )
    n_so = so.agg(F.count(F.lit(1)).alias("n_orders_sampled"))
    n_sl = sl.agg(F.count(F.lit(1)).alias("n_lineitem_sampled"))
    n_j = (
        so.join(sl, so.o_orderkey == sl.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n_join_sampled"))
    )
    n_f = (
        o.select("o_orderkey")
        .join(li.select("l_orderkey"), o.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n_join_full"))
    )
    return (
        n_so.crossJoin(F.broadcast(n_sl))
        .crossJoin(F.broadcast(n_j))
        .crossJoin(F.broadcast(n_f))
        .select(
            "n_orders_sampled",
            "n_lineitem_sampled",
            "n_join_sampled",
            "n_join_full",
            F.round(
                F.try_divide(
                    F.col("n_join_sampled"),
                    F.col("n_join_full").cast("double"),
                ),
                6,
            ).alias("join_sample_ratio"),
        )
    )


# Set-similarity join threshold: Jaccard >= 0.6, i.e. 3/5 — the prefix
# length is computed in exact integer arithmetic (ceil(0.6*s) =
# (3s+4) DIV 5) so both engines agree without float ceil edge cases.
_SSJ_NUM, _SSJ_DEN = 3, 5


def _setsim_oracle() -> str:
    return f"""
    WITH sh0 AS ({text.SHINGLES_SQL}),
    tok AS (SELECT DISTINCT doc_id, shingle AS word FROM sh0),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM tok GROUP BY doc_id),
    df AS (SELECT word, COUNT(*) AS df FROM tok GROUP BY word),
    ranked AS (
        SELECT t.doc_id, t.word,
               ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                  ORDER BY df.df, t.word) AS rn
        FROM tok t JOIN df ON df.word = t.word
    ),
    prefix AS (
        SELECT r.doc_id, r.word
        FROM ranked r JOIN sz ON sz.doc_id = r.doc_id
        WHERE r.rn <= sz.s - (({_SSJ_NUM} * sz.s + {_SSJ_DEN} - 1)
                              // {_SSJ_DEN}) + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM prefix a JOIN prefix b
          ON a.word = b.word AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.da, c.db, COUNT(*) AS ix
        FROM cand c
        JOIN tok ta ON ta.doc_id = c.da
        JOIN tok tb ON tb.doc_id = c.db AND tb.word = ta.word
        GROUP BY c.da, c.db
    )
    SELECT i.da AS doc_a, i.db AS doc_b,
           round(CAST(i.ix AS DOUBLE) / (sa.s + sb.s - i.ix), 6) AS jaccard
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.da
    JOIN sz sb ON sb.doc_id = i.db
    WHERE round(CAST(i.ix AS DOUBLE) / (sa.s + sb.s - i.ix), 6)
          >= CAST({_SSJ_NUM} AS DOUBLE) / {_SSJ_DEN}
    """


@query(
    "q_setsim_prefix",
    oracle=_setsim_oracle(),
    tags=("llm", "dedup", "scale"),
    # Probe-passed 100x knobs (SCALE.md round 10, docs/TUNING.md): the
    # verify stage's candidate×shingle expansion externally sorts when a
    # task's slice exceeds its execution-memory fair share — raise the
    # initial partition count and lower the AQE advisory so coalescing
    # (sized from UNDER-stating map-side write bytes) doesn't fold it
    # back. 469.1 s at 100x (500 k docs), single orderly spill pass.
    scale_confs={
        "spark.sql.shuffle.partitions": "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
    },
)
def q_setsim_prefix(spark: SparkSession, d: str):
    """Exact set-similarity self-join (shingle-Jaccard >= 0.6) with
    PPJoin-style prefix filtering over the SAME word-3-gram shingles as
    the MinHash path (text.py ``shingles_from_docs``): shingles are
    globally ordered rarest-first, each document exposes only its first
    s − ceil(t·s) + 1 shingles as join keys, and any pair with Jaccard
    >= t is guaranteed to collide on at least one prefix shingle — so
    candidate generation touches a tiny slice of the posting index
    (165 candidates out of 124,750 possible pairs at sf0.01). Unlike
    q_dedup_near this is EXACT: true Jaccard is computed on candidates
    only, no LSH false negatives — the verification pass you run when
    the dedup decision must be certifiable.

    Scale shape: the prefix rank window partitions per document
    (bounded by document shingle count); the candidate join is keyed
    on the prefix shingles whose posting lists are the SHORTEST in the
    corpus by construction (rarest-first ordering bounds the blow-up —
    boilerplate shingles never become join keys); verification joins
    are candidate-pair-keyed. The quadratic worst case only occurs
    when two documents genuinely share a rare shingle."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    tok = track(
        text.shingles_from_docs(docs)
        .select("doc_id", F.col("shingle").alias("word"))
        .distinct()
        .persist()
    )
    sz = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("s"))
    df = tok.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    ranked = tok.join(df, "word").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "word")
        ),
    )
    prefix_len = F.col("s") - F.expr(
        f"({_SSJ_NUM} * s + {_SSJ_DEN} - 1) DIV {_SSJ_DEN}"
    ) + 1
    prefix = (
        ranked.join(sz, "doc_id")
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "word")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "word")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
    )
    ta = tok.select(F.col("doc_id").alias("da"), "word")
    tb = tok.select(F.col("doc_id").alias("db"), "word")
    inter = (
        cand.join(ta, "da").join(tb, ["db", "word"])
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("ix"))
    )
    sa = sz.select(F.col("doc_id").alias("da"), F.col("s").alias("sa"))
    sb = sz.select(F.col("doc_id").alias("db"), F.col("s").alias("sb"))
    jac = F.round(
        F.col("ix").cast("double") / (F.col("sa") + F.col("sb") - F.col("ix")),
        6,
    )
    return (
        inter.join(sa, "da")
        .join(sb, "db")
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= F.lit(_SSJ_NUM).cast("double") / _SSJ_DEN)
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


_EPOCH_SEED = 7
_EPOCH_SHARDS = 256


@query(
    "q_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id,
               md5(concat(CAST(doc_id AS VARCHAR), ':', '{_EPOCH_SEED}')) AS k
        FROM documents
    )
    SELECT doc_id,
           CAST(CAST(('0x' || substr(k, 1, 2)) AS BIGINT) % {_EPOCH_SHARDS}
                AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (
                PARTITION BY CAST(('0x' || substr(k, 1, 2)) AS BIGINT)
                             % {_EPOCH_SHARDS}
                ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
    tags=("training-prep", "sampling", "scale"),
)
def q_epoch_shuffle(spark: SparkSession, d: str):
    """Deterministic epoch shuffle: place every document at a
    reproducible pseudo-random position inside one of 256 shards,
    keyed by md5(doc_id : epoch_seed). Changing the seed reshuffles;
    the same seed replays the exact order — the property training-data
    loaders need for resumable, order-reproducible epochs (a global
    ORDER BY rand() is both nondeterministic and a full sort).

    Scale shape: the shard assignment is a stateless hash (pure map);
    the only ordering work is one row_number per shard — 256
    independent local sorts of corpus/256 rows each instead of a
    single global total order, which is exactly how a shuffled dataset
    is laid out as sharded files at 100 TB (writer per shard)."""
    keyed = load_table(spark, d, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{_EPOCH_SEED}"))).alias(
            "k"
        ),
    )
    shard = (F.conv(F.substring("k", 1, 2), 16, 10).cast("bigint") % _EPOCH_SHARDS).alias(
        "shard"
    )
    keyed = keyed.select("doc_id", "k", shard)
    w = Window.partitionBy("shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
    )


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


# TF-IDF pair similarity: document-frequency band for the inverted
# index (rare enough that posting lists stay bounded, common enough
# that pairs exist) and the report threshold.
_TC_DF_MIN = 2
_TC_DF_MAX = 50
_TC_TAU = 0.3


@query(
    "q_tfidf_cosine",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                          w -> w != '')) AS word
        FROM documents
    ),
    tf AS (
        SELECT doc_id, word, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, word
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    df AS (
        SELECT word, COUNT(*) AS df FROM tf GROUP BY word
        HAVING COUNT(*) BETWEEN {_TC_DF_MIN} AND {_TC_DF_MAX}
    ),
    w AS (
        SELECT tf.doc_id, tf.word,
               CAST(tf.tf AS DOUBLE)
                   * round(ln((n.n + 1.0) / (df.df + 1.0)), 9) AS wt
        FROM tf JOIN df USING (word), n
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(ROUND(SUM(CAST(round(wt * wt, 9)
                   AS DECIMAL(38,10))), 6) AS DOUBLE)) AS nn
        FROM w GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS src, b.doc_id AS dst,
               CAST(ROUND(SUM(CAST(round(a.wt * b.wt, 9)
                   AS DECIMAL(38,10))), 6) AS DOUBLE) AS dot,
               COUNT(*) AS n_shared
        FROM w a JOIN w b ON b.word = a.word AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.src, d.dst,
           CAST(d.n_shared AS BIGINT) AS n_shared,
           round(d.dot / (na.nn * nb.nn), 6) AS cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.src
    JOIN nrm nb ON nb.doc_id = d.dst
    WHERE round(d.dot / (na.nn * nb.nn), 6) >= {_TC_TAU}
    """,
    tags=("llm", "similarity", "scale"),
)
def q_tfidf_cosine(spark: SparkSession, d: str):
    """TF-IDF cosine document pairs via a df-capped inverted index —
    the sparse-lexical complement of the dense-embedding near-dup
    operators: pairs scoring ≥ 0.3 on the cosine of their TF-IDF
    vectors restricted to mid-frequency terms (2 ≤ df ≤ 50).

    Scale shape: candidate pairs come from the TERM join, and the df
    cap bounds every posting list — pair fan-out is Σ df² over banded
    terms, never corpus² (the same blocking argument as
    q_containment_dedup, with weights instead of set bits). Norms are
    one doc-keyed aggregate. Exactness: idf uses the 9 dp-rounded-ln
    discipline so both engines weight identically; the w·w terms are
    rounded 9 dp before exact decimal sums; the final cosine compares
    6 dp-rounded values (round-before-compare)."""
    docs = load_table(spark, d, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(text.tokens()).alias("word"),
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    df = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df").between(_TC_DF_MIN, _TC_DF_MAX))
    )
    # persisted: the banded weighted index feeds the norm aggregate AND
    # both sides of the pair join — without it Spark re-derives the
    # corpus explode + tf aggregation once per reference
    w = track(
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            (
                F.col("tf").cast("double")
                * F.round(F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 9)
            ).alias("wt"),
        )
        .persist()
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(
            F.round(
                F.sum(F.round(F.col("wt") * F.col("wt"), 9).cast(DEC)), 6
            ).cast("double")
        ).alias("nn")
    )
    a = w.select(
        F.col("doc_id").alias("src"), "word", F.col("wt").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("dst"),
        F.col("word").alias("wordb"),
        F.col("wt").alias("wb"),
    )
    dots = (
        a.join(b, (F.col("word") == F.col("wordb")) & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst")
        .agg(
            F.round(
                F.sum(F.round(F.col("wa") * F.col("wb"), 9).cast(DEC)), 6
            )
            .cast("double")
            .alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("src"), F.col("nn").alias("na"))
    nb = nrm.select(F.col("doc_id").alias("dst"), F.col("nn").alias("nb"))
    out = (
        dots.join(na, "src")
        .join(nb, "dst")
        .select(
            "src",
            "dst",
            "n_shared",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )
    return out.filter(F.col("cosine") >= _TC_TAU)


_TOKENS_SQL = "len(list_filter(string_split(text, ' '), w -> w != ''))"


# ---------------------------------------------------------------------------
# q_mix_token_budget — equal per-source token budgets with u01 priority
# ---------------------------------------------------------------------------

_MTB_FRAC = 0.4  # corpus-level token budget fraction


@query(
    "q_mix_token_budget",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, CAST({_TOKENS_SQL} AS BIGINT) AS toks,
               {u01_sql("doc_id")} AS u
        FROM documents
    ),
    tot AS (
        SELECT CAST(SUM(toks) AS DOUBLE) AS corpus_toks,
               CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_src
        FROM docs
    ),
    budget AS (
        SELECT CAST(floor(corpus_toks * {_MTB_FRAC} / n_src) AS BIGINT)
            AS b FROM tot
    ),
    ranked AS (
        SELECT source, toks,
               SUM(toks) OVER (PARTITION BY source ORDER BY u, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_toks
        FROM docs
    )
    SELECT r.source,
           CAST(MAX(b.b) AS BIGINT) AS budget_tokens,
           CAST(COUNT(*) FILTER (WHERE r.cum_toks <= b.b) AS BIGINT)
               AS docs_kept,
           CAST(COALESCE(SUM(r.toks) FILTER (WHERE r.cum_toks <= b.b), 0)
                AS BIGINT) AS tokens_kept,
           CAST(SUM(r.toks) AS BIGINT) AS tokens_available
    FROM ranked r CROSS JOIN budget b
    GROUP BY r.source
    ORDER BY r.source
    """,
    tags=("llm", "mixture", "scale"),
)
def q_mix_token_budget(spark: SparkSession, d: str):
    """Token-budget rebalancing of the training mixture: every source
    gets an equal share of a 40% corpus-level TOKEN budget (mixtures
    are specified in tokens, not documents), and docs fill each
    source's share in md5-uniform priority order until the running
    token count crosses the budget — the uniform-rebalance complement
    of q_mix_domains' doc-count caps and q_mix_temperature's
    power-law weights.

    Scale shape: one pass computes tokens + priority per doc, a 1-row
    broadcast carries the budget, and the selection is a per-source
    cumulative window (source-partitioned exchange — the honest cost;
    at extreme per-source cardinality the same cutoff can be found on
    a priority-bucket histogram the way q_quantile_bins_scaled does).
    Deterministic: priorities are md5 doubles, token counts exact."""
    docs = load_table(spark, d, "documents").select(
        "doc_id", "source", F.size(text.tokens()).cast("bigint").alias("toks"),
        u01("doc_id").alias("u"),
    )
    tot = docs.agg(
        F.sum("toks").cast("double").alias("corpus_toks"),
        F.countDistinct("source").cast("double").alias("n_src"),
    )
    budget = tot.select(
        F.floor(F.col("corpus_toks") * _MTB_FRAC / F.col("n_src"))
        .cast("bigint")
        .alias("b")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("u", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = docs.select(
        "source", "toks", F.sum("toks").over(w).alias("cum_toks")
    )
    kept = F.col("cum_toks") <= F.col("b")
    return (
        ranked.crossJoin(F.broadcast(budget))
        .groupBy("source")
        .agg(
            F.max("b").cast("bigint").alias("budget_tokens"),
            F.count(F.when(kept, 1)).cast("bigint").alias("docs_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("toks"))), F.lit(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum("toks").cast("bigint").alias("tokens_available"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_embed_diversity — closed-form mean pairwise squared distance per label
# ---------------------------------------------------------------------------


@query(
    "q_embed_diversity",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    sqn AS (
        SELECT vec_id, label,
               round(list_reduce(list_transform(range(1, len(embedding) + 1),
                   i -> CAST(embedding[i] AS DOUBLE)
                      * CAST(embedding[i] AS DOUBLE)),
                   (acc, t) -> acc + t), 6) AS sq
        FROM embeddings
    ),
    per_label AS (
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(SUM(CAST(sq AS DECIMAL(38,10))), 6) AS DOUBLE)
                   / COUNT(*) AS msq
        FROM sqn GROUP BY label
    ),
    mean_dims AS (
        SELECT label, i,
               round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*), 6) AS m
        FROM ev GROUP BY label, i
    ),
    mean_norm AS (
        SELECT label,
               CAST({dsum_sql("m * m")} AS DOUBLE) AS mnorm
        FROM mean_dims GROUP BY label
    )
    SELECT p.label, p.n,
           round(p.msq, 6) AS mean_sq_norm,
           round(q.mnorm, 6) AS centroid_sq_norm,
           round(2.0 * (p.msq - q.mnorm), 6) AS mean_pairwise_sq_dist
    FROM per_label p JOIN mean_norm q USING (label)
    ORDER BY p.label
    """,
    tags=("llm", "embedding", "diversity"),
)
def q_embed_diversity(spark: SparkSession, d: str):
    """Embedding diversity per label, closed-form: for i.i.d. pairs
    E‖x−y‖² = 2·(E‖x‖² − ‖Ex‖²), so the mean pairwise squared
    distance — the diversity number data-selection papers report —
    falls out of ONE pass of per-row norms plus per-dimension means.
    No pair enumeration at any scale.

    Per-row ‖x‖² folds in array-index order (bit-identical, 6 dp);
    per-dimension means are exact decimal sums rounded at 6 dp
    (labels × d bounded); everything downstream is deterministic
    scalar arithmetic on those rounded values."""
    e = load_table(spark, d, "embeddings")
    sq = F.round(
        F.aggregate(
            F.transform(
                "embedding",
                lambda x: x.cast("double") * x.cast("double"),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    per_label = e.select("label", sq.alias("sq")).groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.round(F.sum(F.col("sq").cast(DEC)), 6).cast("double")
            / F.count(F.lit(1))
        ).alias("msq"),
    )
    ev = e.select(
        "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    mean_dims = ev.groupBy("label", "i").agg(
        F.round(
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("m")
    )
    mean_norm = mean_dims.groupBy("label").agg(
        F.round(F.sum((F.col("m") * F.col("m")).cast(DEC)), 4)
        .cast("double")
        .alias("mnorm")
    )
    return (
        per_label.join(mean_norm, "label")
        .select(
            "label",
            "n",
            F.round("msq", 6).alias("mean_sq_norm"),
            F.round("mnorm", 6).alias("centroid_sq_norm"),
            F.round(2.0 * (F.col("msq") - F.col("mnorm")), 6).alias(
                "mean_pairwise_sq_dist"
            ),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_cv_folds — k-fold assignment balance check
# ---------------------------------------------------------------------------

_CV_K = 5

_FOLD_SQL = (
    "CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))"
    f" AS BIGINT) % {_CV_K} AS BIGINT)"
)


@query(
    "q_cv_folds",
    oracle=f"""
    WITH folds AS (
        SELECT {_FOLD_SQL} AS fold,
               CAST({_TOKENS_SQL} AS BIGINT) AS toks,
               n_chars
        FROM documents
    ),
    tot AS (SELECT round(AVG(n_chars), 6) AS gmean FROM folds)
    SELECT fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           round(AVG(n_chars), 6) AS mean_chars,
           round(AVG(n_chars) - MAX(t.gmean), 6) AS mean_chars_gap
    FROM folds CROSS JOIN tot t
    GROUP BY fold ORDER BY fold
    """,
    tags=("llm", "ml", "splitting"),
)
def q_cv_folds(spark: SparkSession, d: str):
    """5-fold cross-validation assignment by md5(doc_id) — the
    deterministic, coordination-free fold split (same hash-bucket
    idiom as q_train_test_split) — with the per-fold balance check
    (doc counts, token volume, mean length vs global mean) that
    validates the folds are exchangeable before anyone trusts the CV
    estimate.

    One map-side-combined aggregation to k rows plus a 1-row global
    broadcast; the md5 bucket is identical on both engines."""
    docs = load_table(spark, d, "documents")
    fold = md5_int(F.col("doc_id").cast("string"), 2) % _CV_K
    folds = docs.select(
        fold.alias("fold"),
        F.size(text.tokens()).cast("bigint").alias("toks"),
        "n_chars",
    )
    tot = folds.agg(F.round(F.avg("n_chars"), 6).alias("gmean"))
    return (
        folds.crossJoin(F.broadcast(tot))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
            F.round(F.avg("n_chars") - F.max("gmean"), 6).alias(
                "mean_chars_gap"
            ),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# q_domain_stats — per-source corpus scorecard
# ---------------------------------------------------------------------------


@query(
    "q_domain_stats",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_unique_texts,
           round(1.0 - COUNT(DISTINCT sha256(text))
                       / CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM({_TOKENS_SQL}) AS BIGINT) AS total_tokens,
           round(AVG(n_chars), 6) AS mean_chars
    FROM documents
    GROUP BY source ORDER BY source
    """,
    tags=("llm", "profiling"),
)
def q_domain_stats(spark: SparkSession, d: str):
    """Per-source corpus scorecard: document count, exact-duplicate
    rate (sha256 text identity — q_dedup_exact's key), language
    spread, token volume and mean length — the one-table census a
    mixture designer reads before setting per-source weights
    (q_mix_domains / q_mix_token_budget consume exactly these
    columns).

    One source-keyed aggregation; the distinct-counts are exact (hash
    + lang cardinalities are per-group bounded) and everything else is
    map-side combinable. AVG follows the 6 dp float contract."""
    docs = load_table(spark, d, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct(F.sha2("text", 256))
            .cast("bigint")
            .alias("n_unique_texts"),
            F.round(
                1.0
                - F.countDistinct(F.sha2("text", 256))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_rate"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.sum(F.size(text.tokens())).cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
        )
        .orderBy("source")
    )


_CHUNK = 20  # tokens per chunk
_STRIDE = 15  # 5-token overlap between consecutive chunks


@query(
    "q_text_chunk",
    oracle=f"""
    SELECT doc_id,
           CAST(start AS INT) AS chunk_start,
           array_to_string(t[start : start + {_CHUNK - 1}], ' ') AS chunk_text,
           CAST(len(t[start : start + {_CHUNK - 1}]) AS INT) AS chunk_tokens
    FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w != '') AS t
        FROM documents
    ), LATERAL unnest(generate_series(1, len(t), {_STRIDE})) AS u(start)
    """,
    tags=("llm", "chunk"),
)
def q_text_chunk(spark: SparkSession, d: str):
    """Sliding-window document chunking ({_CHUNK} tokens, stride
    {_STRIDE} → 5-token overlap) — the context-window split every
    pretraining pipeline runs. The chunk starts come from an array-side
    sequence (no join, no window function); each row explodes into
    ceil(n/stride) chunks inside the same scan stage, so the operator
    is embarrassingly parallel at any corpus size."""
    docs = spread_scan(load_table(spark, d, "documents"), "doc_id")
    toks = text.tokens()
    withs = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 1)
    return (
        withs.select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("t"), F.lit(_STRIDE))).alias(
                "chunk_start"
            ),
            "t",
        )
        .select(
            "doc_id",
            "chunk_start",
            F.concat_ws(" ", F.slice("t", F.col("chunk_start"), _CHUNK)).alias(
                "chunk_text"
            ),
            F.size(F.slice("t", F.col("chunk_start"), _CHUNK)).alias("chunk_tokens"),
        )
    )


_CTX = 256  # packing target: tokens per training sequence


@query(
    "q_text_pack",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS stream_offset,
           CAST((cum - n_tokens) // {_CTX} AS BIGINT) AS bin
    FROM (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), w -> w != '')) AS n_tokens,
               SUM(len(list_filter(string_split(text, ' '), w -> w != '')))
                   OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM documents
    )
    """,
    tags=("llm", "pack"),
)
def q_text_pack(spark: SparkSession, d: str):
    """Sequence packing: lay documents end-to-end in doc_id order and
    assign each to the {_CTX}-token training bin its first token lands
    in — the deterministic streaming form of sample packing (no
    bin-packing search, single pass). The global running sum is a
    single-partition window here; at 100 TB you pack per shard
    (partitionBy(shard) in the window) so every partition packs
    independently — same operator, sharded key."""
    docs = load_table(spark, d, "documents")
    n = F.size(text.tokens())
    w = Window.partitionBy(bounded_window_key("doc_id")).orderBy(
        "doc_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    return (
        docs.select("doc_id", n.alias("n_tokens"))
        .withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "n_tokens",
            (F.col("cum") - F.col("n_tokens")).alias("stream_offset"),
            F.floor((F.col("cum") - F.col("n_tokens")) / _CTX).alias("bin"),
        )
    )


@query(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang, CAST(rn AS INT) AS rn
    FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn % 10 = 1
    """,
    tags=("llm", "sample"),
)
def q_sample_stratified(spark: SparkSession, d: str):
    """Stratified 10% sample with equal treatment per language — every
    10th document within each lang stratum, deterministically by
    doc_id (cross-engine reproducible, unlike rand()). The pattern
    behind language-balanced training mixes; the window shuffles
    (lang, doc_id) pairs only."""
    docs = load_table(spark, d, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") % 10 == 1)
    )


@query(
    "q_embed_centroid",
    oracle="""
    SELECT label, CAST(i AS INT) AS i,
           round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
               AS centroid
    FROM (
        SELECT label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    )
    GROUP BY label, i
    """,
    tags=("llm", "embedding"),
)
def q_embed_centroid(spark: SparkSession, d: str):
    """Per-label embedding centroid (mean pooling), flattened to
    (label, dimension, value) rows. Explode-then-aggregate shuffles
    (label, i, x) triples — fully parallel and map-side combinable,
    vs. collecting whole vectors per group. Exact decimal sum / count
    keeps the division input bit-identical across engines; IVF
    training (q_sim_ivf) is this operator iterated."""
    e = load_table(spark, d, "embeddings")
    return (
        e.select(
            "label",
            F.posexplode("embedding").alias("pos0", "xf"),
        )
        .select(
            "label",
            (F.col("pos0") + 1).alias("i"),
            F.col("xf").cast("double").alias("x"),
        )
        .groupBy("label", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("centroid")
        )
    )


CURATION_LANGS = ("en", "es", "de", "fr")
CURATION_TAU = 0.8


@query(
    "q_curation_pipeline",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                      ORDER BY doc_id) AS rn
            FROM documents
            WHERE lang IN {CURATION_LANGS!r}
              AND n_chars BETWEEN 50 AND 100000
        ) WHERE rn = 1
    ),
    toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != '')) AS word,
               generate_subscripts(list_filter(string_split(text, ' '), w -> w != ''), 1) AS pos
        FROM base
    ),
    shingles AS (
        SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
        FROM (
            SELECT doc_id, word,
                   LEAD(word, 1) OVER w AS w1,
                   LEAD(word, 2) OVER w AS w2
            FROM toks
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ) WHERE w2 IS NOT NULL
    ),
    {similarity.SIGS_CTE_SQL},
    bands AS ({similarity.BANDS_SELECT_SQL}),
    capped AS (
        SELECT doc_id, band, mh FROM (
            SELECT doc_id, band, mh,
                   COUNT(*) OVER (PARTITION BY band, mh) AS bn
            FROM bands
        ) WHERE bn <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id < b.doc_id
    ),
    warr AS (
        SELECT doc_id,
               list_distinct(list_filter(string_split(text, ' '), w -> w != '')) AS ws
        FROM base
    ),
    jac AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(wa.ws, wb.ws)) AS DOUBLE)
                   / (len(wa.ws) + len(wb.ws)
                      - len(list_intersect(wa.ws, wb.ws))) AS jaccard
        FROM cand c
        JOIN warr wa ON wa.doc_id = c.doc_a
        JOIN warr wb ON wb.doc_id = c.doc_b
    ),
    drops AS (SELECT DISTINCT doc_b AS doc_id FROM jac
              WHERE jaccard >= {CURATION_TAU})
    SELECT b.doc_id,
           CAST(len(list_filter(string_split(b.text, ' '), w -> w != '')) AS BIGINT)
               AS n_tokens
    FROM base b
    WHERE b.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
    tags=("llm", "dedup", "composite"),
)
def q_curation_pipeline(spark: SparkSession, d: str):
    """The whole corpus-curation pass as ONE declarative pipeline:
    language/length quality gate → exact dedup (sha256 keep-first) →
    MinHash-LSH candidate pairs → exact-Jaccard confirmation (τ=0.8)
    → drop the newer of each near-dup pair → surviving docs with token
    counts. Every stage is the already-verified operator (q_text_filter,
    q_dedup_exact, q_dedup_near) composed in a single DAG: the scan
    happens once, filters push into it, and the only fact-sized
    shuffles are the signature groupBy and the (band, mh) candidate
    join — the same shape this runs at 100 TB, where each stage's
    output feeds the next without materializing to storage."""
    return curation_pipeline_on(load_table(spark, d, "documents"))


def curation_pipeline_on(raw_docs):
    """Composable form over any documents-shaped frame — also the
    batch analog the incremental streaming twin and its hypothesis
    property test compare against (tests/test_streaming.py,
    tests/test_properties.py)."""
    docs = spread_scan(raw_docs, "doc_id").filter(
        F.col("lang").isin(*CURATION_LANGS)
        & F.col("n_chars").between(50, 100000)
    )
    # keep-first by hash via min_by: a HASH aggregate (map-side
    # combinable), not a sort window — at 100 TB this avoids a
    # per-partition sort of the full corpus text
    keeper = F.min_by(F.struct("doc_id", "text"), "doc_id").alias("k")
    base = track(
        docs.groupBy(F.sha2("text", 256).alias("h"))
        .agg(keeper)
        .select(F.col("k.doc_id").alias("doc_id"), F.col("k.text").alias("text"))
        .persist()
    )
    edges = similarity.minhash_band_edges(base).filter(F.col("src") < F.col("dst"))
    warr = track(similarity.word_arrays(base).persist())
    drops = (
        similarity.jaccard_on_pairs(edges, warr, "src", "dst")
        .filter(F.col("jaccard") >= CURATION_TAU)
        .select(F.col("dst").alias("doc_id"))
        .distinct()
    )
    return base.join(drops, "doc_id", "left_anti").select(
        "doc_id", F.size(text.tokens()).alias("n_tokens")
    )


_DECON_N = 4  # word n-gram size for contamination matching
DECON_EVAL = "src0"  # held-out benchmark source

_DECON_GRAMS_SQL = """
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
"""


@query(
    "q_decontaminate",
    oracle=f"""
    WITH sh AS ({_DECON_GRAMS_SQL}),
    ev AS (SELECT DISTINCT gh FROM sh WHERE source = '{DECON_EVAL}'),
    hits AS (
        SELECT s.doc_id, CAST(COUNT(DISTINCT s.gh) AS BIGINT) AS n_shared
        FROM sh AS s JOIN ev USING (gh)
        WHERE s.source != '{DECON_EVAL}'
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shared FROM hits
    """,
    tags=("llm", "curation"),
)
def q_decontaminate(spark: SparkSession, d: str):
    """Benchmark decontamination: flag training documents that share
    any word 4-gram with the held-out eval set (source 'src0'), with
    the count of distinct shared grams as the contamination score —
    the standard pre-training hygiene step that keeps test data out of
    the training corpus.

    Scale shape: eval suites are fixed-size (MBs) regardless of corpus
    scale, so the distinct eval-gram set is an explicit broadcast and
    the training-side scan never shuffles to find matches — grams are
    matched on md5 digests (16 bytes moved per gram instead of the
    text) and build array-side with zero per-doc sorts. The only
    exchange is the per-doc count over matched rows, which is
    contamination-sized, not corpus-sized."""
    return decontaminate(spread_scan(load_table(spark, d, "documents"), "doc_id"))


def decon_gram_stream(docs):
    """(doc_id, source, gh) stream of md5'd word 4-grams — the shared
    substrate of q_decontaminate and q_decontaminate_frac. The token
    array is projected ONCE before the gram transform — element_at
    inside the lambda would otherwise re-run the split+filter per gram
    position (O(len²) per doc)."""
    n = _DECON_N
    tokd = docs.select("doc_id", "source", text.tokens().alias("toks"))
    toks = F.col("toks")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.md5(
                F.concat_ws(
                    " ", *[F.element_at(toks, i + k) for k in range(n)]
                )
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokd.select("doc_id", "source", F.explode(grams).alias("gh"))


def decontaminate(docs):
    """Frame-level decontamination body (also driven by the scale
    probe over synthetically inflated corpora): see q_decontaminate."""
    sh = decon_gram_stream(docs)
    ev = sh.filter(F.col("source") == DECON_EVAL).select("gh").distinct()
    return (
        sh.filter(F.col("source") != DECON_EVAL)
        .join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n_shared"))
    )


@query(
    "q_mix_domains",
    oracle="""
    WITH dom AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
                             AS BIGINT)) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total, COUNT(*) AS n_dom FROM dom),
    rates AS (
        SELECT source, n_docs, n_tokens,
               LEAST(1.0, (CAST(total AS DOUBLE) / (2.0 * n_dom)) / n_tokens)
                   AS rate
        FROM dom, tot
    )
    SELECT source, n_docs, n_tokens,
           FLOOR(rate * 1000000) / 1000000.0 AS sample_rate,
           CAST(FLOOR(rate * n_tokens) AS BIGINT) AS planned_tokens
    FROM rates
    """,
    tags=("llm", "curation"),
)
def q_mix_domains(spark: SparkSession, d: str):
    """Domain mixture rebalancing: give every source an equal share of
    a global token budget (half the corpus here), capping each domain's
    sampling rate at 1.0 — small domains are kept whole, large domains
    are downsampled, the standard step before mixing web/code/books
    into a training run. One groupBy on source plus a single-row
    broadcast of the totals; rates are computed with the same IEEE
    operation sequence on both engines and truncated (not rounded) to
    6 dp, so boundary behavior is exact."""
    docs = load_table(spark, d, "documents")
    dom = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text.tokens()).cast("long")).alias("n_tokens"),
    )
    tot = dom.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_dom")
    )
    rate = F.least(
        F.lit(1.0),
        (F.col("total").cast("double") / (2.0 * F.col("n_dom"))) / F.col("n_tokens"),
    )
    return (
        dom.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.floor(rate * 1000000) / 1000000.0).alias("sample_rate"),
            F.floor(rate * F.col("n_tokens")).cast("long").alias("planned_tokens"),
        )
    )


@query(
    "q_mix_sample",
    oracle="""
    WITH dom AS (
        SELECT source,
               CAST(SUM(CAST(len(list_filter(string_split(text, ' '), w -> w != ''))
                             AS BIGINT)) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tokens) AS total, COUNT(*) AS n_dom FROM dom),
    rates AS (
        SELECT source,
               LEAST(1.0, (CAST(total AS DOUBLE) / (2.0 * n_dom)) / n_tokens)
                   AS rate
        FROM dom, tot
    )
    SELECT d.doc_id, d.source,
           CAST(len(list_filter(string_split(d.text, ' '), w -> w != ''))
                AS INTEGER) AS n_tokens
    FROM documents AS d JOIN rates AS r ON d.source = r.source
    WHERE CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS DOUBLE) / 1152921504606846976.0 < r.rate
    """,
    tags=("llm", "curation"),
)
def q_mix_sample(spark: SparkSession, d: str):
    """Materialize the q_mix_domains plan: keep each document with its
    domain's capped equal-share probability, decided by a deterministic
    per-doc uniform draw — u = md5(doc_id)'s 60-bit prefix scaled to
    [0,1) — so the sample is reproducible run-to-run and engine-exact
    (the md5 prefix, the int64→double conversion, and the compare are
    all bit-identical in both engines). Plan: the per-domain rate table
    is domain-count-sized and broadcasts onto the corpus scan; the
    filter is stateless per row, so the sample is one shuffle-free pass
    at any scale."""
    docs = load_table(spark, d, "documents")
    dom = docs.groupBy("source").agg(
        F.sum(F.size(text.tokens()).cast("long")).alias("n_tokens")
    )
    tot = dom.agg(
        F.sum("n_tokens").alias("total"), F.count(F.lit(1)).alias("n_dom")
    )
    rates = dom.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.col("total").cast("double") / (2.0 * F.col("n_dom")))
            / F.col("n_tokens"),
        ).alias("rate"),
    )
    u = u01("doc_id")
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select("doc_id", "source", F.size(text.tokens()).alias("n_tokens"))
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
