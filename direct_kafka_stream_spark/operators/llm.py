"""LLM-training-data pipeline operators (SURVEY.md §2.D + north star):
deduplication (exact hash, MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine), similarity search (brute-force top-k and an
LSH-bucketed ANN variant), and text analysis (tokenize, stats, quality
scoring, language-ID heuristic, fingerprinting).

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
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
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


def propagate_min_labels(edges, max_rounds: int = 15):
    """Iterative min-label propagation with pointer jumping over a
    SYMMETRIC edge list (src, dst): returns (doc_id, label) for every
    node with at least one edge, label = min node id reachable.
    Raises rather than silently returning unconverged labels if the
    O(log diameter) bound is ever violated. Composable so the
    convergence tests can drive it with adversarial synthetic graphs
    (long paths needing genuine pointer jumping)."""
    # Iterate ONLY over nodes that have at least one edge; singleton
    # documents (the overwhelming majority of a deduped corpus) never
    # enter the loop and are unioned back labeled with themselves —
    # at 100 TB this shrinks every per-round join from corpus-sized to
    # duplicate-cluster-sized.
    connected = (
        edges.select(F.col("src").alias("doc_id"))
        .union(edges.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    labels = track(
        connected.select("doc_id", F.col("doc_id").alias("label")).localCheckpoint()
    )
    cur_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_rounds):
        prop = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(prop, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        ptr = stepped.select(
            F.col("doc_id").alias("p_doc"), F.col("label").alias("p_label")
        )
        nxt = track(
            stepped.join(ptr, stepped.label == ptr.p_doc, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("p_label", F.col("label"))
                ).alias("label"),
            )
            # lazy checkpoint: materialized by the convergence sum
            # below instead of by a job of its own, while still
            # truncating lineage for every later reference. A round is
            # still several jobs, because AQE submits each shuffle
            # stage as its own job: at sf0.001 on local[4] one round
            # runs 9 to 11 jobs, and the build of q_dedup_components,
            # which converges in two rounds, runs 32 (bench.py counts)
            .localCheckpoint(eager=False)
        )
        nxt_sum = nxt.agg(F.sum("label")).collect()[0][0]
        labels = nxt
        if nxt_sum == cur_sum:
            converged = True
            break
        cur_sum = nxt_sum
    if not converged:
        # Pointer jumping converges in O(log diameter) rounds, so the
        # cap covers any real graph — but wrong labels must never be
        # returned silently if that assumption ever breaks.
        raise RuntimeError(
            "propagate_min_labels: label propagation did not converge "
            f"in {max_rounds} rounds"
        )
    return labels
