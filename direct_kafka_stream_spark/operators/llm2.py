"""Training-data preparation operators, second LLM-pipeline pass
(north-star extension surface; anchor = the reference's processing
hook at KafkaDirectStream.scala:43-51): document chunking, sequence
packing, stratified sampling, and embedding pooling — the steps
between a cleaned corpus and a tokenized training set.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import bounded_window_key
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.registry import query

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


_KM_SEEDS = (1, 2, 3, 4)  # fixture vectors used as initial centers


@query(
    "q_kmeans_step",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cv AS (SELECT vec_id AS cid, i, x AS cx FROM ev
           WHERE vec_id IN {_KM_SEEDS!r}),
    dists AS (
        SELECT e.vec_id, c.cid,
               round(SUM((e.x - c.cx) * (e.x - c.cx)), 6) AS d2
        FROM ev e JOIN cv c USING (i)
        GROUP BY e.vec_id, c.cid
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cid) AS rn
            FROM dists
        ) WHERE rn = 1
    )
    SELECT a.cid, CAST(e.i AS INT) AS i,
           round(CAST(SUM(CAST(e.x AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(*), 6) AS new_center,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM assign a
    JOIN ev e ON e.vec_id = a.vec_id
    GROUP BY a.cid, e.i
    """,
    tags=("llm", "embedding", "iterative"),
)
def q_kmeans_step(spark: SparkSession, d: str):
    """One Lloyd's k-means iteration over the embedding corpus
    (k = 4, fixture vectors as fixed seeds): assign every vector to
    its nearest center by squared L2, then recompute each center as
    the exact decimal mean of its members — the training step behind
    the IVF index (q_sim_ivf) and corpus clustering for mixture
    balancing. Distances are rounded to 6 dp before the argmin (the
    two engines accumulate the position sum in different orders) and
    ties break on center id, so the assignment is bit-stable. Fully
    shuffled-bounded: distances are a (corpus × k) join on position,
    means are one groupBy — no driver iteration inside the step (the
    outer k-means loop would checkpoint between steps exactly like
    q_dedup_components)."""
    e = load_table(spark, d, "embeddings")
    ev = spread_scan(e, "vec_id").select(
        "vec_id", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id", (F.col("pos0") + 1).alias("i"), F.col("xf").cast("double").alias("x")
    )
    cv = (
        ev.filter(F.col("vec_id").isin(*_KM_SEEDS))
        .select(F.col("vec_id").alias("cid"), "i", F.col("x").alias("cx"))
    )
    dists = (
        ev.join(F.broadcast(cv), "i")
        .groupBy("vec_id", "cid")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))), 6
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    assign = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    return (
        assign.join(ev, "vec_id")
        .groupBy("cid", "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("new_center"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select("cid", "i", "new_center", "n_members")
    )


_KM_T = 8  # bounded Lloyd budget: exactly T rounds (or the fixed point)


def _kmeans_train_sql(t: int) -> str:
    """Unrolled t-round Lloyd training as chained CTEs. The Spark side
    may stop early ONLY at the fixed point (assignments stable ⇒ every
    later round is a no-op), so a fixed unrolling is exact whether or
    not convergence happens before round t."""
    parts = [
        """ev AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    )""",
        f"c0 AS (SELECT vec_id AS cid, i, x AS cx FROM ev WHERE vec_id IN {_KM_SEEDS!r})",
    ]
    for r in range(1, t + 1):
        parts.append(
            f"""a{r} AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                                      ORDER BY round(SUM((e.x - c.cx) * (e.x - c.cx)), 6),
                                               c.cid) AS rn
            FROM ev e JOIN c{r - 1} c ON c.i = e.i
            GROUP BY e.vec_id, c.cid
        ) WHERE rn = 1
    )"""
        )
        parts.append(
            f"""c{r} AS (
        SELECT a.cid, e.i,
               round(CAST(SUM(CAST(e.x AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*), 6) AS cx,
               CAST(COUNT(*) AS BIGINT) AS nm
        FROM a{r} a JOIN ev e ON e.vec_id = a.vec_id
        GROUP BY a.cid, e.i
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT cid, CAST(i AS INT) AS i, cx AS center, nm AS n_members FROM c{t}"""
    )


@query(
    "q_kmeans_train",
    oracle=_kmeans_train_sql(_KM_T),
    tags=("llm", "embedding", "iterative"),
)
def q_kmeans_train(spark: SparkSession, d: str):
    """Bounded k-means training: exactly {_KM_T} Lloyd rounds (k = 4,
    fixture seeds), stopping early only when the centers reach their
    fixed point — at which point every remaining round is a no-op, so
    the result equals the oracle's fixed unrolling either way. This is
    the training loop behind q_sim_ivf's coarse quantizer (production
    would feed these centers into the IVF bucket assignment).

    Scale shape, mirroring MLlib's own k-means: centers are k×dim
    doubles that live on the DRIVER and re-enter each round as LITERAL
    arrays inside the plan — so there is no growing lineage to
    checkpoint, and the nearest-center argmin is a pure per-row
    ``least()`` over k (distance, cid) structs: ZERO shuffle, zero
    crossJoin, zero assignment broadcast (round 3 rework — the
    previous shape shuffled a k×corpus crossJoin by vec_id and
    broadcast a corpus-sized assignment table every round; measured
    9.6 s → 5.5 s at sf0.1, with the remaining time dominated by
    per-round fixed job overhead, not data). The only exchange per round is the
    map-side-combined (cid, i) mean — k×dim groups. The per-round
    collect is k×dim values, not data. Distances are rounded to 6 dp
    before the argmin and ties break on center id, keeping the
    assignment bit-stable across engines (same contract as
    q_kmeans_step)."""
    e = load_table(spark, d, "embeddings").select("vec_id", "embedding")

    def to_arrays(rows):
        """rows of (cid, i, value[, n]) → {cid: [v_1..v_dim]} sorted by i."""
        cents: dict[int, list] = {}
        for row in rows:
            cents.setdefault(row[0], []).append((row[1], row[2]))
        return {cid: [v for _, v in sorted(vals)] for cid, vals in cents.items()}

    cents = {
        int(r.vec_id): [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id").isin(*_KM_SEEDS)).collect()
    }
    out_schema = "cid long, i int, center double, n_members long"
    if not cents:  # empty corpus: no seed vectors, nothing to train
        return spark.createDataFrame([], out_schema)
    out_rows = None
    for _ in range(_KM_T):
        # nearest center as a per-row expression: least() over k
        # (rounded-distance, cid) structs built from driver-side
        # literal center arrays — comparison order (d2, cid) gives the
        # same tie-break as the oracle's ROW_NUMBER. (Measured: literal
        # arrays beat a per-round single-row broadcast — the broadcast
        # setup costs more than the per-round codegen it saves.)
        candidates = []
        for cid, arr in sorted(cents.items()):
            carr = F.array(*[F.lit(v) for v in arr])
            d2 = F.round(similarity.sq_dist("embedding", carr), 6)
            candidates.append(
                F.struct(d2.alias("d2"), F.lit(cid).cast("long").alias("cid"))
            )
        best = candidates[0] if len(candidates) == 1 else F.least(*candidates)
        assigned = e.select(best.getField("cid").alias("cid"), "embedding")
        newc = (
            assigned.select("cid", F.posexplode("embedding").alias("pos0", "xf"))
            .select("cid", (F.col("pos0") + 1).cast("int").alias("i"), "xf")
            .groupBy("cid", "i")
            .agg(
                F.round(
                    F.sum(
                        F.col("xf").cast("double").cast("decimal(38,10)")
                    ).cast("double")
                    / F.count(F.lit(1)),
                    6,
                ).alias("center"),
                F.count(F.lit(1)).alias("n_members"),
            )
        )
        out_rows = newc.collect()
        new_cents = to_arrays(out_rows)
        if new_cents == cents:  # fixed point — remaining rounds no-op
            break
        cents = new_cents
    return spark.createDataFrame(out_rows, out_schema)


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


# 2^60 as double: denominator turning a 15-hex-digit md5 prefix into
# u ∈ [0, 1). Both engines do the same int64→double conversion and the
# same IEEE divide, so u (and every comparison against it) is exact.
_U_DENOM = 1152921504606846976.0


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
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / _U_DENOM
    )
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(u < F.col("rate"))
        .select("doc_id", "source", F.size(text.tokens()).alias("n_tokens"))
    )
