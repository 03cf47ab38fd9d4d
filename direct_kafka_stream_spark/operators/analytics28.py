"""Round-5 batch 3: robust variance-equality (Brown–Forsythe),
Cohen's d effect size, Cramér's V association, class-based TF-IDF top
terms, hapax/type-token lexical profiling, Heaps'-law vocabulary
growth, daily burstiness (Fano factor), RAKE keyword extraction, and
one Newton step of logistic-regression training.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
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
)
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.registry import query


@query(
    "q_levene",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type, abs(e.value - m.med) AS z
        FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS cnt,
               {dsum_sql('z')} AS s,
               {dsum_sql('z * z')} AS ss
        FROM z GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS DOUBLE) AS n,
               CAST(COUNT(*) AS DOUBLE) AS k,
               CAST(ROUND(SUM(CAST(s AS DECIMAL(38,10))), 4) AS DOUBLE) AS gs
        FROM g
    ),
    terms AS (
        SELECT t.n, t.k,
               round(g.cnt * (g.s / g.cnt - t.gs / t.n)
                           * (g.s / g.cnt - t.gs / t.n), 9) AS tb,
               round(g.ss - g.s * g.s / g.cnt, 9) AS tw
        FROM g, tot t
    )
    SELECT CAST(MAX(k) AS BIGINT) AS k,
           CAST(MAX(n) AS BIGINT) AS n,
           round((CAST(ROUND(SUM(CAST(tb AS DECIMAL(38,10))), 6) AS DOUBLE)
                      / NULLIF(MAX(k) - 1, 0))
                 / NULLIF(CAST(ROUND(SUM(CAST(tw AS DECIMAL(38,10))), 6)
                              AS DOUBLE)
                          / NULLIF(MAX(n) - MAX(k), 0), 0), 6) AS w_stat
    FROM terms
    """,
    tags=("stats", "hypothesis-test"),
)
def q_levene(spark: SparkSession, d: str):
    """Brown–Forsythe (median-based Levene) test of variance equality
    across event types: one-way ANOVA on z = |x − group median| — the
    robust pre-check that decides whether pooled-variance tests
    (q_anova, q_welch_ttest's pooled sibling) are even admissible.

    Scale shape: the |types|-row exact-interpolated-median table
    broadcasts onto one fact scan to form z, then the q_anova moment
    machinery takes over (one map-side-combined aggregation to |types|
    sufficient-statistic rows). Same 9 dp-rounded-term + decimal-sum
    exactness discipline as q_anova."""
    return levene_stat(load_table(spark, d, "events"))


def levene_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    z = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("z")
    )
    g = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        dsum("z").alias("s"),
        dsum(F.col("z") * F.col("z")).alias("ss"),
    )
    tot = g.agg(
        F.sum("cnt").alias("n"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.round(F.sum(F.col("s").cast(DEC)), 4).cast("double").alias("gs"),
    )
    mean_g = F.col("s") / F.col("cnt")
    mean = F.col("gs") / F.col("n")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "n",
        "k",
        F.round(F.col("cnt") * (mean_g - mean) * (mean_g - mean), 9).alias("tb"),
        F.round(F.col("ss") - F.col("s") * F.col("s") / F.col("cnt"), 9).alias(
            "tw"
        ),
    )
    ssb = F.round(F.sum(F.col("tb").cast(DEC)), 6).cast("double")
    ssw = F.round(F.sum(F.col("tw").cast(DEC)), 6).cast("double")
    return terms.agg(
        F.max("k").cast("bigint").alias("k"),
        F.max("n").cast("bigint").alias("n"),
        F.round(
            (ssb / F.nullif(F.max("k") - 1, F.lit(0.0)))
            / F.nullif(
                ssw / F.nullif(F.max("n") - F.max("k"), F.lit(0.0)), F.lit(0.0)
            ),
            6,
        ).alias("w_stat"),
    )


_CD_A = "click"
_CD_B = "purchase"


@query(
    "q_cohens_d",
    oracle=f"""
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS cnt,
               {dsum_sql('value')} AS s,
               {dsum_sql('value * value')} AS ss
        FROM events WHERE event_type IN ('{_CD_A}', '{_CD_B}')
        GROUP BY event_type
    ),
    ab AS (
        SELECT
            MAX(CASE WHEN event_type = '{_CD_A}' THEN cnt END) AS na,
            MAX(CASE WHEN event_type = '{_CD_A}' THEN s END) AS sa,
            MAX(CASE WHEN event_type = '{_CD_A}' THEN ss END) AS ssa,
            MAX(CASE WHEN event_type = '{_CD_B}' THEN cnt END) AS nb,
            MAX(CASE WHEN event_type = '{_CD_B}' THEN s END) AS sb,
            MAX(CASE WHEN event_type = '{_CD_B}' THEN ss END) AS ssb
        FROM g
    )
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           round(sa / na - sb / nb, 6) AS mean_diff,
           round((sa / na - sb / nb)
                 / NULLIF(sqrt(((ssa - sa * sa / na) + (ssb - sb * sb / nb))
                        / (na + nb - 2)), 0.0), 6) AS cohens_d
    FROM ab
    """,
    tags=("stats", "effect-size"),
)
def q_cohens_d(spark: SparkSession, d: str):
    """Cohen's d standardized effect size between click and purchase
    values: mean difference over the pooled standard deviation — the
    practical-significance companion every hypothesis test in the
    engine (q_welch_ttest, q_mann_whitney, q_ab_test) should be read
    with (a tiny p-value with d ≈ 0 is noise at corpus scale).

    One filtered map-side-combined aggregation to two moment rows,
    pivoted to a single row; everything after is scalar arithmetic
    written in identical operation order on both engines."""
    return cohens_d_stat(load_table(spark, d, "events"))


def cohens_d_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events.filter(
        F.col("event_type").isin(_CD_A, _CD_B)
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        dsum("value").alias("s"),
        dsum(F.col("value") * F.col("value")).alias("ss"),
    )
    ab = g.agg(
        F.max(F.when(F.col("event_type") == _CD_A, F.col("cnt"))).alias("na"),
        F.max(F.when(F.col("event_type") == _CD_A, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("event_type") == _CD_A, F.col("ss"))).alias("ssa"),
        F.max(F.when(F.col("event_type") == _CD_B, F.col("cnt"))).alias("nb"),
        F.max(F.when(F.col("event_type") == _CD_B, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("event_type") == _CD_B, F.col("ss"))).alias("ssb"),
    )
    na, sa, ssa = F.col("na"), F.col("sa"), F.col("ssa")
    nb, sb, ssb = F.col("nb"), F.col("sb"), F.col("ssb")
    diff = sa / na - sb / nb
    pooled = F.sqrt(
        ((ssa - sa * sa / na) + (ssb - sb * sb / nb)) / (na + nb - 2)
    )
    return ab.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        F.round(diff, 6).alias("mean_diff"),
        # NULLIF: zero pooled sd (two degenerate samples) must yield
        # NULL identically on both engines, not an engine-specific
        # division-by-zero artifact
        F.round(diff / F.nullif(pooled, F.lit(0.0)), 6).alias("cohens_d"),
    )


# Cramér's V value-bucket width (same grid family as q_chi2).
_CV_BIN = 50.0


@query(
    "q_cramers_v",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS t,
               CAST(FLOOR(value / {_CV_BIN}) AS BIGINT) AS b,
               COUNT(*) AS o
        FROM events GROUP BY 1, 2
    ),
    rm AS (SELECT t, SUM(o) AS rt FROM cells GROUP BY t),
    cm AS (SELECT b, SUM(o) AS ct FROM cells GROUP BY b),
    n AS (SELECT CAST(SUM(o) AS DOUBLE) AS n,
                 CAST((SELECT COUNT(*) FROM rm) AS DOUBLE) AS r,
                 CAST((SELECT COUNT(*) FROM cm) AS DOUBLE) AS c
          FROM cells),
    terms AS (
        SELECT n.n, n.r, n.c,
               round((CAST(cl.o AS DOUBLE) - rm.rt * cm.ct / n.n)
                     * (CAST(cl.o AS DOUBLE) - rm.rt * cm.ct / n.n)
                     / (rm.rt * cm.ct / n.n), 9) AS term,
               round(rm.rt * cm.ct / n.n, 9) AS e
        FROM cells cl
        JOIN rm ON rm.t = cl.t
        JOIN cm ON cm.b = cl.b
        CROSS JOIN n
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(r) AS BIGINT) AS r,
           CAST(MAX(c) AS BIGINT) AS c,
           round(CAST(ROUND(SUM(CAST(term AS DECIMAL(38,10))), 6) AS DOUBLE)
                 + (MAX(n)
                    - CAST(ROUND(SUM(CAST(e AS DECIMAL(38,10))), 6)
                           AS DOUBLE)), 6) AS chi2,
           round(sqrt((CAST(ROUND(SUM(CAST(term AS DECIMAL(38,10))), 6)
                            AS DOUBLE)
                       + (MAX(n)
                          - CAST(ROUND(SUM(CAST(e AS DECIMAL(38,10))), 6)
                                 AS DOUBLE)))
                      / NULLIF(MAX(n) * LEAST(MAX(r) - 1, MAX(c) - 1), 0.0)),
                 6) AS cramers_v
    FROM terms
    """,
    tags=("stats", "association"),
)
def q_cramers_v(spark: SparkSession, d: str):
    """Cramér's V association strength between event type and value
    bucket — the normalized (0‥1) effect size on top of the chi²
    machinery (q_chi2 reports the test statistic; V answers "how
    strongly are they related", comparable across grids of different
    shape).

    Empty contingency cells contribute (0−e)²/e = e, so
    χ² = Σ_observed (o−e)²/e + (n − Σ_observed e) — the observed-cells
    sum plus a closed-form correction, never a grid rebuild. One
    grid-keyed aggregate, marginals joined back on the bounded cell
    table, 9 dp-rounded terms, exact decimal sums."""
    return cramers_v_stat(load_table(spark, d, "events"))


def cramers_v_stat(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    cells = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") / _CV_BIN).cast("bigint").alias("b"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rm = cells.groupBy("t").agg(F.sum("o").alias("rt"))
    cm = cells.groupBy("b").agg(F.sum("o").alias("ct"))
    n = cells.agg(
        F.sum("o").cast("double").alias("n"),
    ).crossJoin(
        F.broadcast(rm.agg(F.count(F.lit(1)).cast("double").alias("r")))
    ).crossJoin(
        F.broadcast(cm.agg(F.count(F.lit(1)).cast("double").alias("c")))
    )
    ex = F.col("rt") * F.col("ct") / F.col("n")
    terms = (
        cells.join(F.broadcast(rm), "t")
        .join(F.broadcast(cm), "b")
        .crossJoin(F.broadcast(n))
        .select(
            "n",
            "r",
            "c",
            F.round(
                (F.col("o").cast("double") - ex)
                * (F.col("o").cast("double") - ex)
                / ex,
                9,
            ).alias("term"),
            F.round(ex, 9).alias("e"),
        )
    )
    tsum = F.round(F.sum(F.col("term").cast(DEC)), 6).cast("double")
    esum = F.round(F.sum(F.col("e").cast(DEC)), 6).cast("double")
    chi2 = tsum + (F.max("n") - esum)
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("r").cast("bigint").alias("r"),
        F.max("c").cast("bigint").alias("c"),
        F.round(chi2, 6).alias("chi2"),
        # NULLIF: a 1xc or rx1 grid has zero degrees of freedom — V is
        # undefined (NULL on both engines), not a div-by-zero artifact
        F.round(
            F.sqrt(
                chi2
                / F.nullif(
                    F.max("n") * F.least(F.max("r") - 1, F.max("c") - 1),
                    F.lit(0.0),
                )
            ),
            6,
        ).alias("cramers_v"),
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


@query(
    "q_burstiness",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    st AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS nd,
               CAST(SUM(c) AS DOUBLE) AS s,
               CAST(SUM(c * c) AS DOUBLE) AS ssq
        FROM daily GROUP BY event_type
    )
    SELECT event_type,
           CAST(nd AS BIGINT) AS n_days,
           round(s / nd, 6) AS mean_daily,
           round(((ssq - s * s / nd) / nd) / (s / nd), 6) AS fano,
           round((sqrt((ssq - s * s / nd) / nd) - s / nd)
                 / (sqrt((ssq - s * s / nd) / nd) + s / nd), 6)
               AS burstiness
    FROM st
    """,
    tags=("events", "timeseries"),
)
def q_burstiness(spark: SparkSession, d: str):
    """Arrival burstiness per event type from daily counts: the Fano
    factor (variance/mean — 1 for Poisson, ≫1 for bursty) and the
    Goh–Barabási burstiness index (σ−μ)/(σ+μ) ∈ (−1, 1) — the
    dispersion diagnostics that separate organic traffic from
    bot-driven spikes at the series level (q_bot_burst flags the
    minutes; this scores the process).

    The corpus reduces to (type × day) integer counts in one
    map-side-combined aggregation; moments are exact integer sums cast
    once, and every derived expression shares operation order with the
    oracle."""
    return burstiness_report(load_table(spark, d, "events"))


def burstiness_report(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    daily = (
        ev
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    st = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("c").cast("double").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("double").alias("ssq"),
    )
    nd, s, ssq = F.col("nd"), F.col("s"), F.col("ssq")
    var = (ssq - s * s / nd) / nd
    mean = s / nd
    return st.select(
        "event_type",
        nd.cast("bigint").alias("n_days"),
        F.round(mean, 6).alias("mean_daily"),
        F.round(var / mean, 6).alias("fano"),
        F.round(
            (F.sqrt(var) - mean) / (F.sqrt(var) + mean), 6
        ).alias("burstiness"),
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
    "q_logistic_step",
    oracle=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               {dsum_sql('l_quantity')} AS sx,
               {dsum_sql('l_quantity * l_quantity')} AS sxx,
               {dsum_sql("CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END - 0.5")}
                   AS g0,
               {dsum_sql("l_quantity * (CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END - 0.5)")}
                   AS g1
        FROM lineitem
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((0.25 * sxx * g0 - 0.25 * sx * g1)
                 / NULLIF(0.0625 * (n * sxx - sx * sx), 0.0), 6) AS b0,
           round((0.25 * n * g1 - 0.25 * sx * g0)
                 / NULLIF(0.0625 * (n * sxx - sx * sx), 0.0), 6) AS b1
    FROM m
    """,
    tags=("ml", "training"),
)
def q_logistic_step(spark: SparkSession, d: str):
    """One Newton–Raphson step of logistic-regression training
    (P(returnflag = 'R') ~ quantity) from β = 0: at the zero vector
    every fitted probability is exactly ½, so the gradient is
    Σ x·(y − ½) and the Hessian ¼·XᵀX — both plain moment
    aggregations, and the step solves a 2×2 system in closed form.
    This is the distributed-IRLS building block (each further
    iteration is the same shape with re-weighted moments), the GLM
    sibling of q_kmeans_step.

    ONE map-side-combined pass produces all five moments; the solve is
    scalar arithmetic in identical operation order on both engines.
    y − ½ = ±½ exactly, so every gradient term is exact in decimal."""
    li = load_table(spark, d, "lineitem")
    x = F.col("l_quantity")
    y = F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sxx"),
        dsum(y - 0.5).alias("g0"),
        dsum(x * (y - 0.5)).alias("g1"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    g0, g1 = F.col("g0"), F.col("g1")
    # NULLIF: a constant feature makes the Hessian singular — the
    # step is undefined (NULL) identically on both engines
    det = F.nullif(0.0625 * (n * sxx - sx * sx), F.lit(0.0))
    return m.select(
        n.cast("bigint").alias("n"),
        F.round((0.25 * sxx * g0 - 0.25 * sx * g1) / det, 6).alias("b0"),
        F.round((0.25 * n * g1 - 0.25 * sx * g0) / det, 6).alias("b1"),
    )
