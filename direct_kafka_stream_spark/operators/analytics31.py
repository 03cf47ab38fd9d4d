"""Round-6 curation depth kit: per-source token-budget mixing, greedy
k-center coreset selection over embeddings, closed-form embedding
diversity, a squared-distance silhouette score for the labeled
clusters, a per-source corpus scorecard, and k-fold cross-validation
assignment — the dataset-construction tooling that sits between the
dedup/quality gates and the final training mixture.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import DEC, dsum_sql, u01, u01_sql
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.registry import query

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
# q_kcenter_coreset — greedy max-min (k-center) selection over embeddings
# ---------------------------------------------------------------------------

_KC_K = 4  # selected centers (including the seed vec_id 0)

_KC_D2 = """round(list_reduce(list_transform(range(1, len({a}.embedding) + 1),
        i -> (CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE))
           * (CAST({a}.embedding[i] AS DOUBLE) - CAST({b}.embedding[i] AS DOUBLE))),
        (acc, t) -> acc + t), 6)"""


def _kcenter_oracle() -> str:
    # Greedy selection unrolled: step s picks the point maximizing the
    # min squared distance to the s centers chosen so far (ties to the
    # smallest vec_id); the same literal-fold d2 as the Spark side.
    parts = ["c0(step, vec_id, sel_d2) AS (VALUES (0, CAST(0 AS BIGINT), CAST(NULL AS DOUBLE)))"]
    prev = "c0"
    for s in range(1, _KC_K):
        d2 = _KC_D2.format(a="e", b="ce")
        parts.append(
            f"""m{s} AS (
        SELECT e.vec_id, MIN({d2}) AS mind
        FROM embeddings e, embeddings ce
        WHERE ce.vec_id IN (SELECT vec_id FROM {prev})
          AND e.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY e.vec_id
    ),
    pick{s} AS (
        SELECT {s} AS step, vec_id, mind AS sel_d2 FROM m{s}
        ORDER BY mind DESC, vec_id LIMIT 1
    ),
    c{s} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM pick{s})"""
        )
        prev = f"c{s}"
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT CAST(step AS INT) AS step, vec_id,
           round(sel_d2, 6) AS sel_d2
    FROM {prev} ORDER BY step
    """


@query(
    "q_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("llm", "embedding", "coreset"),
)
def q_kcenter_coreset(spark: SparkSession, d: str):
    """Greedy k-center (farthest-point) coreset selection over the
    embeddings: starting from vec_id 0, each step adds the point with
    the largest min-squared-distance to the centers chosen so far —
    the classic 2-approximation cover that picks maximally-diverse
    exemplars for labeling / eval-set construction.

    Scale shape: the canonical bounded-iteration pattern (q_kmeans_
    train's contract): k−1 supersteps, each a single scan against a
    ≤k-row broadcast center table with a per-row least() min-distance
    and a 1-row TakeOrdered argmax collect — the only driver-side data
    is k rows. Distances fold (x_i−c_i)² in array-index order on both
    engines (bit-identical doubles, 6 dp round), so the argmax and
    tie-break can never diverge."""
    e = spread_scan(load_table(spark, d, "embeddings"), "vec_id")
    centers = [(0, 0, None)]  # (step, vec_id, sel_d2)
    for step in range(1, _KC_K):
        ids = [c[1] for c in centers]
        cent = e.filter(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
        )
        d2 = F.round(similarity.sq_dist("embedding", "cvec"), 6)
        best_rows = (
            e.filter(~F.col("vec_id").isin(ids))
            .crossJoin(F.broadcast(cent))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind"))
            .orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
            .collect()
        )
        if not best_rows:  # fewer points than k (or empty table):
            break  # the selection is complete — matches the oracle's
            # empty m{s} CTE, whose pick{s} contributes no row
        best = best_rows[0]
        centers.append((step, best.vec_id, float(best.mind)))
    return spark.createDataFrame(
        centers, "step int, vec_id bigint, sel_d2 double"
    ).select("step", "vec_id", F.round("sel_d2", 6).alias("sel_d2"))


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
# q_silhouette_approx — centroid-based silhouette per labeled cluster
# ---------------------------------------------------------------------------


@query(
    "q_silhouette_approx",
    oracle="""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, i,
               round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
                     / COUNT(*), 6) AS c
        FROM ev GROUP BY label, i
    ),
    carr AS (
        SELECT clabel, list(c ORDER BY i) AS cvec FROM cent GROUP BY clabel
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(list_reduce(
                   list_transform(range(1, len(e.embedding) + 1),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                   (acc, t) -> acc + t), 6) AS d2
        FROM embeddings e CROSS JOIN carr c
    ),
    ab AS (
        SELECT vec_id, label,
               MAX(CASE WHEN clabel = label THEN d2 END) AS a,
               MIN(CASE WHEN clabel <> label THEN d2 END) AS b
        FROM scored GROUP BY vec_id, label
    ),
    s AS (
        SELECT label,
               round((b - a) / NULLIF(GREATEST(a, b), 0.0), 6) AS sil
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(ROUND(SUM(CAST(sil AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / COUNT(*), 6) AS mean_silhouette
    FROM s GROUP BY label ORDER BY label
    """,
    tags=("llm", "embedding", "clustering"),
)
def q_silhouette_approx(spark: SparkSession, d: str):
    """Centroid-based (squared-distance) silhouette per labeled
    cluster: a(i) = d²(x, own centroid), b(i) = min d²(x, other
    centroid), s = (b−a)/max(a,b) averaged per label — the clustering
    quality readout that says which labels are actually separated in
    embedding space (the simplified 'medoid silhouette' every k-means
    evaluation uses to avoid the O(n²) exact silhouette).

    Same plan skeleton as q_class_metrics: 6 dp centroid grid
    broadcast (labels×d), per-row index-order distance folds
    (bit-identical), a vec-keyed a/b rollup, then a labels-sized
    mean over 6 dp silhouettes via the exact-decimal contract."""
    e = load_table(spark, d, "embeddings")
    ev = e.select(
        "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        F.col("label").alias("clabel"),
        (F.col("pos0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = ev.groupBy("clabel", "i").agg(
        F.round(
            F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("c")
    )
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    d2 = F.round(similarity.sq_dist("embedding", "cvec"), 6)
    scored = e.crossJoin(F.broadcast(carr)).select(
        "vec_id", "label", "clabel", d2.alias("d2")
    )
    ab = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b"),
    )
    sil = ab.select(
        "label",
        F.round(
            (F.col("b") - F.col("a"))
            / F.nullif(F.greatest("a", "b"), F.lit(0.0)),
            6,
        ).alias("sil"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.round(F.sum(F.col("sil").cast(DEC)), 6).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_silhouette"),
        )
        .orderBy("label")
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
    fold = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
        ).cast("long")
        % _CV_K
    )
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
