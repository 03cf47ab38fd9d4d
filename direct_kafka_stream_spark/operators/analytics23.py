"""Round-4 training-prep / rank-statistics / graph sweep: deterministic
epoch shuffling into shards, per-document sentence statistics, a
scale-safe Spearman rank correlation (stitched average ranks — no
global sort), and common-neighbor link prediction on the bucketed
similarity graph.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import bounded_window_key
from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators import text
from direct_kafka_stream_spark.operators.analytics22 import (
    sim_edges_spark,
    sim_edges_sql,
)
from direct_kafka_stream_spark.registry import query

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


# Spearman: coarse value bins for the two-level stitched rank
# computation, one width per variable (quantity is near-integral,
# price spans ~1e5).
_SP_QBIN = 5.0
_SP_PBIN = 2000.0


def _rank_sql(col: str, bin_w: float, tag: str) -> str:
    """DuckDB CTEs computing ar2 = 2·(average pooled rank) per distinct
    value of ``col`` with the bin-stitched prefix (no global sort)."""
    return f"""
    vals_{tag} AS (
        SELECT {col} AS v, CAST(floor({col} / {bin_w}) AS BIGINT) AS bin,
               COUNT(*) AS t
        FROM lineitem GROUP BY {col}
    ),
    bins_{tag} AS (SELECT bin, SUM(t) AS bt FROM vals_{tag} GROUP BY bin),
    binp_{tag} AS (
        SELECT bin,
               COALESCE(SUM(bt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        FROM bins_{tag}
    ),
    rank_{tag} AS (
        SELECT v.v,
               2 * (p.prior + COALESCE(SUM(v.t) OVER (PARTITION BY v.bin
                        ORDER BY v.v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))
               + v.t + 1 AS ar2
        FROM vals_{tag} v JOIN binp_{tag} p USING (bin)
    )"""


@query(
    "q_spearman",
    oracle=f"""
    WITH {_rank_sql("l_quantity", _SP_QBIN, "q").strip()},
    {_rank_sql("l_extendedprice", _SP_PBIN, "p").strip()},
    pairs AS (
        SELECT rq.ar2 AS ra, rp.ar2 AS rb
        FROM lineitem l
        JOIN rank_q rq ON rq.v = l.l_quantity
        JOIN rank_p rp ON rp.v = l.l_extendedprice
    ),
    m AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(ra AS DECIMAL(38,0))) AS sa,
               SUM(CAST(rb AS DECIMAL(38,0))) AS sb,
               SUM(CAST(ra AS DECIMAL(38,0)) * rb) AS sab,
               SUM(CAST(ra AS DECIMAL(38,0)) * ra) AS saa,
               SUM(CAST(rb AS DECIMAL(38,0)) * rb) AS sbb
        FROM pairs
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                  - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                         - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                           - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0.0),
                 6) AS rho
    FROM m
    """,
    tags=("stats", "correlation", "scale"),
)
def q_spearman(spark: SparkSession, d: str):
    """Spearman rank correlation between quantity and extended price
    over the full lineitem table — the monotone-association measure
    robust to outliers and nonlinearity (feature screening where
    Pearson misleads). Ties get average ranks, the exact tie-handling
    Spearman requires.

    The textbook form ranks BOTH columns globally (two total orders).
    Here each variable's average rank per distinct value comes from
    the bin-stitched two-level prefix (the q_mann_whitney machinery,
    once per variable), doubled into integers (ar2 = 2·avg rank) so
    every moment is exact; rows join their value's rank back on the
    value key, and Pearson-on-ranks is one scalar aggregate in
    DECIMAL(38,0) (the ×2 factors cancel in the correlation). Scale
    shape: two distinct-value aggregates with bounded windows, two
    value-keyed joins, one moment rollup — no global sort anywhere."""
    return spearman_report(load_table(spark, d, "lineitem"))


def spearman_report(li):
    """Composable twin entry: the exact q_spearman computation over a
    lineitem-shaped frame (tests/test_streaming.py stages lineitem as
    a file stream and recomputes this per micro-batch)."""
    return spearman_rho(
        li.select("l_quantity", "l_extendedprice"),
        "l_quantity",
        "l_extendedprice",
        _SP_QBIN,
        _SP_PBIN,
    )


def stitched_avg_ranks(df, col: str, bin_w: float):
    """(v, ar2 = 2·average pooled mid-rank) per distinct value of
    ``col`` via the two-level bin-stitched prefix — the shared rank
    kernel (the q_mann_whitney machinery); property-tested against
    brute-force pooled mid-ranks in tests/test_properties.py."""
    vals = (
        df.select(
            F.col(col).alias("v"), F.floor(F.col(col) / bin_w).alias("bin")
        )
        .groupBy("v", "bin")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    bins = vals.groupBy("bin").agg(F.sum("t").alias("bt"))
    # literal key: bins-sized frame, one-partition window intended
    wb = Window.partitionBy(bounded_window_key("bin")).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binp = bins.select(
        "bin", F.coalesce(F.sum("bt").over(wb), F.lit(0)).alias("prior")
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return vals.join(F.broadcast(binp), "bin").select(
        "v",
        (
            2
            * (F.col("prior") + F.coalesce(F.sum("t").over(wv), F.lit(0)))
            + F.col("t")
            + 1
        ).alias("ar2"),
    )


def spearman_rho(li, col_a: str, col_b: str, bin_a: float, bin_b: float):
    """Composable Spearman over any two numeric columns of ``li`` —
    also the property-test entry point (brute-force pooled ranks,
    tests/test_properties.py)."""
    rq = stitched_avg_ranks(li, col_a, bin_a).withColumnRenamed("ar2", "ra")
    rp = stitched_avg_ranks(li, col_b, bin_b).withColumnRenamed("ar2", "rb")
    pairs = li.join(
        F.broadcast(rq), li[col_a] == rq.v
    ).join(rp, li[col_b] == rp.v).select("ra", "rb")
    D = "decimal(38,0)"
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("ra").cast(D)).alias("sa"),
        F.sum(F.col("rb").cast(D)).alias("sb"),
        F.sum(F.col("ra").cast(D) * F.col("rb")).alias("sab"),
        F.sum(F.col("ra").cast(D) * F.col("ra")).alias("saa"),
        F.sum(F.col("rb").cast(D) * F.col("rb")).alias("sbb"),
    )
    nd = F.col("n").cast("double")
    sa, sb = F.col("sa").cast("double"), F.col("sb").cast("double")
    sab = F.col("sab").cast("double")
    saa, sbb = F.col("saa").cast("double"), F.col("sbb").cast("double")
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        # NULLIF: a single-valued column has zero rank variance — rho
        # is undefined (NULL both engines), never an ANSI abort
        F.round(
            (nd * sab - sa * sb)
            / F.nullif(
                F.sqrt((nd * saa - sa * sa) * (nd * sbb - sb * sb)),
                F.lit(0.0),
            ),
            6,
        ).alias("rho"),
    )


_LP_TOPK = 20


def _link_predict_oracle() -> str:
    return f"""
    WITH {sim_edges_sql().strip()},
    und AS (
        SELECT a AS u, b AS v FROM e
        UNION ALL
        SELECT b AS u, a AS v FROM e
    ),
    deg AS (SELECT u, COUNT(*) AS dg FROM und GROUP BY u),
    common AS (
        SELECT x.v AS a, y.v AS c, COUNT(*) AS cn
        FROM und x JOIN und y ON y.u = x.u AND x.v < y.v
        GROUP BY x.v, y.v
    ),
    nonedge AS (
        SELECT cm.a, cm.c, cm.cn
        FROM common cm
        LEFT JOIN e ON e.a = cm.a AND e.b = cm.c
        WHERE e.a IS NULL
    ),
    scored AS (
        SELECT ne.a, ne.c, ne.cn,
               round(CAST(ne.cn AS DOUBLE)
                     / (da.dg + dc.dg - ne.cn), 6) AS jaccard
        FROM nonedge ne
        JOIN deg da ON da.u = ne.a
        JOIN deg dc ON dc.u = ne.c
    )
    SELECT a, c, CAST(cn AS BIGINT) AS common_neighbors, jaccard
    FROM scored
    ORDER BY jaccard DESC, a, c
    LIMIT {_LP_TOPK}
    """


@query("q_link_predict", oracle=_link_predict_oracle(), tags=("graph", "similarity"))
def q_link_predict(spark: SparkSession, d: str):
    """Link prediction on the bucketed similarity graph: for every
    NON-adjacent pair with at least one common neighbor, the Jaccard
    neighborhood score |N(a)∩N(c)| / |N(a)∪N(c)|, top-20 — the
    classical common-neighbors recommender ('these two documents
    share many near-duplicates but were never compared directly'),
    and the candidate generator for a second-pass exact comparison in
    dedup pipelines.

    Scale shape: candidate pairs come from the wedge join (edges
    joined on the SHARED endpoint — the q_triangle_count pattern), so
    cost is Σ deg², bounded by the LSH bucket cap, never corpus².
    Existing edges drop out via a left-anti join on the pair key;
    degrees broadcast (node-sized). The final top-k is
    TakeOrderedAndProject on the ROUNDED score with (a, c) tiebreak —
    no global sort materialises."""
    e = track(sim_edges_spark(spark, d).persist())
    und = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = und.groupBy("u").agg(F.count(F.lit(1)).alias("dg"))
    x = und.select("u", F.col("v").alias("a"))
    y = und.select("u", F.col("v").alias("c"))
    common = (
        x.join(y, "u")
        .filter(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    nonedge = common.join(
        e, (e.a == common.a) & (e.b == common.c), "left_anti"
    )
    da = deg.select(F.col("u").alias("a"), F.col("dg").alias("da"))
    dc = deg.select(F.col("u").alias("c"), F.col("dg").alias("dc"))
    scored = (
        nonedge.join(F.broadcast(da), "a")
        .join(F.broadcast(dc), "c")
        .select(
            "a",
            "c",
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(
                F.col("cn").cast("double") / (F.col("da") + F.col("dc") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "a", "c"
    ).limit(_LP_TOPK)
