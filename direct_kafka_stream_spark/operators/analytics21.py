"""Round-4 evaluation / integrity sweep: ranking quality (nDCG@k),
a tie-corrected Mann-Whitney U rank-sum test with the scale-safe
bin-stitched rank computation, per-class precision/recall/F1 of a
nearest-centroid classifier, an order-insensitive per-partition table
checksum for copy reconciliation, and Bollinger-band breakout
detection over per-user event streams.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import DEC, bounded_window_key
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity
from direct_kafka_stream_spark.registry import query

# nDCG cut-off and the positional discount weights 1/log2(r+1),
# embedded as repr'd double literals so BOTH engines parse the exact
# same IEEE value instead of each calling its own log2 (last-ulp
# divergence would sit under every downstream sum otherwise).
_NDCG_K = 5
_NDCG_W = {r: 1.0 / math.log2(r + 1) for r in range(1, _NDCG_K + 1)}

_NDCG_W_SQL = (
    "CASE pr " + " ".join(f"WHEN {r} THEN {w!r}" for r, w in _NDCG_W.items()) + " END"
)


@query(
    "q_ndcg",
    oracle=f"""
    WITH ranked AS (
        SELECT l_orderkey,
               CAST(l_quantity AS DOUBLE) AS rel,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_extendedprice DESC, l_linenumber) AS pr,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_quantity DESC, l_linenumber) AS ir
        FROM lineitem
    ),
    dcg AS (
        SELECT l_orderkey,
               CAST(round(SUM(CAST(CASE WHEN pr <= {_NDCG_K}
                   THEN rel * ({_NDCG_W_SQL})
                   ELSE 0.0 END AS DECIMAL(38,10))), 6) AS DOUBLE) AS dcg
        FROM ranked GROUP BY l_orderkey
    ),
    idcg AS (
        SELECT l_orderkey,
               CAST(round(SUM(CAST(CASE WHEN ir <= {_NDCG_K}
                   THEN rel * (CASE ir {" ".join(f"WHEN {r} THEN {w!r}" for r, w in _NDCG_W.items())} END)
                   ELSE 0.0 END AS DECIMAL(38,10))), 6) AS DOUBLE) AS idcg
        FROM ranked GROUP BY l_orderkey
    ),
    per_order AS (
        SELECT d.l_orderkey, round(d.dcg / i.idcg, 6) AS ndcg
        FROM dcg d JOIN idcg i USING (l_orderkey)
    )
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(round(SUM(CAST(p.ndcg AS DECIMAL(38,10))), 6) AS DOUBLE)
                 / COUNT(*), 6) AS avg_ndcg
    FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("eval", "ranking"),
)
def q_ndcg(spark: SparkSession, d: str):
    """nDCG@5 of a price-ordered ranking against quantity relevance,
    averaged per order priority — the standard offline ranking-quality
    metric (search / recsys eval over a judged set). Treats each order
    as a query: "predicted" ranking by extended price, graded relevance
    = quantity; DCG uses literal 1/log2(r+1) discounts shared verbatim
    with the oracle so no engine calls its own log2.

    Scale shape: both rank windows partition by order key (frames
    bounded by lines-per-order, ≤7), the DCG sums are order-keyed
    map-side-combinable aggregates in exact decimal, and the final
    roll-up is priority-keyed over an orders-sized table. No global
    window anywhere."""
    li = load_table(spark, d, "lineitem")
    wp = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), "l_linenumber"
    )
    wi = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_quantity").desc(), "l_linenumber"
    )
    ranked = li.select(
        "l_orderkey",
        F.col("l_quantity").cast("double").alias("rel"),
        F.row_number().over(wp).alias("pr"),
        F.row_number().over(wi).alias("ir"),
    )

    def _disc(rank_col):
        expr = F.lit(0.0)
        for r, w in _NDCG_W.items():
            expr = F.when(rank_col == r, F.lit(w)).otherwise(expr)
        return expr

    def _dsum6(col):
        return F.round(F.sum(col.cast(DEC)), 6).cast("double")

    per_order = ranked.groupBy("l_orderkey").agg(
        _dsum6(
            F.when(F.col("pr") <= _NDCG_K, F.col("rel") * _disc(F.col("pr"))).otherwise(
                F.lit(0.0)
            )
        ).alias("dcg"),
        _dsum6(
            F.when(F.col("ir") <= _NDCG_K, F.col("rel") * _disc(F.col("ir"))).otherwise(
                F.lit(0.0)
            )
        ).alias("idcg"),
    )
    per_order = per_order.select(
        "l_orderkey", F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg")
    )
    orders = load_table(spark, d, "orders").select("o_orderkey", "o_orderpriority")
    return (
        per_order.join(orders, per_order.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.round(F.sum(F.col("ndcg").cast(DEC)), 6).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_ndcg"),
        )
    )


# Mann-Whitney: coarse value bins for the two-level (bin prefix +
# within-bin prefix) rank computation — the q_weighted_median /
# q_drift_ks_binned stitching applied to rank sums.
_MW_BIN = 10.0
_MW_A = "click"
_MW_B = "purchase"


@query(
    "q_mann_whitney",
    oracle=f"""
    WITH ab AS (
        SELECT value AS v,
               CASE WHEN event_type = '{_MW_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN event_type = '{_MW_B}' THEN 1 ELSE 0 END AS ib
        FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
    ),
    vals AS (
        SELECT v, CAST(floor(v / {_MW_BIN}) AS BIGINT) AS bin,
               SUM(ia) AS na, SUM(ib) AS nb, COUNT(*) AS t
        FROM ab GROUP BY v
    ),
    bins AS (SELECT bin, SUM(t) AS bt FROM vals GROUP BY bin),
    binp AS (
        SELECT bin,
               COALESCE(SUM(bt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        FROM bins
    ),
    ranked AS (
        SELECT vals.v, vals.na, vals.nb, vals.t,
               p.prior + COALESCE(SUM(vals.t) OVER (PARTITION BY vals.bin
                   ORDER BY vals.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS less
        FROM vals JOIN binp p USING (bin)
    ),
    agg AS (
        SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
               SUM(na * (2 * less + t + 1)) AS r2a,
               SUM(t * t * t - t) AS tiesum
        FROM ranked
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2,
           round((CAST(r2a - n_a * (n_a + 1) AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))
                 / NULLIF(2.0 * sqrt((CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
                     * (CAST(n_a + n_b + 1 AS DOUBLE)
                        - CAST(tiesum AS DOUBLE)
                          / NULLIF(CAST(n_a + n_b AS DOUBLE)
                             * CAST(n_a + n_b - 1 AS DOUBLE), 0.0))), 0.0),
                 6) AS z
    FROM agg
    """,
    tags=("stats", "hypothesis-test", "scale"),
)
def q_mann_whitney(spark: SparkSession, d: str):
    """Tie-corrected Mann-Whitney U (Wilcoxon rank-sum) test between
    two event-type value samples — the non-parametric two-sample test
    (does 'click' value stochastically dominate 'purchase' value?).
    Reports n_a, n_b, 2·U (kept integral so the output is exact), and
    the normal-approximation z with the tie correction.

    The textbook form ranks the POOLED sample — a global sort. Here
    ranks come from counts alone, two-level stitched (the
    q_weighted_median pattern): aggregate per distinct value, bin the
    values coarsely, prefix-sum bin totals over the BOUNDED bins table,
    then a within-bin prefix partitioned by bin. avg-rank of a tied
    value group = less-than count + (ties+1)/2, doubled to stay in
    integer arithmetic (r2a = Σ n_a·(2·less + t + 1) = 2·R_a). All
    doubles are derived from the same integers on both engines, so z
    is bit-identical before its 6 dp rounding."""
    return mann_whitney_stat(load_table(spark, d, "events"))


def mann_whitney_stat(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    ev = events.filter(F.col("event_type").isin(_MW_A, _MW_B))
    vals = (
        ev.select(
            F.col("value").alias("v"),
            F.floor(F.col("value") / _MW_BIN).alias("bin"),
            F.when(F.col("event_type") == _MW_A, 1).otherwise(0).alias("ia"),
            F.when(F.col("event_type") == _MW_B, 1).otherwise(0).alias("ib"),
        )
        .groupBy("v", "bin")
        .agg(
            F.sum("ia").alias("na"),
            F.sum("ib").alias("nb"),
            F.count(F.lit(1)).alias("t"),
        )
    )
    bins = vals.groupBy("bin").agg(F.sum("t").alias("bt"))
    # literal partition key: the frame is the BOUNDED bins table, so a
    # one-partition window is the intended (cheap) plan — keying it
    # keeps WindowExec warnings out of plan audits
    wbin = Window.partitionBy(bounded_window_key("bin")).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    binp = bins.select(
        "bin", F.coalesce(F.sum("bt").over(wbin), F.lit(0)).alias("prior")
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = vals.join(F.broadcast(binp), "bin").select(
        "na",
        "nb",
        "t",
        (F.col("prior") + F.coalesce(F.sum("t").over(wv), F.lit(0))).alias("less"),
    )
    agg = ranked.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.sum(F.col("na") * (2 * F.col("less") + F.col("t") + 1)).alias("r2a"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tiesum"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    nad, nbd = n_a.cast("double"), n_b.cast("double")
    nn = (n_a + n_b).cast("double")
    u2 = F.col("r2a") - n_a * (n_a + 1)
    # NULLIF twice: all-tied samples give zero rank variance, and a
    # pooled n <= 1 makes the tie correction undefined — z is NULL on
    # both engines, never an ANSI divide-by-zero abort
    var = (nad * nbd / 12.0) * (
        (n_a + n_b + 1).cast("double")
        - F.col("tiesum").cast("double")
        / F.nullif(nn * (n_a + n_b - 1).cast("double"), F.lit(0.0))
    )
    return agg.select(
        n_a.cast("bigint").alias("n_a"),
        n_b.cast("bigint").alias("n_b"),
        u2.cast("bigint").alias("u2"),
        F.round(
            (u2.cast("double") - nad * nbd)
            / F.nullif(2.0 * F.sqrt(var), F.lit(0.0)),
            6,
        ).alias("z"),
    )


@query(
    "q_class_metrics",
    oracle="""
    WITH ev AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS i,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    cent AS (
        SELECT label AS clabel, i,
               round(CAST(SUM(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*), 6)
                   AS c
        FROM ev GROUP BY label, i
    ),
    carr AS (
        SELECT clabel, list(c ORDER BY i) AS cvec FROM cent GROUP BY clabel
    ),
    -- SAME algebra and fold order as the Spark side: a sequential
    -- left fold of (x_i - c_i)^2 terms in array-index order (DuckDB
    -- list_reduce ≡ Spark F.aggregate with a 0.0 seed — the seed add
    -- is exact since every term is a non-negative square), so the
    -- pre-rounding doubles are bit-identical on both engines
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               round(list_reduce(
                   list_transform(range(1, len(e.embedding) + 1),
                       i -> (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(e.embedding[i] AS DOUBLE) - c.cvec[i])),
                   (acc, t) -> acc + t), 6) AS d2
        FROM embeddings e CROSS JOIN carr c
    ),
    joined AS (
        SELECT label AS actual, clabel AS predicted
        FROM (SELECT vec_id, label, clabel,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, clabel) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    classes AS (SELECT DISTINCT label AS k FROM embeddings),
    m AS (
        SELECT c.k,
               SUM(CASE WHEN j.predicted = c.k AND j.actual = c.k THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN j.predicted = c.k AND j.actual <> c.k THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN j.actual = c.k AND j.predicted <> c.k THEN 1 ELSE 0 END) AS fn
        FROM classes c, joined j
        GROUP BY c.k
    )
    SELECT CAST(k AS INT) AS label,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision_,
           round(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall_,
           round(CAST(2 * tp AS DOUBLE) / NULLIF(2 * tp + fp + fn, 0), 6) AS f1
    FROM m
    """,
    tags=("eval", "embedding", "classification"),
)
def q_class_metrics(spark: SparkSession, d: str):
    """Per-class precision / recall / F1 of a nearest-centroid
    classifier over the embeddings table — the model-eval step every
    quality-classifier training loop ends with (and a resubstitution
    sanity check on how separable the labels are in embedding space).

    Centroids are exact-decimal per-dimension means rounded to 6 dp
    (the shared literal both engines then fold against). Assignment is
    by squared L2 distance computed as a DIRECT sequential fold of
    (x_i − c_i)² in array-index order on BOTH engines (Spark
    F.aggregate over zip_with, DuckDB list_reduce over the same terms
    — bit-identical pre-rounding doubles, so the 6 dp round and the
    (d2, label) argmin can never diverge), against the 10-row
    broadcast centroid table (a BroadcastNestedLoopJoin expanding each
    vector 10× in projection only — no shuffle). The confusion counts
    are then one label-pair-keyed aggregate, and the metric table is
    classes-sized. At 100 TB the only data-sized exchanges
    are the centroid means (dimension-keyed, map-side combinable) and
    the vec-keyed argmin aggregate."""
    e = load_table(spark, d, "embeddings")
    ev = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id",
        "label",
        (F.col("pos0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    cent = (
        ev.groupBy(F.col("label").alias("clabel"), "i")
        .agg(
            F.round(
                F.sum(F.col("x").cast(DEC)).cast("double") / F.count(F.lit(1)), 6
            ).alias("c")
        )
    )
    # Pack each centroid into an i-ordered array (10 rows total).
    carr = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("cvec")
    )
    scored = (
        e.crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            "label",
            "clabel",
            F.round(similarity.sq_dist("embedding", "cvec"), 6).alias("d2"),
        )
    )
    pred = (
        scored.groupBy("vec_id", F.col("label").alias("actual"))
        .agg(F.min(F.struct("d2", "clabel")).alias("best"))
        .select("actual", F.col("best.clabel").alias("predicted"))
    )
    classes = e.select(F.col("label").alias("k")).distinct()
    m = (
        classes.crossJoin(pred)
        .groupBy("k")
        .agg(
            F.sum(
                ((F.col("predicted") == F.col("k")) & (F.col("actual") == F.col("k"))).cast(
                    "long"
                )
            ).alias("tp"),
            F.sum(
                ((F.col("predicted") == F.col("k")) & (F.col("actual") != F.col("k"))).cast(
                    "long"
                )
            ).alias("fp"),
            F.sum(
                ((F.col("actual") == F.col("k")) & (F.col("predicted") != F.col("k"))).cast(
                    "long"
                )
            ).alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return m.select(
        F.col("k").cast("int").alias("label"),
        tp.cast("bigint").alias("tp"),
        fp.cast("bigint").alias("fp"),
        fn.cast("bigint").alias("fn"),
        F.round(tp.cast("double") / F.nullif(tp + fp, F.lit(0)), 6).alias("precision_"),
        F.round(tp.cast("double") / F.nullif(tp + fn, F.lit(0)), 6).alias("recall_"),
        F.round((2 * tp).cast("double") / F.nullif(2 * tp + fp + fn, F.lit(0)), 6).alias(
            "f1"
        ),
    )


@query(
    "q_table_checksum",
    oracle="""
    WITH rows_ AS (
        SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
               CAST(('0x' || substr(md5(concat_ws('|',
                   CAST(l_orderkey AS VARCHAR),
                   CAST(l_linenumber AS VARCHAR),
                   l_returnflag, l_linestatus,
                   CAST(CAST(l_quantity AS BIGINT) AS VARCHAR),
                   strftime(l_shipdate, '%Y-%m-%d'))), 1, 10)) AS BIGINT) AS h
        FROM lineitem
    )
    SELECT ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(h AS DECIMAL(38,0))) % 4611686018427387904 AS BIGINT)
               AS sum_h,
           CAST(bit_xor(h) AS BIGINT) AS xor_h
    FROM rows_
    GROUP BY ship_year
    """,
    tags=("integrity", "scale"),
)
def q_table_checksum(spark: SparkSession, d: str):
    """Order-insensitive per-partition table fingerprint: md5 each
    row's canonical key-column string, fold the 40-bit hash prefixes
    with an exact-decimal SUM reduced mod 2^62 (order-insensitive and
    overflow-free at any partition size, emitted as BIGINT) and XOR
    per ship-year. Comparing (n_rows, sum_h, xor_h) between
    two copies of a table localises divergence to a partition without
    moving any data — the reconciliation primitive behind replica
    verification, migration sign-off, and CDC drift checks (pairs with
    q_snapshot_diff, which then diffs only the implicated partition).

    Canonical string uses only discretely-representable columns
    (integers, flags, a formatted date) — float formatting is not
    portable across engines and has no place in a checksum contract.
    Scale shape: one scan, one partition-keyed map-side-combinable
    aggregate; both folds are commutative so the result is independent
    of row order and parallelism."""
    li = spread_scan(load_table(spark, d, "lineitem"), "l_orderkey")
    row_str = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        F.col("l_linestatus"),
        F.col("l_quantity").cast("bigint").cast("string"),
        F.date_format("l_shipdate", "yyyy-MM-dd"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 10), 16, 10).cast("bigint")
    return (
        li.select(F.year("l_shipdate").cast("bigint").alias("ship_year"), h.alias("h"))
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(4611686018427387904))
            .cast("bigint")
            .alias("sum_h"),
            F.bit_xor("h").alias("xor_h"),
        )
    )


_BB_N = 7  # Bollinger window: current row + 6 preceding


@query(
    "q_bollinger",
    oracle=f"""
    WITH w AS (
        SELECT user_id, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               CAST(round(SUM(CAST(value AS DECIMAL(38,10))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW), 6)
                   AS DOUBLE) AS s1,
               CAST(round(SUM(CAST(value * value AS DECIMAL(38,10))) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW), 6)
                   AS DOUBLE) AS s2
        FROM events
    )
    SELECT user_id, event_id,
           round(s1 / {_BB_N}, 6) AS mid,
           round(sqrt(greatest((s2 - s1 * s1 / {_BB_N}) / {_BB_N - 1}, 0.0)), 6)
               AS sd,
           round(value - s1 / {_BB_N}
                 - 2.0 * sqrt(greatest((s2 - s1 * s1 / {_BB_N}) / {_BB_N - 1}, 0.0)),
                 6) > 0 AS breakout
    FROM w WHERE rn >= {_BB_N}
    """,
    tags=("timeseries", "anomaly"),
)
def q_bollinger(spark: SparkSession, d: str):
    """Bollinger-band breakout detection per user: rolling 7-event
    mean and sample stddev over the (ts, event_id)-ordered value
    stream; an event 'breaks out' when it exceeds mid + 2σ — the
    classic volatility-banded anomaly flag (monitoring, fraud, price
    streams). Only full-frame rows are emitted, so the band always
    summarises exactly 7 observations.

    Cross-engine exactness: the two rolling sums are exact decimal
    (frame order is pinned by the window spec, and decimal addition
    is order-independent anyway), rounded once and cast to double, so
    mean/variance/σ derive from bit-identical doubles on both engines;
    the breakout threshold compares a 6 dp-rounded margin per the
    ALIGNMENT.md round-before-compare rule. Scale shape: one
    user-keyed window — bounded per-user frames, no global state."""
    return bollinger_bands(load_table(spark, d, "events"))


def bollinger_bands(ev):
    """The q_bollinger analytic as a DataFrame transform — shared by
    the batch query and its §2.C foreachBatch streaming twin."""
    frame = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_BB_N - 1), Window.currentRow)
    )
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(order).alias("rn"),
        F.round(F.sum(F.col("value").cast(DEC)).over(frame), 6)
        .cast("double")
        .alias("s1"),
        F.round(F.sum((F.col("value") * F.col("value")).cast(DEC)).over(frame), 6)
        .cast("double")
        .alias("s2"),
    )
    n = float(_BB_N)
    var = F.greatest(
        (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1), F.lit(0.0)
    )
    return w.filter(F.col("rn") >= _BB_N).select(
        "user_id",
        "event_id",
        F.round(F.col("s1") / n, 6).alias("mid"),
        F.round(F.sqrt(var), 6).alias("sd"),
        (
            F.round(F.col("value") - F.col("s1") / n - 2.0 * F.sqrt(var), 6) > 0
        ).alias("breakout"),
    )
