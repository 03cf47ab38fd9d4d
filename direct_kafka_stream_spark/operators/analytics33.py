"""Round-6 batch 4: the bloom-filter semi-join reduction (the
explicit form of Spark's runtime row-level filter), bilinear
incremental join-view maintenance (the delta rule Δ(R⋈S) =
ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS), the Kruskal–Wallis k-sample rank test,
the Brier-score calibration decomposition, and an l-diversity census
pairing q_k_anonymity's re-identification audit with the
sensitive-attribute side.

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51); q_ivm_join is the
join-view counterpart of q_ivm_delta's aggregate maintenance — the
algebra a foreachBatch sink (streaming/pipeline.py) applies per
micro-batch.

Parity conventions (analytics29-32 module rules): shared Python
literals, exact-decimal sums for every order-dependent accumulation,
one 6 dp rounding at the output edge, integers kept integral until
the final ratio.
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
from direct_kafka_stream_spark.operators.analytics11 import (
    scored_labeled,
    scored_labeled_sql,
)
from direct_kafka_stream_spark.registry import query

_OUT_SCALE = 4  # matches exprs.dsum's output rounding


# ---------------------------------------------------------------------------
# q_join_bloom — bloom-filter semi-join reduction (manual runtime filter)
# ---------------------------------------------------------------------------

_BLOOM_M = 65536  # bits (1024 64-bit words; ~16 KB broadcast)
_BLOOM_K = 3  # hash functions
_BLOOM_CUTOFF = "2001-01-01"


def _bloom_positions(key: F.Column) -> list[F.Column]:
    """The k bloom bit-positions of a join key: pmod(xxhash64(key, j), m)
    for j in 0..k-1 — the same expression on build and probe side."""
    return [
        F.pmod(F.xxhash64(key, F.lit(j)), F.lit(_BLOOM_M)).cast("long")
        for j in range(_BLOOM_K)
    ]


@query(
    "q_join_bloom",
    oracle=f"""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '{_BLOOM_CUTOFF}'
    GROUP BY o.o_orderpriority
    """,
    tags=("join", "scale", "sketch"),
)
def q_join_bloom(spark: SparkSession, d: str):
    """Bloom-filter semi-join reduction: revenue by priority for
    lineitems of recent (>= 2001) orders, with the fact side
    pre-filtered through a broadcast Bloom filter built from the
    selective dim's keys BEFORE the join shuffle — the explicit,
    engine-checked form of the runtime row-level filter Spark injects
    under ``spark.sql.optimizer.runtime.bloomFilter.enabled`` (and
    Flink/Trino's dynamic filtering). Exact by construction: the Bloom
    only PRUNES rows that cannot join (no false negatives); the real
    equi-join afterwards removes the false positives, so the result is
    bit-identical to the plain join the oracle runs.

    Build: the ~8%-selective dim explodes to k=3 xxhash64 bit
    positions, dedups, packs into 64-bit words via bit_or — a
    1024-row aggregate collected into ONE map<word,mask> row and
    broadcast (~16 KB regardless of fact size). Probe: each fact row
    tests its 3 positions with try_element_at + bitwise AND — a
    codegen-stage filter, no Python. At 100 TB this is the difference
    between shuffling the whole fact and shuffling ~selectivity+fp of
    it; the filter also lands before the scan's column pruning, so
    only surviving rows pay the join's wide-row cost."""
    o = load_table(spark, d, "orders")
    dim = o.filter(F.col("o_orderdate") >= _BLOOM_CUTOFF).select(
        F.col("o_orderkey").alias("k"), "o_orderpriority"
    )
    li = load_table(spark, d, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    return bloom_reduce_join(li, dim)


def bloom_reduce_join(li, dim):
    """Composable form: bloom-prefilter ``li`` on l_orderkey against
    ``dim``'s k column, then the exact equi join + priority rollup.

    Both keys are canonicalized to BIGINT before hashing: xxhash64 is
    type-sensitive, so an int build key probed by a bigint fact key
    would otherwise disagree on bit positions and silently drop join
    rows (false negatives). The cast is a no-op for already-long keys
    and preserves the no-false-negative guarantee for any integral
    key pair."""
    dim = dim.withColumn("k", F.col("k").cast("long"))
    li = li.withColumn("l_orderkey", F.col("l_orderkey").cast("long"))
    words = (
        dim.select(F.explode(F.array(*_bloom_positions(F.col("k")))).alias("pos"))
        .distinct()
        .groupBy(F.floor(F.col("pos") / 64).cast("long").alias("word"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("mask")
        )
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("word", "mask"))).alias("bf")
    )
    probe = li.crossJoin(F.broadcast(bloom))
    # SQL expression form: the DataFrame shiftleft() helper only takes a
    # literal shift amount, and the probe shifts by a computed bit index
    probe_pred = " AND ".join(
        f"(COALESCE(try_element_at(bf, CAST(floor(pmod(xxhash64(l_orderkey, "
        f"{j}), {_BLOOM_M}) / 64) AS BIGINT)), CAST(0 AS BIGINT))"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(l_orderkey, {j}),"
        f" {_BLOOM_M}) % 64 AS INT))) != 0"
        for j in range(_BLOOM_K)
    )
    passed = probe.where(F.expr(probe_pred)).drop("bf")
    return (
        passed.join(dim, passed.l_orderkey == dim.k)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q_ivm_join — bilinear incremental join-view maintenance
# ---------------------------------------------------------------------------

# Delta partitioning: the last 20% of orders and every 7th customer
# arrive as CDC inserts after the view was materialized.
_IVM_R_OLD = "o_orderkey % 10 < 8"
_IVM_S_OLD = "c_custkey % 7 <> 0"


@query(
    "q_ivm_join",
    oracle=f"""
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("cdc", "ivm", "join"),
)
def q_ivm_join(spark: SparkSession, d: str):
    """Incremental maintenance of a JOIN view under inserts to BOTH
    sides — the bilinear delta rule Δ(R⋈S) = ΔR⋈S_old ∪ R_old⋈ΔS ∪
    ΔR⋈ΔS. The per-segment (count, revenue) view over orders⋈customer
    was materialized from the old snapshots; the deltas (20% of
    orders, 1/7 of customers) arrive later, and the view is refreshed
    by aggregating ONLY the three delta joins and merging — never
    re-touching R_old⋈S_old. The ORACLE recomputes the view from
    scratch over the full tables, so a green hash PROVES the bilinear
    expansion exact (the join-view counterpart of q_ivm_delta's
    aggregate-with-retractions proof; inserts-only here, retractions
    covered there).

    Exactness: partial revenues stay UNROUNDED decimal until the final
    merge (round(old)+round(delta) != round(new) in general). Scale
    shape: each delta join is delta-sized on at least one side (the
    two dim-delta joins broadcast); the merge is a segments-sized
    full-outer join. At 100 TB the refresh cost is O(|Δ|), not
    O(|R⋈S|) — the Materialize/DBSP maintenance story on Spark."""
    o = load_table(spark, d, "orders").select(
        "o_custkey", "o_totalprice", F.expr(_IVM_R_OLD).alias("r_old")
    )
    c = load_table(spark, d, "customer").select(
        "c_custkey", "c_mktsegment", F.expr(_IVM_S_OLD).alias("s_old")
    )
    r_old, r_new = o.filter("r_old"), o.filter(~F.col("r_old"))
    s_old, s_new = c.filter("s_old"), c.filter(~F.col("s_old"))

    def seg_rows(r, s):
        return r.join(s, r.o_custkey == s.c_custkey).select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("price"),
        )

    def agg(rows):
        return rows.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast(DEC)).alias("rev"),
        )

    view_old = agg(seg_rows(r_old, s_old))
    delta = agg(
        seg_rows(r_new, s_old)
        .unionAll(seg_rows(r_old, s_new))
        .unionAll(seg_rows(r_new, s_new))
    )
    v, dta = view_old.alias("v"), delta.alias("d")
    zero = F.lit(0).cast(DEC)
    return v.join(dta, F.col("v.segment") == F.col("d.segment"), "full_outer").select(
        F.coalesce(F.col("v.segment"), F.col("d.segment")).alias("segment"),
        (F.coalesce(F.col("v.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
        F.round(
            F.coalesce(F.col("v.rev"), zero) + F.coalesce(F.col("d.rev"), zero),
            _OUT_SCALE,
        )
        .cast("double")
        .alias("revenue"),
    )


# ---------------------------------------------------------------------------
# q_kruskal_wallis — k-sample rank test across all event types
# ---------------------------------------------------------------------------

_KW_BIN = 10.0  # coarse value-bin width for the two-level rank stitch


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH vals AS (
        SELECT value AS v, event_type AS g,
               CAST(floor(value / {_KW_BIN}) AS BIGINT) AS bin,
               COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    vtot AS (
        SELECT v, bin, SUM(c) AS t FROM vals GROUP BY v, bin
    ),
    bins AS (SELECT bin, SUM(t) AS bt FROM vtot GROUP BY bin),
    binp AS (
        SELECT bin,
               COALESCE(SUM(bt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prior
        FROM bins
    ),
    ranked AS (
        SELECT vt.v, vt.t,
               p.prior + COALESCE(SUM(vt.t) OVER (PARTITION BY vt.bin
                   ORDER BY vt.v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS less
        FROM vtot vt JOIN binp p USING (bin)
    ),
    groups AS (
        SELECT vals.g,
               SUM(vals.c) AS n_g,
               SUM(vals.c * (2 * r.less + r.t + 1)) AS r2
        FROM vals JOIN ranked r ON vals.v = r.v
        GROUP BY vals.g
    ),
    tot AS (
        SELECT SUM(n_g) AS n, SUM(CAST(r2 AS DOUBLE) * r2 / (4.0 * n_g)) AS sq,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM groups
    ),
    ties AS (SELECT SUM(t * t * t - t) AS tsum FROM ranked)
    SELECT tot.k - 1 AS df,
           CAST(tot.n AS BIGINT) AS n,
           round(12.0 / (tot.n * (tot.n + 1.0)) * tot.sq
                 - 3.0 * (tot.n + 1.0), 6) AS h_stat,
           round((12.0 / (tot.n * (tot.n + 1.0)) * tot.sq
                  - 3.0 * (tot.n + 1.0))
                 / NULLIF(1.0 - CAST(ties.tsum AS DOUBLE)
                          / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n),
                          0.0), 6) AS h_corrected
    FROM tot CROSS JOIN ties
    """,
    tags=("stats", "hypothesis-test", "scale"),
)
def q_kruskal_wallis(spark: SparkSession, d: str):
    """Kruskal–Wallis one-way rank test of `value` across ALL five
    event types — the k-sample generalization of q_mann_whitney
    (does any event type's value distribution dominate?). Reports df,
    N, the raw H statistic and the tie-corrected H (χ²_{k-1} under
    the null).

    Same scale design as q_mann_whitney: no global sort — per-value
    count aggregation, coarse value bins prefix-summed over the
    BOUNDED bins table, a within-bin prefix window, and avg-ranks kept
    integral as 2R = Σ c·(2·less + t + 1). Every double in H derives
    from the same integers on both engines (identical expression
    structure), so the statistic is bit-identical before its 6 dp
    rounding. The only windows run over bins-sized frames with
    non-foldable keys."""
    return kruskal_wallis_stat(load_table(spark, d, "events"))


def kruskal_wallis_stat(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    vals = (
        ev.select(
            F.col("value").alias("v"),
            F.col("event_type").alias("g"),
            F.floor(F.col("value") / _KW_BIN).alias("bin"),
        )
        .groupBy("v", "g", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vals = track(vals.persist())
    vtot = vals.groupBy("v", "bin").agg(F.sum("c").alias("t"))
    bins = vtot.groupBy("bin").agg(F.sum("t").alias("bt"))
    wbin = (
        Window.partitionBy(bounded_window_key("bin"))
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binp = bins.select(
        "bin", F.coalesce(F.sum("bt").over(wbin), F.lit(0)).alias("prior")
    )
    wv = (
        Window.partitionBy("bin")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = (
        vtot.withColumn("within", F.coalesce(F.sum("t").over(wv), F.lit(0)))
        .join(binp, "bin")
        .select("v", "t", (F.col("prior") + F.col("within")).alias("less"))
    )
    groups = (
        vals.join(ranked, "v")
        .groupBy("g")
        .agg(
            F.sum("c").alias("n_g"),
            F.sum(F.col("c") * (2 * F.col("less") + F.col("t") + 1)).alias("r2"),
        )
    )
    tot = groups.agg(
        F.sum("n_g").alias("n"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2") / (4.0 * F.col("n_g"))
        ).alias("sq"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ties = ranked.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tsum")
    )
    nn = F.col("n").cast("double")
    h_raw = 12.0 / (nn * (nn + 1.0)) * F.col("sq") - 3.0 * (nn + 1.0)
    return tot.crossJoin(ties).select(
        (F.col("k") - 1).alias("df"),
        F.col("n").cast("bigint").alias("n"),
        F.round(h_raw, 6).alias("h_stat"),
        F.round(
            h_raw
            / F.nullif(
                1.0 - F.col("tsum").cast("double") / (nn * nn * nn - nn),
                F.lit(0.0),
            ),
            6,
        ).alias("h_corrected"),
    )


# ---------------------------------------------------------------------------
# q_brier — Brier score with the Murphy calibration decomposition
# ---------------------------------------------------------------------------

_BR_BINS = 10


def _brier_oracle() -> str:
    return f"""
    WITH sl AS ({scored_labeled_sql()}),
    binned AS (
        SELECT LEAST(CAST(floor(score * {_BR_BINS}) AS BIGINT),
                     {_BR_BINS - 1}) AS bin,
               score, y
        FROM sl
    ),
    per_bin AS (
        SELECT bin, COUNT(*) AS n,
               {dsum_sql('score')} AS sp,
               CAST(SUM(y) AS BIGINT) AS sy,
               {dsum_sql('(score - y) * (score - y)')} AS sqerr
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n) AS DOUBLE) AS nn,
               CAST(SUM(sy) AS DOUBLE) / SUM(n) AS ybar,
               SUM(sqerr) AS sqerr
        FROM per_bin
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(MAX(t.nn) AS BIGINT) AS n,
           round(MAX(t.sqerr) / MAX(t.nn), 6) AS brier,
           round(SUM(b.n * (b.sp / b.n - CAST(b.sy AS DOUBLE) / b.n)
                         * (b.sp / b.n - CAST(b.sy AS DOUBLE) / b.n))
                 / MAX(t.nn), 6) AS reliability,
           round(SUM(b.n * (CAST(b.sy AS DOUBLE) / b.n - t.ybar)
                         * (CAST(b.sy AS DOUBLE) / b.n - t.ybar))
                 / MAX(t.nn), 6) AS resolution,
           round(MAX(t.ybar) * (1.0 - MAX(t.ybar)), 6) AS uncertainty
    FROM per_bin b CROSS JOIN tot t
    """


@query("q_brier", oracle=_brier_oracle(), tags=("ml", "evaluation"))
def q_brier(spark: SparkSession, d: str):
    """Brier score of the quality classifier's probability against the
    'contains-the' label, with Murphy's three-way decomposition over
    ten probability bins: brier ≈ reliability − resolution +
    uncertainty — the single readout that separates "the model is
    miscalibrated" (reliability) from "the model can't discriminate"
    (low resolution). Completes the calibration kit with q_ece (bin
    |gap| mass) and q_calibration_bins (the raw reliability curve).

    One bin-keyed aggregate (map-side combined, ≤10 groups), then a
    bins×1 crossJoin of the global means — the statistic frame never
    exceeds ten rows after the first exchange. Squared errors are
    exact-decimal sums of bit-identical doubles (score is 6 dp-rounded
    before squaring on both engines)."""
    sl = scored_labeled(spark, d)
    binned = sl.select(
        F.least(
            F.floor(F.col("score") * _BR_BINS).cast("bigint"),
            F.lit(_BR_BINS - 1),
        ).alias("bin"),
        "score",
        "y",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("score").alias("sp"),
        F.sum("y").cast("bigint").alias("sy"),
        dsum((F.col("score") - F.col("y")) * (F.col("score") - F.col("y"))).alias(
            "sqerr"
        ),
    )
    tot = per_bin.agg(
        F.sum("n").cast("double").alias("nn"),
        (F.sum("sy").cast("double") / F.sum("n")).alias("ybar"),
        F.sum("sqerr").alias("t_sqerr"),
    )
    b = per_bin.crossJoin(F.broadcast(tot))
    pbar = F.col("sp") / F.col("n")
    ybin = F.col("sy").cast("double") / F.col("n")
    return b.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.max("nn").cast("bigint").alias("n"),
        F.round(F.max("t_sqerr") / F.max("nn"), 6).alias("brier"),
        F.round(
            F.sum(F.col("n") * (pbar - ybin) * (pbar - ybin)) / F.max("nn"), 6
        ).alias("reliability"),
        F.round(
            F.sum(F.col("n") * (ybin - F.col("ybar")) * (ybin - F.col("ybar")))
            / F.max("nn"),
            6,
        ).alias("resolution"),
        F.round(F.max("ybar") * (1.0 - F.max("ybar")), 6).alias("uncertainty"),
    )


# ---------------------------------------------------------------------------
# q_l_diversity — sensitive-attribute diversity census per QI class
# ---------------------------------------------------------------------------

_LD_L = 3


@query(
    "q_l_diversity",
    oracle=f"""
    WITH qi AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS gsize,
               COUNT(DISTINCT user_id) AS l_div
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l_div) AS BIGINT) AS l_diversity,
           CAST(SUM(gsize) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(gsize) FILTER (WHERE l_div < {_LD_L}), 0)
                AS BIGINT) AS rows_below_l{_LD_L},
           round(COALESCE(SUM(gsize) FILTER (WHERE l_div < {_LD_L}), 0)
                 / CAST(SUM(gsize) AS DOUBLE), 6) AS frac_below_l{_LD_L}
    FROM qi
    """,
    tags=("privacy", "profiling"),
)
def q_l_diversity(spark: SparkSession, d: str):
    """l-diversity census over events: treating (event_type, day) as
    the quasi-identifier and user_id as the sensitive attribute,
    report each equivalence class's distinct-sensitive-value count and
    the dataset's l (the smallest) plus the row mass in classes below
    l=3 — the attribute-disclosure audit that complements
    q_k_anonymity (a class can be k-anonymous yet expose its users if
    every row carries the same sensitive value).

    One QI-keyed aggregate with an exact COUNT(DISTINCT) per class
    (Spark plans the standard two-phase expand-distinct — partials
    combine map-side), then a bounded rollup of class sizes."""
    return l_diversity_census(load_table(spark, d, "events"))


def l_diversity_census(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    qi = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("gsize"),
        F.countDistinct("user_id").alias("l_div"),
    )
    below = F.when(F.col("l_div") < _LD_L, F.col("gsize"))
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("l_div").cast("bigint").alias("l_diversity"),
        F.sum("gsize").cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(below), F.lit(0))
        .cast("bigint")
        .alias(f"rows_below_l{_LD_L}"),
        F.round(
            F.coalesce(F.sum(below), F.lit(0))
            / F.sum("gsize").cast("double"),
            6,
        ).alias(f"frac_below_l{_LD_L}"),
    )
