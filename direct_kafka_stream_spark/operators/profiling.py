"""Data profiling / quality operators — the checks a 100 TB training
pipeline runs before (and while) it curates: per-column table
profiles, join-key skew diagnosis, histograms, declarative constraint
gates, robust (median/MAD) outlier detection, quantile binning,
corpus n-gram vocabularies, per-document token entropy,
duplicate-cluster statistics, descriptive statistics (Gini, HHI,
Pareto share, Benford, correlations, weighted medians, QQ tables,
power-law tails), drift (PSI), cleaning (winsorizing, imputation,
robust scaling) and privacy audits (k-anonymity, l-diversity, the
Laplace mechanism).

Reference anchor: the reference processes opaque payloads with no
validation whatsoever (KafkaDirectStream.scala:43-51 — the map hook is
where user processing attaches); this module is part of the mandated
extension surface (SURVEY.md §2 EXT rows / BASELINE.json north star).

Every operator is a single-pass or bounded-shuffle DataFrame plan with
an exact DuckDB oracle. Design-for-scale notes sit on each docstring.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.exprs import (
    DEC,
    bounded_window_key,
    dsum,
    dsum_sql,
    safe_corr,
    u01,
    u01_sql,
)
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.operators.llm import q_dedup_components
from direct_kafka_stream_spark.registry import query

# ---------------------------------------------------------------------------
# Table profiling


_PROFILE_COLS = (
    # (column, kind) — kind picks the min/max string formatting that is
    # bit-identical across engines (timestamps via explicit format;
    # doubles rounded before cast).
    ("o_orderkey", "long"),
    ("o_custkey", "long"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "double"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
)


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "ts":
            mn = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
        elif kind == "double":
            mn = f"CAST(round(MIN({c}), 2) AS VARCHAR)"
            mx = f"CAST(round(MAX({c}), 2) AS VARCHAR)"
        else:
            mn = f"CAST(MIN({c}) AS VARCHAR)"
            mx = f"CAST(MAX({c}) AS VARCHAR)"
        parts.append(
            f"""
            SELECT '{c}' AS col_name,
                   COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({c}) AS n_nulls,
                   COUNT(DISTINCT {c}) AS n_distinct,
                   {mn} AS min_val,
                   {mx} AS max_val
            FROM orders"""
        )
    return " UNION ALL ".join(parts)


@query("q_profile_table", oracle=_profile_oracle(), tags=("profiling",))
def q_profile_table(spark: SparkSession, d: str):
    """Per-column table profile (row count, null count, exact distinct
    count, min/max) — the Deequ/TFDV-style first look at a new corpus.

    THREE branches crossJoined into one job, each chosen so every
    aggregation stays HASH-based (measured 5.0 s → 3.0 s at sf0.1 vs
    the naive single aggregate):
      * counts/nulls + numeric/timestamp min-max — one global
        HashAggregate (mutable buffers only);
      * the 6 exact COUNT(DISTINCT)s — one Expand + two-stage hash
        aggregate (no min/max strings riding along: a single immutable
        string buffer would demote the WHOLE operator, Expand
        included, to interpreted SortAggregate — that was the 5 s);
      * string min/max — a separate tiny aggregate over just the two
        string columns.
    All three scans are column-pruned; scan cost is dwarfed by the
    sort-aggregation this shape avoids. The wide row is then unpivoted
    driver-free with explode-of-structs. The oracle scans once per
    column instead — its 6 scans are the shape we're NOT shipping at
    100 TB."""
    o = load_table(spark, d, "orders")

    def fmt(agg_col, kind: str):
        if kind == "ts":
            return F.date_format(agg_col, "yyyy-MM-dd HH:mm:ss")
        if kind == "double":
            return F.round(agg_col, 2).cast("string")
        return agg_col.cast("string")

    base_aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, kind in _PROFILE_COLS:
        # coalesce: SUM over an empty table is NULL (ANSI) but the
        # oracle's COUNT(*) - COUNT(c) is 0 — and a profile of an
        # empty table should report zero nulls, not unknown
        base_aggs.append(
            F.coalesce(F.sum(F.isnull(c).cast("long")), F.lit(0)).alias(
                f"{c}__nulls"
            )
        )
        if kind != "str":
            base_aggs += [
                fmt(F.min(c), kind).alias(f"{c}__min"),
                fmt(F.max(c), kind).alias(f"{c}__max"),
            ]
    base = o.agg(*base_aggs)
    distincts = o.agg(
        *[
            F.count_distinct(F.col(c)).alias(f"{c}__distinct")
            for c, _ in _PROFILE_COLS
        ]
    )
    str_aggs = []
    for c, kind in _PROFILE_COLS:
        if kind == "str":
            str_aggs += [
                F.min(c).cast("string").alias(f"{c}__min"),
                F.max(c).cast("string").alias(f"{c}__max"),
            ]
    str_minmax = o.agg(*str_aggs)
    wide = base.crossJoin(F.broadcast(distincts)).crossJoin(
        F.broadcast(str_minmax)
    )
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    return (
        wide.select("n_rows", F.explode(structs).alias("p"))
        .select(
            "p.col_name",
            "n_rows",
            "p.n_nulls",
            "p.n_distinct",
            "p.min_val",
            "p.max_val",
        )
    )


# ---------------------------------------------------------------------------
# Skew diagnosis


@query(
    "q_skew_diagnose",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n,
           round(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM events), 6) AS share
    FROM events
    GROUP BY user_id
    ORDER BY n DESC, user_id
    LIMIT 20
    """,
    tags=("profiling", "skew"),
)
def q_skew_diagnose(spark: SparkSession, d: str):
    """Hot-key report for a prospective join/groupBy key: top-20 keys
    by frequency with their share of the table. This is the query you
    run BEFORE the big join — if the top key holds >1% of a 100 TB
    fact table, that partition alone is 1 TB and the plan needs
    salting (q_join_salted) or AQE skew splitting.

    Shape: one groupBy shuffle on the key + a broadcast of the 1-row
    global count; top-20 via TakeOrderedAndProject (per-partition
    heaps — no global sort). Ties broken by key for cross-engine
    determinism."""
    e = load_table(spark, d, "events")
    total = e.agg(F.count(F.lit(1)).alias("total"))
    per_key = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_key.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n",
            F.round(F.col("n") / F.col("total"), 6).alias("share"),
        )
        .orderBy(F.col("n").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Histograms and binning


_BUCKET_W = 25000.0


@query(
    "q_hist_equi",
    oracle=f"""
    SELECT CAST(FLOOR(o_totalprice / {_BUCKET_W}) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           round(MIN(o_totalprice), 2) AS lo,
           round(MAX(o_totalprice), 2) AS hi
    FROM orders
    GROUP BY 1
    ORDER BY bucket
    """,
    tags=("profiling", "histogram"),
)
def q_hist_equi(spark: SparkSession, d: str):
    """Equi-width histogram of a numeric column — fixed bucket width so
    the bucket id is a pure per-row expression (no global min/max
    pre-pass) and the whole histogram is ONE map-side-combined
    aggregation. ~tens of buckets regardless of table size: the reduce
    side is trivially small at any scale."""
    return hist_equi_report(load_table(spark, d, "orders"))


def hist_equi_report(o):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / _BUCKET_W).cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@query(
    "q_quantile_bins",
    oracle="""
    SELECT bin, COUNT(*) AS n,
           round(MIN(o_totalprice), 2) AS lo,
           round(MAX(o_totalprice), 2) AS hi
    FROM (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
        FROM orders
    )
    GROUP BY bin
    ORDER BY bin
    """,
    tags=("profiling", "histogram"),
)
def q_quantile_bins(spark: SparkSession, d: str):
    """Equal-frequency (decile) binning — the feature-bucketing
    transform. NTILE over a fully-tiebroken order (value, key) is
    deterministic and identical across engines.

    Scale note: a global NTILE is a single-partition sort — fine for
    computing BIN BOUNDARIES on a sample, wrong as a per-row transform
    at 100 TB. The scale path computes approx percentile boundaries
    (q_agg_approx_pct) and assigns bins with a per-row comparison; this
    operator is the exact-semantics anchor the approximate path is
    validated against."""
    return quantile_bins_table(load_table(spark, d, "orders"))


def quantile_bins_table(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    o = orders
    w = Window.partitionBy(bounded_window_key("o_orderkey")).orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        o.select("o_totalprice", F.ntile(10).over(w).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Constraint gate


@query(
    "q_constraint_check",
    oracle="""
    SELECT (SELECT COUNT(*) FROM orders) AS n_rows,
           (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL)
               AS n_null_key,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
               AS n_bad_price,
           (SELECT COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS n_bad_status,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
               AS n_orphan
    """,
    tags=("profiling", "quality"),
)
def q_constraint_check(spark: SparkSession, d: str):
    """Declarative data-quality gate: violation counts for a rule set
    (non-null key, positive amount, enum domain, referential
    integrity) in one result row — the CI check a pipeline runs on
    every new partition before it is admitted.

    The three row-local rules fold into ONE conditional aggregation
    pass; only referential integrity needs a join, and the dimension
    side is key-projected and broadcast so the fact table never
    shuffles. Total cost at 100 TB: one scan + one broadcast probe."""
    o = load_table(spark, d, "orders")
    cust_keys = load_table(spark, d, "customer").select("c_custkey")
    # coalesce: the gate must report 0 violations on an empty table
    # (matching the oracle's COUNT(*) subqueries), not NULL from
    # ANSI SUM-over-empty
    local = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(F.isnull("o_orderkey").cast("long")), F.lit(0)
        ).alias("n_null_key"),
        F.coalesce(
            F.sum((F.col("o_totalprice") <= 0).cast("long")), F.lit(0)
        ).alias("n_bad_price"),
        F.coalesce(
            F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")),
            F.lit(0),
        ).alias("n_bad_status"),
    )
    orphan = (
        o.join(
            F.broadcast(cust_keys),
            o.o_custkey == cust_keys.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphan"))
    )
    return local.crossJoin(F.broadcast(orphan))


# ---------------------------------------------------------------------------
# Robust outliers (median / MAD)


@query(
    "q_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, MEDIAN(value) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med,
               ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           round(ANY_VALUE(d.med), 6) AS med,
           round(ANY_VALUE(m.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    tags=("profiling", "anomaly"),
)
def q_anomaly_mad(spark: SparkSession, d: str):
    """Robust per-group outlier detection: median + MAD (median
    absolute deviation), flagging |x − med| > 3σ̂ with σ̂ = 1.4826·MAD.
    Unlike mean/stddev (q_udf_grouped_map's z-score), a 0.1% tail of
    corrupt values cannot drag the threshold — which is exactly the
    situation data-quality checks exist for.

    Two grouped exact medians = two shuffles on the group key; the
    per-group medians are a groups-sized table, broadcast back onto the
    fact rows both times so the fact table itself shuffles only for the
    final count. Exact MEDIAN (interpolating) matches DuckDB
    bit-for-bit on doubles."""
    return anomaly_mad_report(load_table(spark, d, "events"))


def anomaly_mad_report(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events.select("event_type", "value")
    med = e.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.first("med"), 6).alias("med"),
            F.round(F.first("mad"), 6).alias("mad"),
            F.sum(
                (F.col("adev") > 3 * 1.4826 * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus vocabulary / n-gram frequency


@query(
    "q_ngram_freq",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word,
               generate_subscripts(
                   list_filter(string_split(text, ' '), w -> w != ''), 1)
                   AS pos
        FROM documents
    ),
    big AS (
        SELECT word || ' ' || LEAD(word) OVER w AS bigram
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    )
    SELECT bigram, COUNT(*) AS n
    FROM big WHERE bigram IS NOT NULL
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
    tags=("profiling", "text"),
)
def q_ngram_freq(spark: SparkSession, d: str):
    """Corpus-wide bigram frequency table (top-50) — the vocabulary /
    tokenizer-training building block. Bigrams are formed INSIDE the
    row with a JVM higher-order lambda over the token array (no
    explode-then-window: a window over exploded tokens would shuffle
    every token; the lambda emits bigrams for free in the scan stage),
    then one groupBy(bigram) with map-side partial counts and a top-50
    TakeOrderedAndProject."""
    docs = load_table(spark, d, "documents")
    toks = text.tokens()
    # Hoist the token array to a projected column BEFORE the indexed
    # lambda: element_at inside transform would otherwise re-evaluate
    # the split+filter once per index (the O(len²) trap fixed for
    # q_decontaminate in round 2).
    tokenized = docs.select("doc_id", toks.alias("toks"))
    bigrams = F.when(
        F.size(F.col("toks")) >= 2,
        F.expr(
            "transform(sequence(1, size(toks) - 1),"
            " i -> element_at(toks, i) || ' ' || element_at(toks, i + 1))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        tokenized.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Token entropy


@query(
    "q_text_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), w -> w != ''))
                   AS word
        FROM documents
    ),
    counts AS (
        SELECT doc_id, word, COUNT(*) AS c FROM toks GROUP BY doc_id, word
    ),
    totals AS (
        SELECT doc_id, SUM(c) AS n FROM counts GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(t.n AS BIGINT) AS n_tokens,
           round(-SUM((c.c * 1.0 / t.n) * LN(c.c * 1.0 / t.n)), 6)
               AS entropy
    FROM counts c JOIN totals t USING (doc_id)
    GROUP BY c.doc_id, t.n
    """,
    tags=("profiling", "text"),
)
def q_text_entropy(spark: SparkSession, d: str):
    """Per-document Shannon entropy of the token distribution (nats) —
    low entropy flags repetitive/boilerplate documents that length or
    stopword heuristics miss (complements q_text_repetition's n-gram
    repetition score).

    Token counts per (doc, word) are one groupBy; totals derive from
    the same counts table (no second scan of the corpus); entropy is a
    second doc-keyed aggregation. Both shuffles are token-table-sized,
    partitioned by doc — no skew (a doc's tokens are bounded)."""
    return text_entropy_report(spread_scan(load_table(spark, d, "documents"), "doc_id"))


def text_entropy_report(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    toks = text.tokens()
    counts = (
        docs.select("doc_id", F.explode(toks).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("doc_id")
    return (
        counts.withColumn("n", F.sum("c").over(w))
        .groupBy("doc_id")
        .agg(
            F.first("n").alias("n_tokens"),
            F.round(
                -F.sum(
                    (F.col("c") / F.col("n")) * F.log(F.col("c") / F.col("n"))
                ),
                6,
            ).alias("entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup cluster statistics


@query(
    "q_dup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {similarity.BANDS_SQL},
    comp(doc_id, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, c.label FROM comp c JOIN edges e ON c.doc_id = e.src
    ),
    labels AS (
        SELECT doc_id, MIN(label) AS component FROM comp GROUP BY doc_id
    ),
    sizes AS (
        SELECT component, COUNT(*) AS cluster_size
        FROM labels GROUP BY component
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("profiling", "dedup"),
)
def q_dup_cluster_stats(spark: SparkSession, d: str):
    """Duplicate-cluster size histogram — the dedup REPORT: how many
    clusters of each size, and how many documents they hold. The
    number a curation run publishes ('12% of the corpus sits in
    near-dup clusters; the largest cluster has N copies').

    Reuses the connected-components labeling (q_dedup_components) and
    adds two tiny aggregations on the labels table (doc-count-sized,
    then cluster-count-sized) — cost is the components run, the stats
    are free."""
    labels = q_dedup_components(spark, d)
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# Statistical / forensic analytics
# ---------------------------------------------------------------------------


@query(
    "q_benford",
    oracle="""
    WITH d AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    tot AS (SELECT COUNT(*) AS n FROM d)
    SELECT CAST(d.digit AS INTEGER) AS digit, COUNT(*) AS n,
           round(COUNT(*) * 1.0 / tot.n, 6) AS share,
           round(log10(1.0 + 1.0 / CAST(d.digit AS INTEGER)), 6)
               AS benford_p,
           round(COUNT(*) * 1.0 / tot.n
                 - log10(1.0 + 1.0 / CAST(d.digit AS INTEGER)), 6)
               AS deviation
    FROM d CROSS JOIN tot
    GROUP BY d.digit, tot.n
    """,
    tags=("stats", "forensic"),
)
def q_benford(spark: SparkSession, d: str):
    """Benford's-law first-digit census over order totals: observed
    share of each leading digit vs the log10(1 + 1/d) expectation —
    the classic forensic-accounting / data-fabrication screen, useful
    on any money-valued fact feed before it enters training data.

    The leading digit is extracted through exact integer cents
    (round(price·100) → BIGINT → string head) rather than
    floor(log10(price)) arithmetic, so no cross-engine float-log
    boundary can flip a digit. One map-side-combined aggregation to
    ≤ 9 rows + a 1-row total broadcast."""
    return benford_report(load_table(spark, d, "orders"))


def benford_report(orders):
    """Composable form over any orders-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    o = orders.filter(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
        1,
        1,
    ).cast("int")
    dd = o.select(digit.alias("digit"))
    tot = dd.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        dd.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
            F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6).alias(
                "benford_p"
            ),
            F.round(
                F.col("n") / F.col("n_total")
                - F.log10(1.0 + 1.0 / F.col("digit")),
                6,
            ).alias("deviation"),
        )
    )


@query(
    "q_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey, SUM(o_totalprice) AS r
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT n.n_name, rev.r,
               ROW_NUMBER() OVER (PARTITION BY n.n_name
                                  ORDER BY rev.r, rev.o_custkey) AS i,
               COUNT(*) OVER (PARTITION BY n.n_name) AS cnt,
               SUM(rev.r) OVER (PARTITION BY n.n_name) AS tot
        FROM rev
        JOIN customer c ON c.c_custkey = rev.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name, MAX(cnt) AS n_cust,
           round(2.0 * SUM(i * r) / (MAX(cnt) * MAX(tot))
                 - (MAX(cnt) + 1.0) / MAX(cnt), 6) AS gini
    FROM ranked
    GROUP BY n_name
    """,
    tags=("stats",),
)
def q_gini(spark: SparkSession, d: str):
    """Gini coefficient of revenue concentration per nation: how
    unequally order revenue distributes over a nation's customers
    (0 = perfectly equal, →1 = one whale) via the sorted-rank closed
    form G = 2·Σ(i·xᵢ)/(n·Σx) − (n+1)/n. The whale-detection metric
    behind mixture weighting and abuse screens.

    Revenue reduces fact→customer-keyed first (the only corpus-sized
    exchange); ranking then runs per nation — each frame bounded by a
    nation's customer count. At extreme per-key cardinality the
    rank-free binned Lorenz approximation (accumulate into revenue
    deciles, integrate the discrete Lorenz curve — q_hist_equi's
    machinery) replaces the exact window; exact is kept here as the
    calibration anchor. Ties in revenue rank deterministically by
    custkey on both engines."""
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")
    return gini_report(orders, cust, nation)


def gini_report(orders, cust, nation):
    """Composable form over (orders, customer, nation) frames — also
    the fact-stream-vs-static-dims twin entry point (orders stream in,
    dims stay static; tests/test_streaming.py)."""
    rev = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("r"))
    joined = rev.join(
        cust, rev.o_custkey == cust.c_custkey
    ).join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    wp = Window.partitionBy("n_name")
    wr = wp.orderBy("r", "o_custkey")
    ranked = joined.select(
        "n_name",
        "r",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(wp).alias("cnt"),
        F.sum("r").over(wp).alias("tot"),
    )
    return ranked.groupBy("n_name").agg(
        F.max("cnt").alias("n_cust"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("r"))
            / (F.max("cnt") * F.max("tot"))
            - (F.max("cnt") + 1.0) / F.max("cnt"),
            6,
        ).alias("gini"),
    )


_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_quantity", "l_tax"),
    ("l_extendedprice", "l_discount"),
    ("l_extendedprice", "l_tax"),
    ("l_discount", "l_tax"),
]


def _corr_matrix_oracle() -> str:
    aggs = ", ".join(
        f"corr({x}, {y}) AS r{i}" for i, (x, y) in enumerate(_CORR_PAIRS)
    )
    rows = " UNION ALL ".join(
        f"SELECT '{x}' AS col_a, '{y}' AS col_b, round(r{i}, 6) AS r FROM c"
        for i, (x, y) in enumerate(_CORR_PAIRS)
    )
    return f"""
    WITH c AS (SELECT {aggs} FROM lineitem)
    {rows}
    ORDER BY col_a, col_b
    """


@query(
    "q_corr_matrix",
    oracle=_corr_matrix_oracle(),
    tags=("stats", "profiling"),
)
def q_corr_matrix(spark: SparkSession, d: str):
    """Pairwise Pearson correlation matrix of the four lineitem
    numeric measures (upper triangle, 6 pairs) — the feature-
    redundancy screen run before any modeling on tabular data.

    All six correlations are computed in ONE map-side-combined
    aggregation pass over the fact table (each corr is a co-moment
    accumulator — Spark fuses them into a single HashAggregate), then
    the 1-row result is unpivoted to (col_a, col_b, r) rows with
    stack(). One scan, one 1-row exchange, no joins; rounded to 6dp
    (accumulation order)."""
    li = load_table(spark, d, "lineitem")
    one = li.agg(
        *[
            safe_corr(x, y).alias(f"r{i}")
            for i, (x, y) in enumerate(_CORR_PAIRS)
        ]
    )
    stack_args = ", ".join(
        f"'{x}', '{y}', round(r{i}, 6)" for i, (x, y) in enumerate(_CORR_PAIRS)
    )
    return (
        one.selectExpr(
            f"stack({len(_CORR_PAIRS)}, {stack_args}) AS (col_a, col_b, r)"
        )
        .orderBy("col_a", "col_b")
    )


@query(
    "q_winsorize",
    oracle=f"""
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS p05,
               quantile_cont(value, 0.95) AS p95
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(p.p05), 6) AS p05,
           round(MIN(p.p95), 6) AS p95,
           round({dsum_sql('e.value')} / COUNT(*), 6) AS mean_raw,
           round({dsum_sql('LEAST(GREATEST(e.value, p.p05), p.p95)')}
                 / COUNT(*), 6) AS mean_winsorized
    FROM events e JOIN pct p ON p.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("stats", "cleaning"),
)
def q_winsorize(spark: SparkSession, d: str):
    """Winsorization report: per event type, clip values at the exact
    interpolated p05/p95 and compare the mean before and after — the
    standard outlier-robust preprocessing step (and a direct readout
    of how much tail mass the clip removes).

    The percentile table is one grouped aggregation to |types| rows,
    broadcast back onto the fact scan; the clipped mean is a second
    map-side-combined aggregation. Interpolated percentiles are
    engine-identical (ALIGNMENT), the clip is a pure comparison
    against that exact value, and means use the exact-decimal-sum
    contract."""
    return winsorize_table(load_table(spark, d, "events"))


def winsorize_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    pct = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("p05"), 6).alias("p05"),
            F.round(F.min("p95"), 6).alias("p95"),
            F.round(dsum("value") / F.count(F.lit(1)), 6).alias("mean_raw"),
            F.round(dsum(clipped) / F.count(F.lit(1)), 6).alias(
                "mean_winsorized"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_impute",
    oracle=f"""
    WITH holed AS (
        SELECT event_type,
               CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v
        FROM events
    ),
    med AS (
        SELECT event_type, quantile_cont(v, 0.5) AS med
        FROM holed WHERE v IS NOT NULL GROUP BY event_type
    )
    SELECT h.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE h.v IS NULL) AS BIGINT) AS n_missing,
           round(MIN(m.med), 6) AS median_used,
           round({dsum_sql('COALESCE(h.v, m.med)')} / COUNT(*), 6)
               AS mean_imputed
    FROM holed h JOIN med m ON m.event_type = h.event_type
    GROUP BY h.event_type
    ORDER BY h.event_type
    """,
    tags=("stats", "cleaning"),
)
def q_impute(spark: SparkSession, d: str):
    """Group-median null imputation: a deterministic subset of values
    is nulled (event_id % 11 — simulating sensor dropout), each null
    is filled with its event type's exact median over the surviving
    values, and the report shows missingness and the post-imputation
    mean — the fill-before-model preprocessing pass.

    The median table is |types|-sized and broadcasts onto one fact
    scan; COALESCE applies the fill without a second pass. The
    interpolated median is engine-identical and the mean uses the
    exact-decimal contract."""
    return impute_table(load_table(spark, d, "events"))


def impute_table(events):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    e = events
    holed = e.select(
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    med = (
        holed.filter(F.col("v").isNotNull())
        .groupBy("event_type")
        .agg(F.percentile("v", F.lit(0.5)).alias("med"))
    )
    return (
        holed.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("v").isNull(), 1)).alias("n_missing"),
            F.round(F.min("med"), 6).alias("median_used"),
            F.round(
                dsum(F.coalesce(F.col("v"), F.col("med")))
                / F.count(F.lit(1)),
                6,
            ).alias("mean_imputed"),
        )
        .orderBy("event_type")
    )


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


# Weighted-median bin width over the account-balance domain.
_WM_BIN = 100


@query(
    "q_weighted_median",
    oracle=f"""
    WITH cw AS (
        SELECT c_mktsegment AS seg, c_acctbal, c_custkey,
               c_custkey % 7 + 1 AS w,
               CAST(floor(c_acctbal / {_WM_BIN}) AS BIGINT) AS bin
        FROM customer
    ),
    tot AS (SELECT seg, SUM(w) AS tot FROM cw GROUP BY seg),
    binw AS (SELECT seg, bin, SUM(w) AS bw FROM cw GROUP BY seg, bin),
    bins AS (
        SELECT seg, bin, bw,
               SUM(bw) OVER (PARTITION BY seg ORDER BY bin
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
        FROM binw
    ),
    mb AS (
        SELECT b.seg, MIN(b.bin) AS mbin
        FROM bins b JOIN tot t ON t.seg = b.seg
        WHERE 2 * b.cum >= t.tot
        GROUP BY b.seg
    ),
    mbrow AS (
        SELECT b.seg, b.bin, b.cum - b.bw AS prior
        FROM bins b JOIN mb ON mb.seg = b.seg AND mb.mbin = b.bin
    ),
    q AS (
        SELECT cw.seg, cw.c_acctbal, m.prior, t.tot,
               SUM(cw.w) OVER (PARTITION BY cw.seg
                               ORDER BY cw.c_acctbal, cw.c_custkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS c2
        FROM cw
        JOIN mbrow m ON m.seg = cw.seg AND m.bin = cw.bin
        JOIN tot t ON t.seg = cw.seg
    )
    SELECT seg,
           MIN(CASE WHEN 2 * (prior + c2) >= tot THEN c_acctbal END)
               AS wmedian,
           CAST(MAX(tot) AS BIGINT) AS total_w
    FROM q
    GROUP BY seg
    """,
    tags=("stats", "scale"),
)
def q_weighted_median(spark: SparkSession, d: str):
    """Exact weighted median per segment via the scale-safe
    bin-then-refine two-pass: (1) aggregate weights into fixed-width
    value bins and walk the per-segment bin CDF (a window over a
    BOUNDED, bins-sized table) to locate the median bin; (2) scan only
    that bin's rows with the prior cumulative weight carried in, and
    take the first value where twice the running weight reaches the
    total (lower weighted median, integer arithmetic throughout — no
    tot/2 float). This is the q_drift_ks_binned answer applied to
    order statistics: the naive form needs a total order per segment
    (single-partition at 100 TB); here every window is either
    bins-bounded or one-bin-bounded.

    Scale shape: two keyed aggregates + one bounded window + a
    bin-pruned second scan (at scale the bin filter prunes parquet row
    groups via min/max zone maps — the q_zonemap_prune effect)."""
    return weighted_median_report(load_table(spark, d, "customer"))


def weighted_median_report(cust):
    """Composable twin entry: the exact q_weighted_median computation
    over a customer-shaped frame (tests/test_streaming.py stages
    customer as a file stream and recomputes this per micro-batch)."""
    cw = cust.select(
        F.col("c_mktsegment").alias("seg"),
        "c_acctbal",
        "c_custkey",
        (F.col("c_custkey") % 7 + 1).alias("w"),
    )
    return weighted_median_stat(cw, _WM_BIN)


def weighted_median_stat(cw, bin_w: float = _WM_BIN):
    """Composable form over any (seg, c_acctbal, c_custkey, w) frame —
    also the property-test entry point (brute-force weighted median,
    tests/test_properties.py)."""
    cw = cw.withColumn("bin", F.floor(F.col("c_acctbal") / bin_w))
    tot = cw.groupBy("seg").agg(F.sum("w").alias("tot"))
    binw = cw.groupBy("seg", "bin").agg(F.sum("w").alias("bw"))
    wcum = (
        Window.partitionBy("seg")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bins = binw.withColumn("cum", F.sum("bw").over(wcum))
    mb = (
        bins.join(F.broadcast(tot), "seg")
        .filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("seg")
        .agg(F.min("bin").alias("mbin"))
        .withColumnRenamed("seg", "mseg")
    )
    mbrow = (
        bins.join(
            F.broadcast(mb),
            (F.col("seg") == F.col("mseg")) & (F.col("bin") == F.col("mbin")),
        )
        .select("seg", "bin", (F.col("cum") - F.col("bw")).alias("prior"))
    )
    q = (
        cw.join(F.broadcast(mbrow), ["seg", "bin"])
        .join(F.broadcast(tot), "seg")
        .withColumn(
            "c2",
            F.sum("w").over(
                Window.partitionBy("seg")
                .orderBy("c_acctbal", "c_custkey")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return q.groupBy("seg").agg(
        F.min(
            F.when(2 * (F.col("prior") + F.col("c2")) >= F.col("tot"), F.col("c_acctbal"))
        ).alias("wmedian"),
        F.max("tot").alias("total_w"),
    )


_H2_VBIN = 20.0  # value-bin width for the 2-D histogram


@query(
    "q_hist2d",
    oracle=f"""
    WITH cells AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
               CAST(floor(value / {_H2_VBIN}) AS BIGINT) AS vbin,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    )
    SELECT hour_of_day, vbin, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY hour_of_day), 6)
               AS hour_share
    FROM cells
    """,
    tags=("profiling", "histogram"),
)
def q_hist2d(spark: SparkSession, d: str):
    """2-D histogram of the event stream — hour-of-day × value bin —
    with each cell's share of its hour (the conditional distribution
    P(value bin | hour)). The heat-map primitive behind load-profile
    dashboards and the drift checks that compare a day's conditional
    distribution against a reference (q_psi over one axis is the 1-D
    special case).

    Scale shape: one grid-keyed map-side-combinable aggregate; the
    share window partitions by hour over the BOUNDED cell grid (≤ 24 ×
    value-range/binwidth rows), never over raw events. Integer bin
    arithmetic on both engines; the share is a ratio of exact counts
    rounded once."""
    return hist2d_grid(load_table(spark, d, "events"))


def hist2d_grid(ev):
    """The q_hist2d analytic as a DataFrame transform — shared by the
    batch query and its §2.C foreachBatch streaming twin."""
    cells = (
        ev.select(
            F.hour("ts").cast("bigint").alias("hour_of_day"),
            F.floor(F.col("value") / _H2_VBIN).alias("vbin"),
        )
        .groupBy("hour_of_day", "vbin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("hour_of_day")
    return cells.select(
        "hour_of_day",
        "vbin",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias(
            "hour_share"
        ),
    )


@query(
    "q_hhi",
    oracle="""
    WITH rev AS (
        SELECT c.c_mktsegment AS seg, o.o_custkey,
               SUM(CAST(o.o_totalprice AS DECIMAL(38,10))) AS r
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    seg AS (SELECT seg, SUM(r) AS tot, COUNT(*) AS n_cust FROM rev GROUP BY seg)
    SELECT s.seg, CAST(s.n_cust AS BIGINT) AS n_cust,
           round(CAST(SUM(CAST(
                     (CAST(r.r AS DOUBLE) / CAST(s.tot AS DOUBLE))
                     * (CAST(r.r AS DOUBLE) / CAST(s.tot AS DOUBLE)) * 10000
                 AS DECIMAL(38,10))) AS DOUBLE), 6) AS hhi
    FROM rev r JOIN seg s ON s.seg = r.seg
    GROUP BY s.seg, s.n_cust
    """,
    tags=("analytics", "concentration"),
)
def q_hhi(spark: SparkSession, d: str):
    """Herfindahl-Hirschman concentration index per market segment:
    each customer's share of segment revenue, squared and summed
    (×10 000, the antitrust convention — 10 000 = monopoly, →0 =
    atomistic). The concentration screen behind vendor-risk and
    market-structure dashboards; for a training corpus the same
    operator over source shares answers 'is this mixture dominated by
    one crawl?'.

    Two keyed aggregates (customer revenue, segment totals) and a
    broadcast of the segments table; revenue sums in exact decimal so
    both engines square identical share doubles, and the HHI sum goes
    through decimal once more (order-independent)."""
    return hhi_report(
        load_table(spark, d, "orders"), load_table(spark, d, "customer")
    )


def hhi_report(orders, cust):
    """Composable form over (orders, customer) frames — also the
    fact-stream-vs-static-dims twin entry point
    (tests/test_streaming.py)."""
    rev = (
        orders
        .join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("seg"), "o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast(DEC)).alias("r"))
    )
    seg = rev.groupBy("seg").agg(
        F.sum("r").alias("tot"), F.count(F.lit(1)).alias("n_cust")
    )
    share = F.col("r").cast("double") / F.col("tot").cast("double")
    return (
        rev.join(F.broadcast(seg), "seg")
        .groupBy("seg", "n_cust")
        .agg(
            F.round(
                F.sum((share * share * 10000).cast(DEC)).cast("double"), 6
            ).alias("hhi")
        )
        .select("seg", F.col("n_cust").cast("bigint").alias("n_cust"), "hhi")
    )


# Binned-Lorenz revenue bin width (per-customer revenue totals).
_GB_W = 10000.0


@query(
    "q_gini_binned",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey, {dsum_sql('o_totalprice')} AS r
        FROM orders GROUP BY o_custkey
    ),
    binned AS (
        SELECT n.n_name,
               CAST(FLOOR(rev.r / {_GB_W!r}) AS BIGINT) AS bin,
               COUNT(*) AS c,
               {dsum_sql('rev.r')} AS m
        FROM rev
        JOIN customer c ON c.c_custkey = rev.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, 2
    ),
    cum AS (
        SELECT n_name, bin, c, m,
               SUM(c) OVER (PARTITION BY n_name) AS cnt,
               CAST(ROUND(SUM(CAST(m AS DECIMAL(38,10)))
                   OVER (PARTITION BY n_name), 4) AS DOUBLE) AS tot,
               CAST(ROUND(SUM(CAST(m AS DECIMAL(38,10)))
                   OVER (PARTITION BY n_name ORDER BY bin
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   4) AS DOUBLE) AS cumm
        FROM binned
    ),
    terms AS (
        SELECT n_name, cnt,
               round((CAST(c AS DOUBLE) * (2.0 * cumm - m))
                     / (CAST(cnt AS DOUBLE) * tot), 10) AS term
        FROM cum
    )
    SELECT n_name,
           CAST(MAX(cnt) AS BIGINT) AS n_cust,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           round(1.0 - CAST(ROUND(SUM(CAST(term AS DECIMAL(38,12))), 8)
                            AS DOUBLE), 6) AS gini_binned
    FROM terms
    GROUP BY n_name
    """,
    tags=("stats", "scale-variant"),
)
def q_gini_binned(spark: SparkSession, d: str):
    """Binned-Lorenz Gini coefficient per nation — the 100 TB form
    q_gini's docstring names: instead of ranking every customer
    (per-nation window over the full customer set), revenues
    accumulate into fixed-width bins and the Gini integrates the
    discrete Lorenz curve over the BOUNDED bins table
    (G = 1 − Σ_b p_b·(L_b + L_{b−1}), trapezoidal rule; equivalently
    1 − Σ c·(2·cumM − m)/(n·tot)).

    The only corpus-sized exchange is the customer-keyed revenue
    reduce (same as exact q_gini); binning replaces the rank window
    with a bins-keyed aggregate plus nation-partitioned prefix sums
    over ≤ (max revenue / width) rows. Approximation error is bounded
    by within-bin ordering only — tests/test_analytics26.py proves
    closeness to the exact q_gini on the fixture. Bin masses use the
    exact-decimal contract; per-bin Lorenz terms share operation order
    with the oracle, rounded 10 dp, then exact-decimal summed."""
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")
    rev = orders.groupBy("o_custkey").agg(dsum("o_totalprice").alias("r"))
    binned = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.floor(F.col("r") / _GB_W).cast("bigint").alias("bin"))
        .agg(F.count(F.lit(1)).alias("c"), dsum("r").alias("m"))
    )
    wn = Window.partitionBy("n_name")
    wb = wn.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = binned.select(
        "n_name",
        "bin",
        "c",
        "m",
        F.sum("c").over(wn).alias("cnt"),
        F.round(F.sum(F.col("m").cast(DEC)).over(wn), 4)
        .cast("double")
        .alias("tot"),
        F.round(F.sum(F.col("m").cast(DEC)).over(wb), 4)
        .cast("double")
        .alias("cumm"),
    )
    terms = cum.select(
        "n_name",
        "cnt",
        F.round(
            (F.col("c").cast("double") * (2.0 * F.col("cumm") - F.col("m")))
            / (F.col("cnt").cast("double") * F.col("tot")),
            10,
        ).alias("term"),
    )
    return terms.groupBy("n_name").agg(
        F.max("cnt").cast("bigint").alias("n_cust"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(
            1.0
            - F.round(F.sum(F.col("term").cast("decimal(38,12)")), 8).cast(
                "double"
            ),
            6,
        ).alias("gini_binned"),
    )


# Robust-scaling outlier multiplier (Tukey-style fence on the
# median/IQR scale) — shared literal.
_RS_K = 1.5


@query(
    "q_robust_scale",
    oracle=f"""
    WITH pct AS (
        SELECT event_type,
               quantile_cont(value, 0.25) AS q1,
               quantile_cont(value, 0.50) AS med,
               quantile_cont(value, 0.75) AS q3
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(MIN(p.med), 6) AS median_,
           round(MIN(p.q3 - p.q1), 6) AS iqr,
           CAST(COUNT(*) FILTER (
               WHERE round(abs(e.value - p.med), 6)
                     > round({_RS_K!r} * (p.q3 - p.q1), 6)) AS BIGINT)
               AS n_outliers,
           round(CAST(COUNT(*) FILTER (
               WHERE round(abs(e.value - p.med), 6)
                     > round({_RS_K!r} * (p.q3 - p.q1), 6)) AS DOUBLE)
               / COUNT(*), 6) AS outlier_rate
    FROM events e JOIN pct p ON p.event_type = e.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
    tags=("stats", "cleaning"),
)
def q_robust_scale(spark: SparkSession, d: str):
    """Robust (median/IQR) scaling report per event type: exact
    interpolated quartiles, and the count of rows whose |x − median|
    exceeds 1.5·IQR — the quartile-based fence that complements the
    MAD gate (q_anomaly_mad) and the p05/p95 clip (q_winsorize) as the
    third standard robust-preprocessing primitive.

    The quartile table is one grouped aggregation to |types| rows,
    broadcast back onto a single fact scan; both sides of the fence
    comparison are rounded 6 dp first (round-before-compare,
    ALIGNMENT) so a last-ulp difference can never flip a count."""
    return robust_scale_report(load_table(spark, d, "events"))


def robust_scale_report(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    pct = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.50)).alias("med"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    out = F.round(F.abs(F.col("value") - F.col("med")), 6) > F.round(
        _RS_K * (F.col("q3") - F.col("q1")), 6
    )
    return (
        e.join(F.broadcast(pct), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("med"), 6).alias("median_"),
            F.round(F.min(F.col("q3") - F.col("q1")), 6).alias("iqr"),
            F.sum(out.cast("long")).alias("n_outliers"),
            F.round(
                F.sum(out.cast("long")).cast("double") / F.count(F.lit(1)), 6
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


# Hill-estimator tail threshold for events.value — shared literal.
_PL_XMIN = 100.0


@query(
    "q_power_law_alpha",
    oracle=f"""
    WITH tail AS (
        SELECT round(ln(value / {_PL_XMIN!r}), 9) AS lt
        FROM events WHERE value > {_PL_XMIN!r}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
           round(1.0 + CAST(COUNT(*) AS DOUBLE)
                 / NULLIF(CAST(ROUND(SUM(CAST(lt AS DECIMAL(38,10))), 6)
                               AS DOUBLE), 0.0),
                 6) AS alpha
    FROM tail
    """,
    tags=("stats", "distribution"),
)
def q_power_law_alpha(spark: SparkSession, d: str):
    """Hill maximum-likelihood estimate of the power-law tail exponent
    of events.value above x_min = 100: α = 1 + n / Σ ln(x/x_min) — the
    heavy-tail diagnostic behind degree distributions, document-length
    tails, and revenue concentration (α ≤ 2 means an infinite-variance
    tail where mean-based monitoring is meaningless).

    One filtered scan, one map-side-combined aggregate. The ln terms
    are rounded 9 dp per element before the exact decimal sum (the
    q_psi transcendental discipline), so both engines sum identical
    values in any order."""
    e = load_table(spark, d, "events").filter(F.col("value") > _PL_XMIN)
    lt = F.round(F.log(F.col("value") / _PL_XMIN), 9)
    return e.select(lt.alias("lt")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        # NULLIF: ANSI Spark throws on /0 — a tail sitting entirely at
        # x_min (rounded-ln sum 0) must yield NULL, not a crash
        F.round(
            1.0
            + F.count(F.lit(1)).cast("double")
            / F.nullif(
                F.round(F.sum(F.col("lt").cast(DEC)), 6).cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("alpha"),
    )


@query(
    "q_entropy_hour",
    oracle="""
    WITH cells AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour_of_day,
               event_type, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    terms AS (
        SELECT hour_of_day, c,
               SUM(c) OVER (PARTITION BY hour_of_day) AS tot,
               round((CAST(c AS DOUBLE)
                      / SUM(c) OVER (PARTITION BY hour_of_day))
                     * ln(CAST(c AS DOUBLE)
                          / SUM(c) OVER (PARTITION BY hour_of_day)), 9)
                   AS term
        FROM cells
    )
    SELECT hour_of_day,
           CAST(MAX(tot) AS BIGINT) AS n,
           round(-CAST(ROUND(SUM(CAST(term AS DECIMAL(38,10))), 6)
                       AS DOUBLE), 6) AS entropy
    FROM terms
    GROUP BY hour_of_day
    """,
    tags=("events", "profiling"),
)
def q_entropy_hour(spark: SparkSession, d: str):
    """Shannon entropy of the event-type mix per hour of day — when is
    traffic most behaviorally diverse? The load-profile diagnostic
    that separates "volume peaks" from "behavior shifts" (an hour can
    double its events while the mix entropy stays flat — or keep its
    volume while the mix collapses to one type, the bot signature).

    One grid-keyed aggregate (≤ 24·|types| cells), entropy terms on
    the bounded grid with the share window partitioned per hour. The
    p·ln p terms are rounded 9 dp before the exact decimal sum (q_psi
    discipline); p is a ratio of exact counts."""
    return entropy_hour_grid(load_table(spark, d, "events"))


def entropy_hour_grid(ev):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    cells = (
        ev
        .groupBy(
            F.hour("ts").cast("bigint").alias("hour_of_day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wh = Window.partitionBy("hour_of_day")
    p = F.col("c").cast("double") / F.sum("c").over(wh)
    terms = cells.select(
        "hour_of_day",
        F.sum("c").over(wh).alias("tot"),
        F.round(p * F.log(p), 9).alias("term"),
    )
    return terms.groupBy("hour_of_day").agg(
        F.max("tot").cast("bigint").alias("n"),
        F.round(
            -F.round(F.sum(F.col("term").cast(DEC)), 6).cast("double"), 6
        ).alias("entropy"),
    )


# Pareto threshold — revenue share the "top customers" must cover.
_PA_TAU = 0.8


@query(
    "q_pareto_share",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey, {dsum_sql('o_totalprice')} AS r
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT n.n_name, rev.r, rev.o_custkey,
               COUNT(*) OVER (PARTITION BY n.n_name) AS cnt,
               CAST(ROUND(SUM(CAST(rev.r AS DECIMAL(38,10)))
                   OVER (PARTITION BY n.n_name), 4) AS DOUBLE) AS tot,
               CAST(ROUND(SUM(CAST(rev.r AS DECIMAL(38,10)))
                   OVER (PARTITION BY n.n_name
                         ORDER BY rev.r DESC, rev.o_custkey
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   4) AS DOUBLE) AS cum
        FROM rev
        JOIN customer c ON c.c_custkey = rev.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    )
    SELECT n_name,
           CAST(MAX(cnt) AS BIGINT) AS n_cust,
           CAST(SUM(CASE WHEN round(cum / tot, 6) < {_PA_TAU!r}
                         THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_top,
           round(CAST(SUM(CASE WHEN round(cum / tot, 6) < {_PA_TAU!r}
                               THEN 1 ELSE 0 END) + 1 AS DOUBLE)
                 / MAX(cnt), 6) AS frac_customers
    FROM ranked
    GROUP BY n_name
    """,
    tags=("stats", "concentration"),
)
def q_pareto_share(spark: SparkSession, d: str):
    """Pareto concentration per nation: how many top customers cover
    80% of revenue, and what fraction of the customer base that is —
    the "is this an 80/20 business" readout that complements q_gini
    (a single index) and q_hhi (squared shares) with an actionable
    head-count.

    Same frame discipline as q_gini: revenue reduces customer-keyed
    first (the only corpus-sized exchange), then descending-rank
    running shares run per nation (frames bounded by a nation's
    customer count). Running sums are exact decimal; the crossing
    count compares a 6 dp-rounded share (round-before-compare) and
    adds one for the crossing customer."""
    orders = load_table(spark, d, "orders")
    cust = load_table(spark, d, "customer")
    nation = load_table(spark, d, "nation")
    return pareto_share_report(orders, cust, nation)


def pareto_share_report(orders, cust, nation):
    """Composable form over (orders, customer, nation) frames — also
    the fact-stream-vs-static-dims twin entry point
    (tests/test_streaming.py)."""
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum(F.col("o_totalprice").cast(DEC)), 4)
        .cast("double")
        .alias("r")
    )
    joined = (
        rev.join(cust, rev.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    wn = Window.partitionBy("n_name")
    wr = wn.orderBy(F.col("r").desc(), "o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = joined.select(
        "n_name",
        F.count(F.lit(1)).over(wn).alias("cnt"),
        F.round(F.sum(F.col("r").cast(DEC)).over(wn), 4)
        .cast("double")
        .alias("tot"),
        F.round(F.sum(F.col("r").cast(DEC)).over(wr), 4)
        .cast("double")
        .alias("cum"),
    )
    below = F.sum(
        F.when(F.round(F.col("cum") / F.col("tot"), 6) < _PA_TAU, 1).otherwise(0)
    )
    return ranked.groupBy("n_name").agg(
        F.max("cnt").cast("bigint").alias("n_cust"),
        (below + 1).cast("bigint").alias("n_top"),
        F.round((below + 1).cast("double") / F.max("cnt"), 6).alias(
            "frac_customers"
        ),
    )


# ---------------------------------------------------------------------------
# q_qq_plot — sample vs normal quantiles of the event-value distribution
# ---------------------------------------------------------------------------

# Standard normal quantiles Φ⁻¹(p) for p = 0.05..0.95 step 0.05, as
# shared 6 dp literals (engine-evaluated Φ⁻¹ exists in neither).
_QQ_POINTS = (
    (0.05, -1.644854), (0.10, -1.281552), (0.15, -1.036433),
    (0.20, -0.841621), (0.25, -0.674490), (0.30, -0.524401),
    (0.35, -0.385320), (0.40, -0.253347), (0.45, -0.125661),
    (0.50, 0.0), (0.55, 0.125661), (0.60, 0.253347),
    (0.65, 0.385320), (0.70, 0.524401), (0.75, 0.674490),
    (0.80, 0.841621), (0.85, 1.036433), (0.90, 1.281552),
    (0.95, 1.644854),
)


@query(
    "q_qq_plot",
    oracle=f"""
    WITH pts(p, z) AS (VALUES {", ".join(f"({p}, {z})" for p, z in _QQ_POINTS)}),
    vc AS (
        SELECT value AS v, COUNT(*) AS c FROM events GROUP BY value
    ),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
        FROM vc
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               round(AVG(value), 6) AS mu,
               round(stddev_pop(value), 6) AS sigma
        FROM events
    ),
    q AS (
        SELECT p.p, p.z, MIN(c.v) AS sample_q
        FROM pts p CROSS JOIN tot t
        JOIN cum c ON c.cc >= CAST(ceil(p.p * t.n) AS BIGINT)
        GROUP BY p.p, p.z
    )
    SELECT q.p, q.z, q.sample_q,
           round(t.mu + t.sigma * q.z, 6) AS normal_q,
           round(q.sample_q - (t.mu + t.sigma * q.z), 6) AS gap
    FROM q CROSS JOIN tot t
    ORDER BY q.p
    """,
    tags=("stats", "distribution"),
)
def q_qq_plot(spark: SparkSession, d: str):
    """Normal QQ table for the event-value distribution: the exact
    sample quantile (quantile_disc semantics — smallest value whose
    cumulative count reaches ⌈p·n⌉) against μ + σ·Φ⁻¹(p) at 19
    probability points — the one-look normality diagnostic behind
    every 'can I use a z-test here' decision.

    Exact and scale-safe without a global sort: values group to a
    value-distinct table (2 dp currency values — bounded regardless of
    row count), the cumulative count runs over that bounded table, and
    each quantile is a min over the qualifying tail. Φ⁻¹ values are
    shared 6 dp literals; μ/σ follow the 6 dp float-aggregate
    contract."""
    return qq_table(load_table(spark, d, "events"))


def qq_table(e):
    """q_qq_plot's transform on an events frame — shared by the batch
    query and its streaming foreachBatch twin."""
    spark_df = e.sparkSession.createDataFrame(
        list(_QQ_POINTS), "p double, z double"
    )
    vc = e.groupBy(F.col("value").alias("v")).agg(F.count(F.lit(1)).alias("c"))
    wc = (
        Window.partitionBy(bounded_window_key("v"))
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.select("v", F.sum("c").over(wc).alias("cc"))
    tot = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_pop("value"), 6).alias("sigma"),
    )
    q = (
        F.broadcast(spark_df)
        .crossJoin(F.broadcast(tot))
        .join(
            cum,
            F.col("cc") >= F.ceil(F.col("p") * F.col("n")).cast("bigint"),
        )
        .groupBy("p", "z", "mu", "sigma")
        .agg(F.min("v").alias("sample_q"))
    )
    normal_q = F.col("mu") + F.col("sigma") * F.col("z")
    return q.select(
        "p",
        "z",
        "sample_q",
        F.round(normal_q, 6).alias("normal_q"),
        F.round(F.col("sample_q") - normal_q, 6).alias("gap"),
    ).orderBy("p")


# ---------------------------------------------------------------------------
# q_k_anonymity — quasi-identifier re-identification census
# ---------------------------------------------------------------------------

_KA_BUCKET = 64  # n_chars bucket width in the quasi-identifier
_KA_K = 5


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH qi AS (
        SELECT lang, source,
               CAST(n_chars // {_KA_BUCKET} AS BIGINT) AS len_bucket,
               COUNT(*) AS gsize
        FROM documents GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(gsize) AS BIGINT) AS k_anonymity,
           CAST(SUM(gsize) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(gsize) FILTER (WHERE gsize < {_KA_K}), 0)
                AS BIGINT) AS rows_below_k{_KA_K},
           round(COALESCE(SUM(gsize) FILTER (WHERE gsize < {_KA_K}), 0)
                 / CAST(SUM(gsize) AS DOUBLE), 6) AS frac_below_k{_KA_K}
    FROM qi
    """,
    tags=("privacy", "profiling"),
)
def q_k_anonymity(spark: SparkSession, d: str):
    """k-anonymity census over the documents table: treating
    (lang, source, length-bucket) as the quasi-identifier, report the
    equivalence-class count, the dataset's k (smallest class), and how
    many rows sit in classes below k=5 — the re-identification audit
    run before any governed data release (the release-side complement
    of q_dp_laplace's noise mechanism).

    One QI-keyed aggregation (map-side combined) to the class-size
    table, then a bounded rollup; all outputs are exact counts plus
    one 6 dp ratio."""
    return k_anonymity_census(load_table(spark, d, "documents"))


def k_anonymity_census(docs):
    """Composable form over any documents-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    docs = docs
    qi = docs.groupBy(
        "lang",
        "source",
        F.floor(F.col("n_chars") / _KA_BUCKET).cast("bigint").alias(
            "len_bucket"
        ),
    ).agg(F.count(F.lit(1)).alias("gsize"))
    below = F.when(F.col("gsize") < _KA_K, F.col("gsize"))
    return qi.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("gsize").cast("bigint").alias("k_anonymity"),
        F.sum("gsize").cast("bigint").alias("n_rows"),
        F.coalesce(F.sum(below), F.lit(0))
        .cast("bigint")
        .alias(f"rows_below_k{_KA_K}"),
        F.round(
            F.coalesce(F.sum(below), F.lit(0))
            / F.sum("gsize").cast("double"),
            6,
        ).alias(f"frac_below_k{_KA_K}"),
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


# ---------------------------------------------------------------------------
# q_dp_laplace — deterministic differentially-private histogram
# ---------------------------------------------------------------------------

_DP_EPS = 1.0


@query(
    "q_dp_laplace",
    oracle=f"""
    WITH g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY event_type
    ),
    noised AS (
        SELECT event_type, cnt,
               {u01_sql("'dp:' || event_type")} - 0.5 AS c
        FROM g
    )
    SELECT event_type,
           {_DP_EPS!r} AS epsilon,
           GREATEST(0.0, round(
               CAST(cnt AS DOUBLE)
               + round(-(CAST(sign(c) AS DOUBLE))
                       * ln(GREATEST(1.0 - 2.0 * abs(c), 1e-12))
                       / {_DP_EPS!r}, 6), 6)) AS noised_count
    FROM noised ORDER BY event_type
    """,
    tags=("privacy", "aggregation"),
)
def q_dp_laplace(spark: SparkSession, d: str):
    """Deterministic SIMULATION of the Laplace mechanism for an
    event-type count histogram: true counts plus a Laplace(Δf/ε)-shaped
    perturbation (Δf=1, ε=1) drawn by inverse-CDF from the engine's
    md5-uniform keyed on the event type. Because the noise is
    recomputable from the output row's own key, this provides NO actual
    differential privacy — anyone can subtract the noise. It exists to
    exercise the noise-injection plan shape (and its cross-engine
    byte-exactness) for benchmark/parity purposes; a real deployment
    would key the draw with a secret salt held outside the release.

    Scale shape: the DP mechanism is a scalar post-map on the
    |types|-row aggregate — the distributed work is the one map-side-
    combined count; noise costs nothing at any scale. The inverse CDF
    X = −b·sgn(u−½)·ln(1−2|u−½|) is clamped at 1e-12 before the ln so a
    pathological u≈0 draw degrades to a large-but-finite noise instead
    of ±inf (and ln(0) NULL-vs-inf engine divergence)."""
    return dp_laplace_histogram(load_table(spark, d, "events"))


def dp_laplace_histogram(e):
    """Composable form over any events-shaped frame — also the
    foreachBatch streaming twin's per-batch transform
    (tests/test_streaming.py)."""
    g = e.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
    c = (u01(F.concat(F.lit("dp:"), F.col("event_type"))) - F.lit(0.5)).alias(
        "c"
    )
    noised = g.select("event_type", "cnt", c)
    noise = F.round(
        -(F.signum(F.col("c")).cast("double"))
        * F.log(
            F.greatest(
                F.lit(1.0) - F.lit(2.0) * F.abs(F.col("c")), F.lit(1e-12)
            )
        )
        / F.lit(_DP_EPS),
        6,
    )
    return noised.select(
        "event_type",
        F.lit(_DP_EPS).alias("epsilon"),
        F.greatest(
            F.lit(0.0),
            F.round(F.col("cnt").cast("double") + noise, 6),
        ).alias("noised_count"),
    ).orderBy("event_type")
