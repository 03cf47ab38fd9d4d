"""Data profiling / quality operators — the checks a 100 TB training
pipeline runs before (and while) it curates: per-column table
profiles, join-key skew diagnosis, histograms, declarative constraint
gates, robust (median/MAD) outlier detection, quantile binning,
corpus n-gram vocabularies, per-document token entropy, and
duplicate-cluster statistics.

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

from direct_kafka_stream_spark.exprs import bounded_window_key
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
