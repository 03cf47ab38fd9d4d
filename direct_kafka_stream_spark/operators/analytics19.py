"""Round-4 similarity-join / density / geo sweep: prefix-filtered exact
set-similarity join (the PPJoin-style scale path for exact Jaccard
dedup), local outlier factor within LSH buckets (density-based
embedding outliers, complementing the centroid-distance q_embed_
outliers), and grid-cell k-nearest-neighbor search with haversine
distance (the geo-bucketing analog of the IVF probe).

Reference anchor: EXT operators per SURVEY.md §2 (the reference's
processing hook is KafkaDirectStream.scala:43-51).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.io import load_table, spread_scan
from direct_kafka_stream_spark.operators import similarity, text
from direct_kafka_stream_spark.registry import query

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


# LOF neighborhood size.
_LOF_K = 3
_LOF_TOPN = 10


@query(
    "q_lof_bucketed",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, {similarity.BUCKET16_SQL} AS bucket FROM embeddings
    ),
    norms AS (SELECT vec_id, SUM(x * x) AS nn FROM ev GROUP BY vec_id),
    pairs AS (
        SELECT a.vec_id AS va, b2.vec_id AS vb
        FROM b a JOIN b b2
          ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id
    ),
    dist AS (
        SELECT p.va, p.vb,
               round(1 - SUM(ea.x * eb.x)
                         / (sqrt(na.nn) * sqrt(nb.nn)), 9) AS d
        FROM pairs p
        JOIN ev ea ON ea.vec_id = p.va
        JOIN ev eb ON eb.vec_id = p.vb AND eb.i = ea.i
        JOIN norms na ON na.vec_id = p.va
        JOIN norms nb ON nb.vec_id = p.vb
        GROUP BY p.va, p.vb, na.nn, nb.nn
    ),
    knn AS (
        SELECT va, vb, d FROM (
            SELECT va, vb, d,
                   ROW_NUMBER() OVER (PARTITION BY va
                                      ORDER BY d, vb) AS rn
            FROM dist
        ) WHERE rn <= {_LOF_K}
    ),
    kdist AS (SELECT va, MAX(d) AS kd FROM knn GROUP BY va),
    reach AS (
        SELECT k.va, k.vb,
               CASE WHEN k.d > kb.kd THEN k.d ELSE kb.kd END AS r
        FROM knn k JOIN kdist kb ON kb.va = k.vb
    ),
    lrd AS (
        SELECT va, CAST(1 AS DOUBLE) / NULLIF(round(AVG(r), 9), 0.0) AS lrd,
               COUNT(*) AS n_nb
        FROM reach GROUP BY va
    ),
    lof AS (
        SELECT k.va, round(AVG(lb.lrd), 9) / NULLIF(la.lrd, 0.0) AS lof, la.n_nb
        FROM knn k
        JOIN lrd lb ON lb.va = k.vb
        JOIN lrd la ON la.va = k.va
        GROUP BY k.va, la.lrd, la.n_nb
    )
    SELECT va AS vec_id, round(lof, 5) AS lof,
           CAST(n_nb AS BIGINT) AS n_neighbors
    FROM lof
    ORDER BY round(lof, 5) DESC, va
    LIMIT {_LOF_TOPN}
    """,
    tags=("llm", "similarity", "quality"),
)
def q_lof_bucketed(spark: SparkSession, d: str):
    """Local outlier factor (k=3) over the embedding corpus, with the
    kNN graph restricted to sign-LSH buckets: density-based outlier
    scoring (a point is anomalous if its local density is low relative
    to its neighbors') — the complement of q_embed_outliers'
    global-centroid distance, which misses outliers sitting between
    dense clusters. Distances are cosine distance rounded to 9dp
    before any downstream arithmetic; the two averaging steps are
    rounded before their reciprocal/ratio so both engines agree
    bit-for-bit despite different summation orders.

    Scale shape: pair generation is bucket-scoped (sum of squared
    bucket sizes — the q_dedup_embed pattern), the kNN window
    partitions per point (bounded by bucket size), and every later
    stage is keyed on point or neighbor ids. Small buckets yield
    fewer than k neighbors; LOF then uses what exists (n_neighbors
    reports it). At 100 TB the bucket bit-count rises to keep bucket
    populations bounded — the same dial every LSH operator here
    shares."""
    emb = load_table(spark, d, "embeddings").select(
        "vec_id", "embedding", similarity.bucket16_col().alias("bucket")
    )
    a = emb.select(
        F.col("vec_id").alias("va"), F.col("embedding").alias("ea"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"), "bucket"
    )
    dist = (
        a.join(b, "bucket")
        .filter(F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(1 - similarity.cosine(F.col("ea"), F.col("eb")), 9).alias("d"),
        )
    )
    knn = track(
        dist.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("va").orderBy("d", "vb")),
        )
        .filter(F.col("rn") <= _LOF_K)
        .select("va", "vb", "d")
        .persist()
    )
    kdist = knn.groupBy("va").agg(F.max("d").alias("kd"))
    reach = knn.join(
        kdist.withColumnRenamed("va", "vb"), "vb"
    ).select(
        "va", "vb", F.greatest(F.col("d"), F.col("kd")).alias("r")
    )
    # NULLIF: coincident points give zero reach distance — lrd (and
    # the LOF built on it) is undefined, NULL on both engines rather
    # than an ANSI divide-by-zero abort / a DuckDB inf
    lrd = reach.groupBy("va").agg(
        (F.lit(1.0) / F.nullif(F.round(F.avg("r"), 9), F.lit(0.0))).alias(
            "lrd"
        ),
        F.count(F.lit(1)).alias("n_nb"),
    )
    lb = lrd.select(F.col("va").alias("vb"), F.col("lrd").alias("lrd_b"))
    la = lrd.select("va", F.col("lrd").alias("lrd_a"), "n_nb")
    lof = (
        knn.join(lb, "vb")
        .join(la, "va")
        .groupBy("va", "lrd_a", "n_nb")
        .agg(
            (
                F.round(F.avg("lrd_b"), 9)
                / F.nullif(F.col("lrd_a"), F.lit(0.0))
            ).alias("lof")
        )
    )
    return (
        lof.select(
            F.col("va").alias("vec_id"),
            F.round("lof", 5).alias("lof"),
            F.col("n_nb").alias("n_neighbors"),
        )
        .orderBy(F.col("lof").desc(), "vec_id")
        .limit(_LOF_TOPN)
    )


# Geo kNN: synthetic deterministic coordinates, 10-degree grid cells,
# 3x3 neighborhood probe, top-5 per probe.
_GEO_CELL_DEG = 10
_GEO_TOPK = 5
_GEO_PROBES = ((1, 37.77, -122.42), (2, 51.5, -0.13), (3, -33.87, 151.21))
_GEO_R_KM = 6371.0


def _geo_probes_sql() -> str:
    rows = ", ".join(
        f"({pid}, CAST({lat} AS DOUBLE), CAST({lon} AS DOUBLE))"
        for pid, lat, lon in _GEO_PROBES
    )
    return f"(VALUES {rows}) AS probes(pid, plat, plon)"


@query(
    "q_geo_cell_knn",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey,
               (c_custkey * 7919 % 18000) / 100.0 - 90.0 AS lat,
               (c_custkey * 104729 % 36000) / 100.0 - 180.0 AS lon
        FROM customer
    ),
    cand AS (
        SELECT probes.pid, probes.plat, probes.plon,
               t.c_custkey, t.lat, t.lon
        FROM pts t, {_geo_probes_sql()}
        WHERE abs(CAST(floor(t.lat / {_GEO_CELL_DEG}) AS BIGINT)
                  - CAST(floor(probes.plat / {_GEO_CELL_DEG}) AS BIGINT)) <= 1
          AND abs(CAST(floor(t.lon / {_GEO_CELL_DEG}) AS BIGINT)
                  - CAST(floor(probes.plon / {_GEO_CELL_DEG}) AS BIGINT)) <= 1
    ),
    dists AS (
        SELECT pid, c_custkey,
               round(2 * {_GEO_R_KM} * asin(sqrt(
                   sin(radians(lat - plat) / 2) * sin(radians(lat - plat) / 2)
                   + cos(radians(plat)) * cos(radians(lat))
                     * sin(radians(lon - plon) / 2)
                     * sin(radians(lon - plon) / 2))), 6) AS d_km
        FROM cand
    )
    SELECT pid AS probe_id, c_custkey, d_km,
           CAST(rn AS BIGINT) AS rank_n
    FROM (
        SELECT pid, c_custkey, d_km,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY d_km, c_custkey) AS rn
        FROM dists
    ) WHERE rn <= {_GEO_TOPK}
    """,
    tags=("geo", "similarity"),
)
def q_geo_cell_knn(spark: SparkSession, d: str):
    """Grid-cell k-nearest-neighbor search: deterministic synthetic
    coordinates per customer, a 10° lat/lon grid, and per-probe
    candidate generation restricted to the probe's 3×3 cell
    neighborhood before the exact haversine top-5 — the geospatial
    instance of the bucket-then-verify pattern (q_sim_ivf's probe, on
    a grid instead of learned centroids). The neighborhood scan is
    the documented semantic (candidates beyond ~10° are not
    considered), matching production geo indexes that probe a fixed
    ring of cells; distances compare ROUNDED with a key tiebreak.

    Scale shape: probes are a literal broadcast; the cell filter is a
    pair of integer predicates that push into the scan, pruning
    parquet row groups when the table is laid out cell-ordered (the
    q_zorder_key layout makes exactly this query fast); the per-probe
    rank window is bounded by 9-cell occupancy. Antimeridian wrap is
    out of scope and documented (probe cells sit away from ±180°)."""
    pts = load_table(spark, d, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919 % 18000) / 100.0 - 90.0).alias("lat"),
        ((F.col("c_custkey") * 104729 % 36000) / 100.0 - 180.0).alias("lon"),
    )
    probes = spark.createDataFrame(
        list(_GEO_PROBES), "pid int, plat double, plon double"
    )
    cell = lambda c: F.floor(c / _GEO_CELL_DEG)  # noqa: E731
    cand = pts.crossJoin(F.broadcast(probes)).filter(
        (F.abs(cell(F.col("lat")) - cell(F.col("plat"))) <= 1)
        & (F.abs(cell(F.col("lon")) - cell(F.col("plon"))) <= 1)
    )
    sin_dlat = F.sin(F.radians(F.col("lat") - F.col("plat")) / 2)
    sin_dlon = F.sin(F.radians(F.col("lon") - F.col("plon")) / 2)
    hav = 2 * _GEO_R_KM * F.asin(
        F.sqrt(
            sin_dlat * sin_dlat
            + F.cos(F.radians(F.col("plat")))
            * F.cos(F.radians(F.col("lat")))
            * sin_dlon
            * sin_dlon
        )
    )
    dists = cand.select(
        "pid", "c_custkey", F.round(hav, 6).alias("d_km")
    )
    return (
        dists.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("pid").orderBy("d_km", "c_custkey")
            ),
        )
        .filter(F.col("rn") <= _GEO_TOPK)
        .select(
            F.col("pid").alias("probe_id"),
            "c_custkey",
            "d_km",
            F.col("rn").cast("long").alias("rank_n"),
        )
    )
