"""Shared similarity primitives, each with its DuckDB oracle twin:
vector cosine and squared distance, banded MinHash-LSH over word
3-gram shingles with the exact word-set Jaccard verify, signed-random-
projection (SRP) buckets and the 4-bit sign bucket.

Registers no queries. Every hash is md5 or exact int64 arithmetic
(identical output in Spark and DuckDB), so each primitive is
oracle-replayable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark.caching import track
from direct_kafka_stream_spark.exprs import md5_int
from direct_kafka_stream_spark.io import spread_scan
from direct_kafka_stream_spark.operators import text

# ---------------------------------------------------------------------------
# Vectors
# ---------------------------------------------------------------------------


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float vectors via higher-order functions
    (JVM codegen, no UDF): dot / (|a|·|b|), computed in double."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    nb = F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    return dot / (F.sqrt(na) * F.sqrt(nb))


def sq_dist(a: str | Column, b: str | Column) -> Column:
    """Squared Euclidean distance of two vectors: a sequential fold of
    (a_i − b_i)² in double, in array-index order, so it is bit-identical
    to DuckDB's ``list_reduce`` over the same terms."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


# Oracle-side: explode embeddings to (vec_id, i, x) and join on position.
EV_SQL = """
    SELECT vec_id,
           CAST(unnest(embedding) AS DOUBLE) AS x,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
"""


def cosine_vs_query_sql(query_vec_id: int, where: str = "TRUE") -> str:
    """DuckDB: cosine similarity of every embedding vs one query vector,
    rounded to 6 dp (cross-engine double accumulation differs ~1e-15)."""
    return f"""
    WITH ev AS ({EV_SQL}),
    qv AS (SELECT i, x AS qx FROM ev WHERE vec_id = {query_vec_id}),
    dots AS (
        SELECT e.vec_id, SUM(e.x * q.qx) AS dot, SUM(e.x * e.x) AS na
        FROM ev AS e JOIN qv AS q USING (i)
        GROUP BY e.vec_id
    ),
    nq AS (SELECT SUM(qx * qx) AS nq FROM qv)
    SELECT d.vec_id, round(d.dot / (sqrt(d.na) * sqrt(nq.nq)), 6) AS sim
    FROM dots AS d, nq
    WHERE {where}
    """


# ---------------------------------------------------------------------------
# MinHash-LSH
# ---------------------------------------------------------------------------

# Banded MinHash-LSH signature: b bands × r rows. A pair is a candidate
# iff ALL r row-minhashes agree in AT LEAST ONE band — the classic
# S-curve P(cand) = 1 - (1 - s^r)^b, here ≈0.99 at shingle-Jaccard 0.9
# and ≈0.0004 at 0.1. (Round 1 shipped 4 bands of size 1, where a single
# hash collision made a candidate — fine on fixtures, a false-positive
# flood on a real corpus.)
_MH_ROWS = 4  # r: AND within a band
_MH_BANDS = 4  # b: OR across bands
N_MINHASH = _MH_ROWS * _MH_BANDS  # 16 independent minhash functions

# Each shingle is hashed ONCE (md5 → 60-bit int); the 16 "permutations"
# are affine maps (a·h + b) mod p over the Mersenne prime 2³¹−1 — exact
# 64-bit integer arithmetic, bit-identical in Spark and DuckDB, and ~16×
# cheaper than 16 seeded md5 calls per shingle (measured: the md5-per-seed
# variant doubled the capstone's wall time at sf0.1).
_MH_P = 2147483647  # 2^31 - 1; a*h + b < 2^62 — no int64 overflow


def _mh_coeff(tag: str) -> int:
    """Deterministic pseudo-random coefficient in [1, p): md5 of a fixed
    tag. The (a, b) pairs must be mutually independent — arithmetic
    progressions like a_j = c·(j+1) make the "permutations" scaled
    copies of one another, the r rows of a band stop being independent
    tests, and random pairs collide at the single-hash rate (measured:
    16 false-positive candidates at shingle-Jaccard ~0.01 on the sf0.001
    fixture; 0 with independent coefficients)."""
    import hashlib

    return int(hashlib.md5(tag.encode()).hexdigest()[:15], 16) % (_MH_P - 1) + 1


_MH_A = [_mh_coeff(f"minhash-a-{j}") for j in range(N_MINHASH)]
_MH_B = [_mh_coeff(f"minhash-b-{j}") for j in range(N_MINHASH)]


def minhash_sigs(sh: DataFrame) -> DataFrame:
    """shingles → one row per doc with N_MINHASH min-hash columns.
    One md5 per shingle (first 15 hex digits → 60-bit int, identical to
    DuckDB's hex cast), then N_MINHASH affine permutations — so the
    whole signature is oracle-replayable."""
    h0 = (md5_int("shingle", 15) % _MH_P).alias("h0")
    return (
        sh.select("doc_id", h0)
        .groupBy("doc_id")
        .agg(
            *[
                F.min((F.lit(_MH_A[j]) * F.col("h0") + F.lit(_MH_B[j])) % _MH_P).alias(
                    f"mh{j}"
                )
                for j in range(N_MINHASH)
            ]
        )
    )


def minhash_bands(sigs: DataFrame) -> DataFrame:
    """signatures → (doc_id, band, mh) where mh = md5 of the band's r
    concatenated row-hashes: equality on mh is equality on ALL r rows
    (AND), and explode across bands gives the OR. The md5 re-hash keeps
    the join key one fixed-width column. One explode pass — a
    union-of-b-selects reshape re-reads sigs b times and measurably
    drags the dedup family's wall time."""
    entries = [
        F.struct(
            F.lit(B).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{B * _MH_ROWS + i}").cast("string")
                        for i in range(_MH_ROWS)
                    ],
                )
            ).alias("mh"),
        )
        for B in range(_MH_BANDS)
    ]
    return sigs.select("doc_id", F.explode(F.array(*entries)).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.mh").alias("mh")
    )


_H0_FROM_SHINGLES_SQL = (
    "SELECT doc_id, CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT)"
    f" % {_MH_P} AS h0 FROM shingles"
)
_SIGS_AGG_SQL = ", ".join(
    f"MIN(({_MH_A[j]} * h0 + {_MH_B[j]}) % {_MH_P}) AS mh{j}"
    for j in range(N_MINHASH)
)
SIGS_CTE_SQL = (
    f"sigs AS (SELECT doc_id, {_SIGS_AGG_SQL}"
    f" FROM ({_H0_FROM_SHINGLES_SQL}) GROUP BY doc_id)"
)
BANDS_SELECT_SQL = " UNION ALL ".join(
    "SELECT doc_id, {B} AS band, md5({cat}) AS mh FROM sigs".format(
        B=B,
        cat=" || '|' || ".join(
            f"CAST(mh{B * _MH_ROWS + i} AS VARCHAR)" for i in range(_MH_ROWS)
        ),
    )
    for B in range(_MH_BANDS)
)
ROWS1_SELECT_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band, mh{j} AS mh FROM sigs" for j in range(N_MINHASH)
)


def word_arrays(docs: DataFrame) -> DataFrame:
    """(doc_id, ws) with ws = distinct word array — the per-doc word set
    as ONE array row instead of an exploded fact table. Jaccard
    confirmation then joins candidates against a doc-count-sized table
    and intersects array-side in codegen, instead of re-joining a
    corpus-sized (doc_id, word) fact twice."""
    return docs.select("doc_id", F.array_distinct(text.tokens()).alias("ws"))


WARR_SQL = """
    SELECT doc_id,
           list_distinct(list_filter(string_split(text, ' '), w -> w != '')) AS ws
    FROM documents
"""


def jaccard_on_pairs(
    pairs: DataFrame, warr: DataFrame, left: str, right: str
) -> DataFrame:
    """Attach exact word-set Jaccard to (left, right) doc-id pairs via
    array_intersect over the compact word-array table."""
    wa = warr.select(F.col("doc_id").alias(left), F.col("ws").alias("wsa"))
    wb = warr.select(F.col("doc_id").alias(right), F.col("ws").alias("wsb"))
    ni = F.size(F.array_intersect("wsa", "wsb"))
    return (
        pairs.join(wa, left)
        .join(wb, right)
        .withColumn("ni", ni)
        .withColumn(
            "jaccard",
            F.col("ni").cast("double")
            / (F.size("wsa") + F.size("wsb") - F.col("ni")),
        )
    )


BUCKET_CAP = 64  # drop degenerate LSH buckets (boilerplate signatures)


def minhash_band_edges(docs: DataFrame) -> DataFrame:
    """Symmetric LSH edge list: (src, dst) iff some band's full
    r-row signature collides. Join key is (band, mh) — the corpus is
    never cross-joined — and buckets larger than BUCKET_CAP are
    dropped BEFORE the self-join: a degenerate bucket
    (boilerplate/empty-doc signatures) of size m would emit m² edges,
    and at 100 TB a single million-doc bucket is a 10¹²-pair skew bomb.
    The cap is a window count over the same (band, mh) shuffle the join
    needs anyway — no extra exchange. (Fixture buckets max out at 4, so
    the cap binds only at scale; the oracle applies the identical cap.)"""
    sigs = minhash_sigs(text.shingles_from_docs(spread_scan(docs, "doc_id")))
    bands = minhash_bands(sigs)
    wb = Window.partitionBy("band", "mh")
    # Persist the capped band table: it is referenced from BOTH sides of
    # the self-join, and each bands reference re-evaluates the signature
    # aggregate 4× (one per band select) — 8 evaluations of the shingle
    # scan without this one doc-count-sized cache.
    capped = track(
        bands.withColumn("bn", F.count(F.lit(1)).over(wb))
        .filter(F.col("bn") <= BUCKET_CAP)
        .persist()
    )
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.mh") == F.col("b.mh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .distinct()
    )


BANDS_SQL = f"""
    shingles AS ({text.SHINGLES_SQL}),
    {SIGS_CTE_SQL},
    bands AS ({BANDS_SELECT_SQL}),
    capped AS (
        SELECT doc_id, band, mh FROM (
            SELECT doc_id, band, mh,
                   COUNT(*) OVER (PARTITION BY band, mh) AS bn
            FROM bands
        ) WHERE bn <= 64
    ),
    edges AS (
        SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        FROM capped AS a JOIN capped AS b
          ON a.band = b.band AND a.mh = b.mh AND a.doc_id != b.doc_id
    )
"""


# ---------------------------------------------------------------------------
# LSH buckets over embeddings
# ---------------------------------------------------------------------------

# Signed-random-projection LSH. SRP_H pseudo-random hyperplanes give
# 2^SRP_H buckets; the hyperplane matrix is drawn ONCE from a seeded
# generator and inlined as integer literals in both engines (a formula
# like (i·p_j mod 7)−3 looks random but degenerates — p_j ≡ 0 mod 7
# yields a constant hyperplane and equal residues duplicate planes,
# which measurably costs recall). Sign bits must agree bit-for-bit
# across engines, so the dot product is computed on µ-quantized int64
# components (floor(x·1e6): float→double widening, one IEEE multiply,
# and floor are all exactly reproducible) — pure integer arithmetic,
# no float sums.
SRP_H = 8
SRP_DIM = 64


def _srp_coefs() -> list[list[int]]:
    import numpy as np

    rng = np.random.default_rng(42)
    return rng.integers(-7, 8, size=(SRP_H, SRP_DIM)).tolist()


SRP_C = _srp_coefs()

SRP_EVQ_SQL = """
    SELECT vec_id,
           CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq,
           generate_subscripts(embedding, 1) AS i
    FROM embeddings
"""

SRP_BUCKET_SQL = (
    "SELECT vec_id, "
    + " + ".join(
        f"CAST(SUM(xq * ([{', '.join(str(c) for c in SRP_C[j])}])[i]) > 0"
        f" AS INTEGER) * {1 << j}"
        for j in range(SRP_H)
    )
    + f" AS bucket FROM ({SRP_EVQ_SQL}) GROUP BY vec_id"
)

SRP_MASKS = [0] + [1 << j for j in range(SRP_H)]


def srp_bucket_col() -> Column:
    """Spark twin of SRP_BUCKET_SQL: per-hyperplane int64 dot via
    zip_with against the literal coefficient row + aggregate (JVM
    codegen, zero UDFs). The µ-quantization runs ONCE over the vector
    and all 8 planes zip against the shared quantized array (Catalyst
    CSE collapses the repeated subtree) — quantizing inside each
    plane's lambda re-floors 8× and measured ~5× slower."""
    xq = F.transform(
        "embedding", lambda x: F.floor(x.cast("double") * 1000000.0).cast("long")
    )

    def dot(j: int) -> Column:
        coefs = F.array(*[F.lit(c) for c in SRP_C[j]])
        return F.aggregate(
            F.zip_with(xq, coefs, lambda a, c: a * c.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    return reduce(
        lambda a, b: a + b,
        [(dot(j) > 0).cast("int") * (1 << j) for j in range(SRP_H)],
    )


BUCKET16_SQL = (
    "(CAST(embedding[1] > 0 AS INTEGER) * 8 + CAST(embedding[2] > 0 AS INTEGER) * 4"
    " + CAST(embedding[3] > 0 AS INTEGER) * 2 + CAST(embedding[4] > 0 AS INTEGER))"
)


def bucket16_col() -> Column:
    """Sign-LSH bucket from 4 leading components → 16 buckets; the
    Spark twin of BUCKET16_SQL."""
    bit = lambda i: (F.element_at("embedding", i).cast("double") > 0).cast("int")  # noqa: E731
    return bit(1) * 8 + bit(2) * 4 + bit(3) * 2 + bit(4)
