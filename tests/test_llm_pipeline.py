"""Structural invariants of the training-data-prep operators — the
properties a correct chunker/packer/cluster labeling must satisfy
regardless of fixture content (complementing the value-level oracle,
which pins one dataset's answers)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from direct_kafka_stream_spark import QUERIES, load_table
from direct_kafka_stream_spark.operators.llm import _CHUNK, _CTX, _STRIDE
from direct_kafka_stream_spark.operators.similarity import (
    BUCKET_CAP,
    SRP_MASKS,
    cosine,
    minhash_band_edges,
    sq_dist,
    srp_bucket_col,
)
from direct_kafka_stream_spark.operators.text import tokens

from tests.conftest import SF_DIR


def test_chunking_covers_every_token_with_fixed_stride(spark):
    chunks = QUERIES["q_text_chunk"].spark(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(tokens()).alias("n")
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.min("chunk_start").alias("first"),
        F.max(F.col("chunk_start") + F.col("chunk_tokens") - 1).alias("covered_to"),
        F.max("chunk_tokens").alias("max_len"),
    )
    joined = per_doc.join(docs, "doc_id")
    # every chunk bounded, first chunk starts at 1, last chunk reaches
    # the final token, starts spaced exactly by the stride
    assert joined.filter(F.col("max_len") > _CHUNK).count() == 0
    assert joined.filter(F.col("first") != 1).count() == 0
    assert joined.filter(F.col("covered_to") != F.col("n")).count() == 0
    bad_spacing = (
        chunks.withColumn(
            "prev",
            F.lag("chunk_start").over(
                Window.partitionBy("doc_id").orderBy("chunk_start")
            ),
        )
        .filter(F.col("prev").isNotNull())
        .filter(F.col("chunk_start") - F.col("prev") != _STRIDE)
    )
    assert bad_spacing.count() == 0


def test_packing_is_a_consistent_token_stream(spark):
    packed = QUERIES["q_text_pack"].spark(spark, SF_DIR).orderBy("doc_id").collect()
    offset = 0
    for row in packed:
        assert row.stream_offset == offset, "documents must abut exactly"
        assert row.bin == offset // _CTX
        offset += row.n_tokens


def test_component_labels_are_closed_over_edges(spark):
    """Both endpoints of every LSH edge must land in the same component,
    and every label must be a member of its own component (the min)."""
    docs = load_table(spark, SF_DIR, "documents")
    comp = QUERIES["q_dedup_components"].spark(spark, SF_DIR)
    edges = minhash_band_edges(docs)
    lab_src = comp.select(
        F.col("doc_id").alias("src"), F.col("component").alias("c_src")
    )
    lab_dst = comp.select(
        F.col("doc_id").alias("dst"), F.col("component").alias("c_dst")
    )
    mismatched = (
        edges.join(lab_src, "src").join(lab_dst, "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
    )
    assert mismatched.count() == 0
    # labels are canonical: the component id is the min doc_id in it
    canon = comp.groupBy("component").agg(F.min("doc_id").alias("lo"))
    assert canon.filter(F.col("component") != F.col("lo")).count() == 0


def test_lsh_bucket_cap_drops_degenerate_buckets(spark):
    """A bucket bigger than BUCKET_CAP (e.g. thousands of identical
    boilerplate docs sharing every minhash) must produce NO edges —
    that's the m² skew guard — while normal near-dup pairs still do."""
    boiler = [(i, "the exact same boilerplate text repeated verbatim here")
              for i in range(BUCKET_CAP + 10)]
    # near-dup pair at shingle-Jaccard 38/39 ≈ 0.97 — above the banded
    # S-curve's knee, so it must survive as a candidate
    text = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu xi"
        " omicron pi rho sigma tau upsilon phi chi psi omega one two three"
        " four five six seven eight nine ten eleven twelve thirteen"
        " fourteen fifteen"
    )
    near = [(1000, text), (1001, text + " extra")]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")
    edges = minhash_band_edges(docs).collect()
    endpoints = {r.src for r in edges} | {r.dst for r in edges}
    assert endpoints == {1000, 1001}, (
        "degenerate bucket must be dropped, near-dup pair kept"
    )


def test_ann_paths_recall_against_brute_force(spark):
    """ANN quality gate: the LSH-bucket and IVF paths must place a
    reasonable fraction of the brute-force top-k in their results —
    approximate is fine (that's the point), wrong is not. Also pins
    that every ANN similarity value agrees exactly with the
    brute-force similarity for the same vector (same arithmetic)."""
    truth = {
        r.vec_id: r.sim
        for r in QUERIES["q_sim_cosine"].spark(spark, SF_DIR).collect()
    }
    top5 = set(list(truth)[:5])

    ivf = {r.vec_id: r.sim for r in QUERIES["q_sim_ivf"].spark(spark, SF_DIR).collect()}
    # similarity values must be identical where both computed them
    for v, s in ivf.items():
        if v in truth:
            assert abs(s - truth[v]) < 1e-9
    # the IVF probe searches 1 of 4 lists → expect at least 1 of top-5
    assert len(set(ivf) & top5) >= 1

    bucket = {
        r.vec_id: r.sim
        for r in QUERIES["q_sim_ann_bucket"].spark(spark, SF_DIR).collect()
    }
    for v, s in bucket.items():
        if v in truth:
            assert abs(s - truth[v]) < 1e-9


def test_ivf_persisted_index_prunes_to_one_list(spark, tmp_path):
    """The IVF deploy path: inverted lists persisted as a parquet
    layout partitioned by centroid id. A query probes exactly ONE
    partition directory (partition pruning on cid) — the amortized
    form where the index build cost is paid once, and each query scans
    corpus/k vectors instead of the corpus. Vectors go to the centroid
    of highest cosine, or of least squared distance."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    e = load_table(spark, SF_DIR, "embeddings")
    cents = e.filter(F.col("vec_id").isin(1, 2, 3, 4)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    emb, cv = F.col("embedding"), F.col("cv")
    for rule, closeness in [
        ("cosine", cosine(emb, cv)),
        ("sq_dist", -sq_dist(emb, cv)),
    ]:
        sims = e.crossJoin(F.broadcast(cents)).select(
            "vec_id", "embedding", "cid", F.round(closeness, 6).alias("csim"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("csim").desc(), "cid")
        index = (
            sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("cid", "vec_id", "embedding")
        )
        out = str(tmp_path / f"ivf_index_{rule}")
        index.write.partitionBy("cid").mode("overwrite").parquet(out)

        lists = spark.read.parquet(out)
        qcid = [r.cid for r in lists.filter(F.col("vec_id") == 0).collect()][0]
        probe = lists.filter(F.col("cid") == qcid)
        probe.collect()
        plan = probe._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan, rule
        assert "cid" in plan.split("PartitionFilters", 1)[1][:120], rule
        # the probe scans one inverted list, not the corpus
        assert 0 < probe.count() < lists.count(), rule


def test_minhash_banding_s_curve(spark):
    """Pin the banded-LSH S-curve: all high-Jaccard fixture pairs
    (shingle-Jaccard >= 0.8) must be candidates, and nothing with
    shingle-Jaccard < 0.5 may survive — the property that separates
    r x b banding from the single-hash-collision scheme, whose
    candidate set balloons with low-similarity pairs at corpus scale."""
    import duckdb

    truth = dict(
        duckdb.sql(
            f"""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(string_split(text,' '), w->w!='')) AS word,
                 generate_subscripts(list_filter(string_split(text,' '), w->w!=''),1) AS pos
          FROM '{SF_DIR}/documents.parquet'),
        sh AS (
          SELECT doc_id, list(DISTINCT shingle) AS ws FROM (
            SELECT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
            FROM (SELECT doc_id, word, LEAD(word,1) OVER w AS w1, LEAD(word,2) OVER w AS w2
                  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
            WHERE w2 IS NOT NULL) GROUP BY doc_id),
        p AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
               CAST(len(list_intersect(a.ws,b.ws)) AS DOUBLE)
                 / (len(a.ws)+len(b.ws)-len(list_intersect(a.ws,b.ws))) AS j
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        SELECT (ia, ib), j FROM p WHERE j > 0
        """
        ).fetchall()
    )
    cand = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["q_dedup_near"].spark(spark, SF_DIR).collect()
    }
    high = {k for k, j in truth.items() if j >= 0.8}
    low_hits = {k for k in cand if truth.get(k, 0.0) < 0.5}
    assert high <= cand, f"missed high-similarity pairs: {high - cand}"
    assert not low_hits, f"low-similarity false positives: {low_hits}"


def test_materialized_caches_freed_between_queries(spark):
    """Sequential sweeps must not accumulate persisted intermediates:
    the frames a query persists are freed when the next query starts
    (the registry wrapper closes the previous query's scope), so a
    driver run over the whole registry pins at most one query's blocks
    at a time."""

    def cached_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    pre = cached_ids()
    QUERIES["q_dedup_near"].spark(spark, SF_DIR).count()
    assert cached_ids() - pre, "q_dedup_near should pin intermediates"
    QUERIES["q_scan"].spark(spark, SF_DIR).count()
    leftover = cached_ids() - pre
    assert not leftover, f"previous query's caches still pinned: {leftover}"


def test_kmeans_train_improves_on_seed_centers(spark):
    """Training quality gate: the trained centers must (a) partition
    the whole corpus (member counts sum to N), (b) keep every center
    64-dimensional, and (c) achieve total within-cluster squared
    distance (inertia) no worse than the seed centers they started
    from — the monotone-improvement property of Lloyd iterations."""
    from direct_kafka_stream_spark.operators.models import _KM_SEEDS

    e = load_table(spark, SF_DIR, "embeddings")
    n = e.count()
    trained = QUERIES["q_kmeans_train"].spark(spark, SF_DIR)
    rows = trained.collect()
    dims = {}
    members = {}
    for r in rows:
        dims.setdefault(r.cid, set()).add(r.i)
        members[r.cid] = r.n_members
    assert all(len(v) == 64 for v in dims.values())
    assert sum(members.values()) == n

    def inertia(center_map):
        cdf = spark.createDataFrame(
            [(cid, arr) for cid, arr in center_map.items()],
            "cid long, carr array<double>",
        )
        d2 = F.aggregate(
            F.zip_with(
                "embedding",
                "carr",
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return (
            e.crossJoin(F.broadcast(cdf))
            .select("vec_id", d2.alias("d2"))
            .groupBy("vec_id")
            .agg(F.min("d2").alias("best"))
            .agg(F.sum("best"))
            .collect()[0][0]
        )

    seed_map = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in e.filter(F.col("vec_id").isin(*_KM_SEEDS)).collect()
    }
    trained_map = {}
    for r in sorted(rows, key=lambda r: (r.cid, r.i)):
        trained_map.setdefault(r.cid, []).append(r.center)
    assert inertia(trained_map) <= inertia(seed_map) + 1e-6


def test_srp_multiprobe_recovers_planted_near_duplicates(spark):
    """Pin the SRP-LSH contract on planted data: vectors at cosine
    ~0.95 of the query must mostly land within Hamming distance 1 of
    the query's 8-bit sign bucket (the multi-probe set), while random
    vectors (sim ~0) collide only at the ~9/256 background rate. The
    natural fixture's top sims are ~0.3 — honest LSH prunes those, so
    the recall property must be shown on actual near-duplicates."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_planted, n_random = 64, 12, 300
    q = rng.standard_normal(dim)
    q /= np.linalg.norm(q)
    rows = [(0, [float(x) for x in q])]
    for k in range(n_planted):
        u = rng.standard_normal(dim)
        u -= (u @ q) * q
        u /= np.linalg.norm(u)
        v = 0.95 * q + np.sqrt(1 - 0.95**2) * u
        rows.append((1 + k, [float(x) for x in v]))
    for k in range(n_random):
        v = rng.standard_normal(dim)
        rows.append((100 + k, [float(x) for x in v / np.linalg.norm(v)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    b = df.select("vec_id", srp_bucket_col().alias("bucket"))
    got = {r.vec_id: r.bucket for r in b.collect()}
    probed = {got[0] ^ m for m in SRP_MASKS}
    planted_hits = sum(1 for k in range(n_planted) if got[1 + k] in probed)
    random_hits = sum(1 for k in range(n_random) if got[100 + k] in probed)
    assert planted_hits >= int(0.7 * n_planted), planted_hits
    assert random_hits / n_random < 0.12, random_hits


def test_ivf_index_built_from_trained_centroids(spark, tmp_path):
    """End-to-end IVF deploy path with TRAINED centers: q_kmeans_train's
    output becomes the coarse quantizer, the corpus is assigned to its
    nearest trained center and written as a cid-partitioned index, and
    a query probe prunes to exactly one partition — the production
    wiring the single-step/seed-centroid variants approximate."""
    from pyspark.sql import functions as F

    rows = QUERIES["q_kmeans_train"].spark(spark, SF_DIR).collect()
    cents: dict = {}
    for r in rows:
        cents.setdefault(r.cid, []).append((r.i, r.center))
    cdf = spark.createDataFrame(
        [(cid, [v for _, v in sorted(vals)]) for cid, vals in sorted(cents.items())],
        "cid long, carr array<double>",
    )
    assert cdf.count() == 4

    e = load_table(spark, SF_DIR, "embeddings")
    d2 = F.round(
        F.aggregate(
            F.zip_with(
                "embedding",
                "carr",
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        6,
    )
    index = (
        e.crossJoin(F.broadcast(cdf))
        .select("vec_id", "embedding", "cid", d2.alias("d2"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("d2", "cid")).alias("m"), F.first("embedding").alias("embedding"))
        .select(F.col("m.cid").alias("cid"), "vec_id", "embedding")
    )
    out = str(tmp_path / "ivf_trained")
    index.write.partitionBy("cid").mode("overwrite").parquet(out)

    lists = spark.read.parquet(out)
    qcid = [r.cid for r in lists.filter(F.col("vec_id") == 0).collect()][0]
    probe = lists.filter(F.col("cid") == qcid)
    probe.collect()
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan.split("PartitionFilters", 1)[1][:120]
    n_probe, n_corpus = probe.count(), lists.count()
    assert 0 < n_probe < n_corpus
    # every corpus vector landed in exactly one inverted list
    assert n_corpus == e.count()


def test_components_pointer_jumping_converges_on_long_path(spark):
    """A 300-node path graph needs genuine pointer jumping: plain
    one-hop propagation would take 300 rounds, far over the 15-round
    cap — convergence within the cap proves the label's-label jump
    contracts chains in O(log diameter), and the helper must label the
    whole chain with its minimum node id (and never raise)."""
    from direct_kafka_stream_spark.operators.graph import propagate_min_labels

    n = 300
    hops = [(i, i + 1) for i in range(n - 1)]
    sym = hops + [(b, a) for a, b in hops]
    edges = spark.createDataFrame(sym, "src long, dst long")
    rows = propagate_min_labels(edges).collect()
    assert len(rows) == n
    assert all(r.label == 0 for r in rows)


def test_components_nonconvergence_raises_not_silent(spark):
    """If the round cap is ever too small, wrong labels must not be
    returned silently — the helper raises."""
    import pytest as _pytest

    from direct_kafka_stream_spark.operators.graph import propagate_min_labels

    hops = [(i, i + 1) for i in range(63)]
    sym = hops + [(b, a) for a, b in hops]
    edges = spark.createDataFrame(sym, "src long, dst long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        propagate_min_labels(edges, max_rounds=2)
