"""Invariant tests for the feature/monitoring operators
(operators/features.py)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from direct_kafka_stream_spark import QUERIES, load_table
from direct_kafka_stream_spark.operators.features import FH_DIM
from direct_kafka_stream_spark.plans import inspect

from tests.conftest import SF_DIR


def test_feature_hash_preserves_token_mass(spark):
    """Bucket counts per doc must sum to the doc's token count, and
    buckets stay inside the fixed feature space."""
    rows = QUERIES["q_feature_hash"].spark(spark, SF_DIR).collect()
    assert rows
    by_doc: dict[int, int] = {}
    for r in rows:
        assert 0 <= r.bucket < FH_DIM
        by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.n
    toks = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.size(F.filter(F.split("text", " "), lambda w: w != "")).alias(
                "n"
            ),
        )
        .collect()
    )
    for t in toks:
        assert by_doc.get(t.doc_id, 0) == t.n


def test_collocations_pmi_is_finite_and_supported(spark):
    rows = QUERIES["q_collocations"].spark(spark, SF_DIR).collect()
    assert rows
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    for r in rows:
        assert r.n >= 5
        assert math.isfinite(r.pmi)


@pytest.mark.parametrize(
    "sf_dir",
    [SF_DIR, "/root/testdata/sf0.01"],  # sf0.01 has cross-sample ties:
    # the case where a per-row (rather than per-distinct-value) running
    # CDF overestimates the statistic
)
def test_drift_ks_matches_scipy_style_bruteforce(spark, sf_dir):
    """Recompute KS with numpy on the same two samples — the operator
    must agree exactly (both are the exact statistic, not a bound)."""
    import numpy as np

    e = load_table(spark, sf_dir, "events")
    a = np.sort(
        np.array(
            [
                r.value
                for r in e.filter(F.col("event_type") == "view")
                .select("value")
                .collect()
            ]
        )
    )
    b = np.sort(
        np.array(
            [
                r.value
                for r in e.filter(F.col("event_type") == "error")
                .select("value")
                .collect()
            ]
        )
    )
    pooled = np.concatenate([a, b])
    fa = np.searchsorted(a, pooled, side="right") / len(a)
    fb = np.searchsorted(b, pooled, side="right") / len(b)
    ks_expected = round(float(np.max(np.abs(fa - fb))), 6)

    row = QUERIES["q_drift_ks"].spark(spark, sf_dir).collect()[0]
    assert row.n_a == len(a) and row.n_b == len(b)
    assert abs(row.ks - ks_expected) < 1e-9, (row.ks, ks_expected)
    assert 0.0 <= row.ks <= 1.0


def test_quality_classifier_scores_are_probabilities(spark):
    rows = QUERIES["q_quality_classifier"].spark(spark, SF_DIR).collect()
    assert rows
    n_docs = (
        load_table(spark, SF_DIR, "documents")
        .filter(
            F.size(F.filter(F.split("text", " "), lambda w: w != "")) > 0
        )
        .count()
    )
    assert len(rows) == n_docs  # every token-bearing doc gets a score
    for r in rows:
        assert 0.0 <= r.score <= 1.0
        # keep uses the UNROUNDED score; the reported score is rounded,
        # so only check consistency away from the rounding boundary
        if abs(r.score - 0.5) > 1e-6:
            assert r.keep == (r.score >= 0.5)
    # the fixed weight vector must actually separate: both classes occur
    kept = sum(1 for r in rows if r.keep)
    assert 0 < kept < len(rows)


def test_shard_plan_partitions_corpus(spark):
    rows = QUERIES["q_shard_plan"].spark(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(0 <= r.shard < 16 for r in rows)
    # md5 sharding at 500 docs: every shard populated, no gross skew
    sizes = [r.n_docs for r in rows]
    assert len(rows) == 16
    assert max(sizes) < 4 * min(sizes)


def test_curation_v2_composes_with_stage_gates(spark):
    """Capstone v2 survivors must be a subset of each stage's own
    keep-set: canonical-URL keepers, classifier scores above gate,
    and LM threshold on the reported column."""
    rows = QUERIES["q_curation_v2"].spark(spark, SF_DIR).collect()
    assert rows
    url_keepers = {
        r.keep_doc for r in QUERIES["q_dedup_url"].spark(spark, SF_DIR).collect()
    }
    for r in rows:
        assert r.doc_id in url_keepers
        assert r.score >= 0.43 - 1e-9
        assert r.avg_logprob >= -3.42 - 1e-6
    # gates actually cut: strictly fewer survivors than URL keepers
    assert len(rows) < len(url_keepers)


def test_knn_classify_majority_is_consistent(spark):
    row = QUERIES["q_knn_classify"].spark(spark, SF_DIR).collect()
    assert len(row) == 1
    r = row[0]
    assert 1 <= r.votes <= 15
    assert -1.0 <= r.mean_sim <= 1.0


def test_running_distinct_is_monotone_and_bounded(spark):
    """Per user: starts at 1, never decreases, bounded by the type
    count. Sorting by event_id is valid because the fixture assigns
    event_ids in (ts, event_id) order per user — asserted here so a
    regenerated fixture fails loudly instead of silently weakening the
    test."""
    from direct_kafka_stream_spark import load_table
    from pyspark.sql import functions as Fn
    from pyspark.sql.window import Window as W

    mis = (
        load_table(spark, SF_DIR, "events")
        .withColumn(
            "prev_id",
            Fn.lag("event_id").over(
                W.partitionBy("user_id").orderBy("ts", "event_id")
            ),
        )
        .filter(Fn.col("prev_id") > Fn.col("event_id"))
        .count()
    )
    assert mis == 0  # event_id order == running order in this fixture

    rows = QUERIES["q_win_running_distinct"].spark(spark, SF_DIR).collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    n_types = 5
    for user, rs in by_user.items():
        rs.sort(key=lambda r: r.event_id)
        vals = [r.distinct_types_so_far for r in rs]
        assert vals[0] == 1  # the first event introduces its type
        assert vals == sorted(vals)  # running distinct never decreases
        assert all(1 <= v <= n_types for v in vals)


def test_dedup_keep_best_picks_max_score_per_cluster(spark):
    """Representatives must dominate their cluster: same component
    partition as q_dedup_components, and each keeper's score is the
    max among its cluster's scored members."""
    labels = {
        r.doc_id: r.component
        for r in QUERIES["q_dedup_components"].spark(spark, SF_DIR).collect()
    }
    scores = {
        r.doc_id: r.score
        for r in QUERIES["q_quality_classifier"].spark(spark, SF_DIR).collect()
    }
    keep = QUERIES["q_dedup_keep_best"].spark(spark, SF_DIR).collect()
    by_comp: dict[int, list] = {}
    for doc, comp in labels.items():
        if doc in scores:
            by_comp.setdefault(comp, []).append(doc)
    assert len(keep) == len(by_comp)
    for r in keep:
        members = by_comp[r.component]
        assert r.keep_doc in members
        assert r.cluster_size == len(members)
        best = max(scores[m] for m in members)
        assert abs(r.score - round(best, 6)) < 1e-9


def _exact_islands(keys: list[int]) -> list[tuple[int, int, int]]:
    """Reference islands via a linear scan (the oracle the ranged form
    must reproduce)."""
    out = []
    for k in sorted(keys):
        if out and k == out[-1][1] + 1:
            s, _, n = out[-1]
            out[-1] = (s, k, n + 1)
        else:
            out.append((k, k, 1))
    return out


@pytest.mark.parametrize(
    "keys",
    [
        # one island spanning 4 buckets (width 8): every internal bucket
        # edge must stitch
        list(range(5, 31)),
        # islands exactly aligned with bucket boundaries
        list(range(8, 16)) + list(range(24, 32)),
        # adjacent singletons across a boundary (7,8 merge) + isolated
        # singleton + a two-bucket island
        [7, 8, 16, 40, 41, 42, 43, 44, 45, 46, 47, 48],
        # dense run then gaps of exactly one key
        [0, 2, 4, 6, 8, 10, 12],
        # single key
        [9],
    ],
)
def test_ranged_islands_matches_exact_on_adversarial_sets(spark, keys):
    """q_islands_ranged's bucket+stitch algorithm must equal the exact
    gaps-and-islands semantics on key sets engineered to stress the
    stitch pass (multi-bucket islands, edge-aligned islands,
    boundary-adjacent singletons)."""
    from direct_kafka_stream_spark.operators.scale_variants import ranged_islands

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = [
        (r.island_start, r.island_end, r.island_len)
        for r in ranged_islands(df, bucket_width=8).collect()
    ]
    assert got == _exact_islands(keys)


def test_islands_ranged_query_equals_exact_form(spark):
    """The registered ranged query must reproduce the exact
    k - row_number() trick over the same (gappy) fixture key set."""
    from direct_kafka_stream_spark.operators.scale_variants import ranged_islands

    keys = [
        r.k
        for r in load_table(spark, SF_DIR, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
        .collect()
    ]
    assert len(keys) < len(set(range(min(keys), max(keys) + 1)))  # gappy
    got = [
        (r.island_start, r.island_end, r.island_len)
        for r in QUERIES["q_islands_ranged"].spark(spark, SF_DIR).collect()
    ]
    assert got == _exact_islands(keys)
    assert len(got) > 1  # the fixture subset genuinely has gaps


def test_drift_ks_binned_matches_numpy_and_bounds_window(spark):
    """The binned KS must equal a numpy recomputation over the same
    fixed-width bins, and the bin table (the only windowed relation)
    must stay bounded regardless of row count."""
    import numpy as np

    from direct_kafka_stream_spark.operators.scale_variants import _KSB_W

    e = load_table(spark, SF_DIR, "events")
    a = np.array(
        [r.value for r in e.filter(F.col("event_type") == "view").collect()]
    )
    b = np.array(
        [r.value for r in e.filter(F.col("event_type") == "error").collect()]
    )
    bins_a = np.floor(a / _KSB_W).astype(np.int64)
    bins_b = np.floor(b / _KSB_W).astype(np.int64)
    grid = np.unique(np.concatenate([bins_a, bins_b]))
    fa = np.array([(bins_a <= g).mean() for g in grid])
    fb = np.array([(bins_b <= g).mean() for g in grid])
    expect = round(float(np.max(np.abs(fa - fb))), 6)

    row = QUERIES["q_drift_ks_binned"].spark(spark, SF_DIR).collect()[0]
    assert row.ks_binned == pytest.approx(expect, abs=1e-9)
    assert row.n_a == len(a) and row.n_b == len(b)
    assert row.n_bins == len(grid)
    # bounded window: bins can never exceed the value range over the
    # fixed width (+1), no matter how many rows the table has
    assert row.n_bins <= int(max(a.max(), b.max()) / _KSB_W) + 1

    # the binned statistic is a sane estimate of the exact one: within
    # the largest single-bin probability mass
    exact = QUERIES["q_drift_ks"].spark(spark, SF_DIR).collect()[0].ks
    mass = max(
        max(np.bincount(bins_a - grid.min().astype(np.int64)).max() / len(a), 0),
        max(np.bincount(bins_b - grid.min().astype(np.int64)).max() / len(b), 0),
    )
    assert abs(row.ks_binned - exact) <= mass + 1e-9


def test_sax_zero_variance_series_symbolizes_as_d(spark, tmp_path):
    """A constant daily series has sigma = 0: the z-score must be NULL
    (NULLIF guard, both engines) and the symbol falls through every
    breakpoint comparison to 'd' — never a divide-by-zero error."""
    import datetime

    from direct_kafka_stream_spark.io import TABLES, load_table

    d = tmp_path / "const_sf"
    d.mkdir()
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(0).write.mode("overwrite").parquet(
            str(d / f"{t}.parquet")
        )
    rows = [
        (i, datetime.datetime(2024, 1, 1 + i, 12, 0, 0), i % 3, "view", 10.0, "{}")
        for i in range(6)
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))

    out = {r.day: r for r in QUERIES["q_sax_symbols"].spark(spark, str(d)).collect()}
    assert len(out) == 6
    for r in out.values():
        assert r.zscore is None
        assert r.symbol == "d"


def test_skyline_is_exactly_the_non_dominated_set(spark):
    """Differential check of the bounded-domain skyline rewrite against
    the O(n²) dominance definition computed directly in pandas."""
    import pandas as pd

    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    ).toPandas()
    keep = []
    for _, p in part.iterrows():
        dominated = (
            (part.p_size >= p.p_size)
            & (part.p_retailprice <= p.p_retailprice)
            & (
                (part.p_size > p.p_size)
                | (part.p_retailprice < p.p_retailprice)
            )
        ).any()
        if not dominated:
            keep.append(int(p.p_partkey))
    got = sorted(
        r.p_partkey
        for r in QUERIES["q_skyline"].spark(spark, SF_DIR).collect()
    )
    assert got == sorted(keep)
