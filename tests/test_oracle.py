"""Differential oracle tests (SURVEY.md §5.2 #1): Spark result ==
DuckDB result, exactly, order-insensitive, for every registered query
at sf0.001, each its own case. The registry pass (tests/conftest.py)
compares through scripts/check_oracle.py's ``check``, which that script
runs at driver scale (sf0.01). The other tests pin the driver contract
and the bounded-error gates of the approximate sketches."""

from __future__ import annotations

import dataclasses

import pytest

from direct_kafka_stream_spark import QUERIES

from tests.conftest import SF_DIR, run_registry_pass


@pytest.mark.parametrize("name", list(QUERIES))
def test_query_matches_oracle(registry_pass, name):
    assert registry_pass[name].status == "OK", registry_pass[name].status


def test_registry_pass_records_a_raising_query_and_goes_on(spark):
    """A query that raises fails only its own record: the pass records
    the error and still builds, plans, executes and checks the next
    query."""

    def boom(spark, sf_dir):
        raise RuntimeError("boom")

    queries = {
        "q_raises": dataclasses.replace(QUERIES["q_filter"], name="q_raises", spark=boom),
        "q_filter": QUERIES["q_filter"],
    }
    records = run_registry_pass(spark, queries, SF_DIR)
    assert records["q_raises"].status == "ERROR: RuntimeError: boom"
    done = records["q_filter"]
    assert (done.status, done.build_jobs, done.windows, done.expand, done.reads) == (
        "OK", 0, [], False, {}
    )


def test_every_query_registered_with_oracle_or_reason():
    # round 10: the two approx sketches gained bounded-error oracles
    # (within_bound booleans) — EVERY query now ships an oracle
    missing = [n for n, q in QUERIES.items() if q.oracle is None]
    assert missing == []


def test_entry_contract():
    import __spark_entry__ as E

    qs = E.queries()
    osql = E.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 80


def test_bench_contract_shape():
    """bench.py must emit ONE JSON line with the driver-contract keys,
    a time for every registered query and its job/stage/task counts —
    validated statically here (the full bench run is its own job; this
    pins the contract without paying it)."""
    import pathlib

    src = open(pathlib.Path(__file__).resolve().parent.parent / "bench.py").read()
    for key in ('"metric"', '"value"', '"unit"', '"queries"', '"sf"'):
        assert key in src
    # every query run once, failures recorded not raised
    assert "run_queries(spark, sf_dir, QUERIES)" in src
    assert "BENCH ERROR" in src
    # per query, the build's and the exec's status-store counts
    # (behaviour pinned by tests/test_bench_protocol.py)
    assert '"counts": counts,' in src


def test_hll_sketch_error_is_bounded(spark):
    """The HLL query's bounded-error gate, exercised directly: the
    emitted within_bound boolean (|approx - exact| <= 3*rsd * exact)
    must be TRUE for every group, and the exact companion column must
    equal an independently computed exact distinct count."""
    from direct_kafka_stream_spark import load_table
    from pyspark.sql import functions as F

    rows = {
        r.l_returnflag: r
        for r in QUERIES["q_agg_approx"].spark(spark, SF_DIR).collect()
    }
    exact_rows = {
        r.l_returnflag: r.n
        for r in load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("n"))
        .collect()
    }
    assert set(rows) == set(exact_rows)
    for flag, exact in exact_rows.items():
        assert rows[flag].dist_exact == exact
        assert rows[flag].within_bound, f"{flag}: HLL estimate outside 3*rsd"


def test_gk_percentile_sketch_error_is_bounded(spark):
    """The GK query's rank-space gate, exercised directly: the emitted
    p50_within/p95_within booleans (returned element's rank interval
    intersects (q±eps)*N, eps = 1/accuracy) must be TRUE for every
    group, and the exact anchor columns must equal an independently
    computed interpolated percentile."""
    from direct_kafka_stream_spark import load_table
    from pyspark.sql import functions as F

    rows = {
        r.l_returnflag: r
        for r in QUERIES["q_agg_approx_pct"].spark(spark, SF_DIR).collect()
    }
    exact = {
        r.l_returnflag: (r.p50, r.p95)
        for r in load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for flag, (e50, e95) in exact.items():
        r = rows[flag]
        assert (r.p50_exact, r.p95_exact) == (e50, e95)
        assert r.p50_within and r.p95_within, f"{flag}: GK rank outside eps*N"


def test_kmv_sketch_error_is_bounded(spark):
    """The KMV estimate (k=256 minimum hash values) must land within a
    few relative standard deviations of the exact distinct count —
    rsd ≈ 1/sqrt(k−2) ≈ 6.3%, so 15% is a ~2.4σ bound. Unlike HLL the
    sketch itself is engine-portable (the oracle hash-checks the exact
    estimate); this pins its statistical accuracy."""
    from direct_kafka_stream_spark import load_table

    row = QUERIES["q_agg_kmv"].spark(spark, SF_DIR).collect()[0]
    exact = (
        load_table(spark, SF_DIR, "orders").select("o_custkey").distinct().count()
    )
    assert row.k_used == min(256, exact)
    if row.k_used < 256:
        # underfilled sketch has seen every value: estimate is exact
        assert row.kmv_estimate == exact, (row.kmv_estimate, exact)
    else:
        assert abs(row.kmv_estimate - exact) / exact < 0.15, (
            row.kmv_estimate,
            exact,
        )


def test_json_fns_fixture_payload_is_integer_valued(spark):
    """q_json_fns derives k_str by casting the typed from_json INT to
    string, which matches raw get_json_object extraction ONLY while the
    fixture payload is a plain integer (a payload of "1.50", true, or a
    padded string would silently diverge from the DuckDB oracle). Pin
    that assumption so a regenerated fixture fails loudly here instead
    of as a driver hash mismatch."""
    from pyspark.sql import functions as F

    from direct_kafka_stream_spark import load_table

    e = load_table(spark, SF_DIR, "events")
    raw = F.get_json_object("props", "$.k")
    typed = F.from_json("props", "k INT")["k"].cast("string")
    diverged = e.filter(
        ~(raw.isNull() & typed.isNull()) & ~(raw.eqNullSafe(typed))
    ).count()
    assert diverged == 0


def test_zscore_degenerate_group_matches_oracle(spark):
    """A constant-value group has zero stddev: the pandas grouped-map
    emits 0.0 and the oracle mirrors it with COALESCE(.../NULLIF, 0.0).
    Hand-build such a group (the fixture has none) and check both
    engines agree row-for-row."""
    import duckdb as _duckdb
    import pandas as pd

    from direct_kafka_stream_spark.functions.udf import _zscore

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6, 7],
            "event_type": ["const", "const", "const", "var", "var", "var", "solo"],
            "value": [5.0, 5.0, 5.0, 1.0, 2.0, 4.0, 9.0],
        }
    )
    got = sorted(
        (r.event_id, r.event_type, r.z)
        for r in spark.createDataFrame(pdf)
        .groupBy("event_type")
        .applyInPandas(_zscore, schema="event_id long, event_type string, z double")
        .collect()
    )
    con = _duckdb.connect()
    con.register("ev", pdf)
    want = sorted(
        (int(eid), et, z)
        for eid, et, z in con.sql(
            """
            SELECT event_id, event_type,
                   round(COALESCE((value - AVG(value) OVER w)
                                  / NULLIF(STDDEV_POP(value) OVER w, 0), 0.0), 4) AS z
            FROM ev WINDOW w AS (PARTITION BY event_type)
            """
        ).fetchall()
    )
    assert got == want
    assert [z for _, et, z in got if et == "const"] == [0.0, 0.0, 0.0]


def test_hll_gate_flips_false_on_out_of_bound_estimate(spark):
    """Negative proof for q_agg_approx's bounded-error gate: the
    within_rel_bound predicate must go FALSE for an estimate outside
    3*rsd of exact (exact+10% vs the 6% gate) and TRUE just inside —
    a gate that cannot fail is not a gate. The positive companion
    (test_hll_sketch_error_is_bounded) proves it holds on real data;
    this proves it is live."""
    from direct_kafka_stream_spark.exprs import within_rel_bound
    from direct_kafka_stream_spark.operators.relational import _HLL_BOUND

    df = spark.createDataFrame(
        [
            (1100.0, 1000.0),  # +10% — outside the 6% gate
            (1050.0, 1000.0),  # +5% — inside
            (930.0, 1000.0),  # -7% — outside
            (1000.0, 1000.0),  # exact
        ],
        "approx double, exact double",
    )
    got = [
        r.ok
        for r in df.select(
            within_rel_bound("approx", "exact", _HLL_BOUND).alias("ok")
        ).collect()
    ]
    assert got == [False, True, False, True]


def test_gk_gate_flips_false_on_out_of_band_rank(spark):
    """Negative proof for q_agg_approx_pct's rank-space gate: with
    eps*N = 10 ranks around target rank 50_000, a returned element
    whose rank interval sits entirely below or entirely above the
    guaranteed band must produce FALSE from rank_within_eps, and one
    straddling the target must produce TRUE."""
    from direct_kafka_stream_spark.exprs import rank_within_eps
    from direct_kafka_stream_spark.functions.scalar import _GK_EPS

    n = 100_000  # eps*N = 10 at the registered accuracy (eps = 1e-4)
    df = spark.createDataFrame(
        [
            (49_995, 50_005, n),  # straddles rank 50_000 — in band
            (48_000, 49_000, n),  # interval entirely below the band
            (51_000, 52_000, n),  # interval entirely above the band
        ],
        "lt long, le long, n long",
    )
    got = [
        r.ok
        for r in df.select(
            rank_within_eps("lt", "le", "n", 0.5, _GK_EPS).alias("ok")
        ).collect()
    ]
    assert got == [True, False, False]
