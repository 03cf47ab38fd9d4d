"""Property-based algebraic spot checks (SURVEY.md §5.2 #4):
hypothesis-generated frames asserting optimizer-independent identities —
filter placement invariance, join key commutativity, union cardinality,
dedup idempotence. These hold for ANY plan Catalyst picks, so they
guard rewrite rules rather than specific queries."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

rows = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),
        st.integers(min_value=0, max_value=3),
        st.floats(allow_nan=False, allow_infinity=False, width=32),
    ),
    min_size=0,
    max_size=25,
)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, data):
    return spark.createDataFrame(data, "k int, g int, v double")


@given(data=rows)
@_settings
def test_filter_pushdown_invariance(spark, data):
    """filter(project(df)) == project(filter(df)) — the identity that
    licenses Catalyst's pushdown rule."""
    df = _df(spark, data)
    a = df.select("k", "g").filter(F.col("k") > 0)
    b = df.filter(F.col("k") > 0).select("k", "g")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@given(data=rows, data2=rows)
@_settings
def test_inner_join_commutativity(spark, data, data2):
    l = _df(spark, data)
    r = _df(spark, data2).withColumnRenamed("g", "g2").withColumnRenamed("v", "v2")
    ab = l.join(r, "k").select("k", "g", "g2")
    ba = r.join(l, "k").select("k", "g", "g2")
    assert sorted(map(tuple, ab.collect())) == sorted(map(tuple, ba.collect()))


@given(data=rows, data2=rows)
@_settings
def test_union_all_cardinality(spark, data, data2):
    a, b = _df(spark, data), _df(spark, data2)
    assert a.unionByName(b).count() == len(data) + len(data2)


@given(data=rows)
@_settings
def test_distinct_idempotent(spark, data):
    df = _df(spark, data).select("k", "g")
    once = df.distinct()
    twice = once.distinct()
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


@given(data=rows)
@_settings
def test_groupby_count_totals(spark, data):
    """Sum of group counts == total row count (partial aggregation
    correctness)."""
    df = _df(spark, data)
    per_group = df.groupBy("g").count().agg(F.sum("count")).collect()[0][0]
    assert (per_group or 0) == len(data)


# --- winnowing fingerprint guarantee (Schleimer et al. 2003) ---------------
# 3-gram hashes + window-4 minima ⇒ any two documents sharing a run of
# >= 3 + 4 - 1 + 3 - 1 = 8 consecutive tokens share at least one
# fingerprint. This is the property that makes winnowing a sound dedup
# blocking key; the oracle pins values, this pins the guarantee.

_vocab = st.integers(min_value=0, max_value=30).map(lambda i: f"w{i}")
_tokens_list = st.lists(_vocab, min_size=0, max_size=12)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pre_a=_tokens_list, post_a=_tokens_list,
       pre_b=_tokens_list, post_b=_tokens_list,
       shared=st.lists(_vocab, min_size=8, max_size=10))
def test_winnow_shared_run_shares_fingerprint(spark, pre_a, post_a, pre_b, post_b, shared):
    import pandas as pd
    import tempfile, pathlib
    from direct_kafka_stream_spark.registry import QUERIES

    doc_a = " ".join(pre_a + shared + post_a)
    doc_b = " ".join(pre_b + shared + post_b)
    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [doc_a, doc_b],
                "lang": ["en", "en"],
                "source": ["s", "s"],
                "n_chars": [len(doc_a), len(doc_b)],
            }
        ).to_parquet(pathlib.Path(td) / "documents.parquet")
        fps = QUERIES["q_text_winnow"].spark(spark, td).collect()
    by_doc = {1: set(), 2: set()}
    for r in fps:
        by_doc[r.doc_id].add(r.fp)
    assert by_doc[1] & by_doc[2], "shared 8-token run must share a fingerprint"


# --- Z-order interleave is a bijection -------------------------------------
# Morton interleave of two 8-bit dimensions must be injective on
# [0,255]² with the dimensions recoverable from the even/odd bits —
# the property that makes the Z-value a lossless clustering key.

_bytes = st.lists(
    st.tuples(st.integers(0, 255), st.integers(0, 255)),
    min_size=1, max_size=20, unique=True,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=_bytes)
def test_zorder_interleave_bijective(spark, pairs):
    from direct_kafka_stream_spark.operators.engine import _z_col

    df = spark.createDataFrame(pairs, "ka bigint, kb bigint")
    out = df.select(
        "ka", "kb", _z_col(F.col("ka"), F.col("kb")).alias("z")
    ).collect()
    zs = [r.z for r in out]
    assert len(set(zs)) == len(pairs), "interleave must be injective"
    for r in out:
        a = sum(((r.z >> (2 * k)) & 1) << k for k in range(8))
        b = sum(((r.z >> (2 * k + 1)) & 1) << k for k in range(8))
        assert (a, b) == (r.ka, r.kb), "deinterleave must invert"
        assert 0 <= r.z < 65536


# --- Sweep-line peak concurrency equals brute force ------------------------
# The per-second-aggregated running sum must equal the brute-force
# "how many intervals cover second s" maximum for every day — the
# half-open [s, s+300) semantic included.

_epochs = st.lists(
    st.integers(min_value=1_704_067_200, max_value=1_704_067_200 + 2 * 86400 - 1),
    min_size=1, max_size=30,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(epochs=_epochs)
def test_concurrent_peak_matches_brute_force(spark, epochs):
    import collections
    import datetime

    import pandas as pd

    from direct_kafka_stream_spark.operators.timeseries import (
        _PRESENCE_S,
        concurrent_peak_report,
    )

    pdf = pd.DataFrame(
        {
            "event_id": range(len(epochs)),
            "ts": [
                datetime.datetime.utcfromtimestamp(s) for s in epochs
            ],
            "user_id": [i % 7 for i in range(len(epochs))],
            "event_type": ["click"] * len(epochs),
            "value": [1.0] * len(epochs),
            "props": ["{}"] * len(epochs),
        }
    )
    e = spark.createDataFrame(pdf)
    got = {
        r.day: r.peak_concurrent for r in concurrent_peak_report(e).collect()
    }

    # brute force: count covering intervals per (day, second)
    per_day = collections.defaultdict(lambda: collections.defaultdict(int))
    for s in epochs:
        day_start = (s // 86400) * 86400
        end = min(s + _PRESENCE_S, day_start + 86400)
        day = datetime.date.fromtimestamp(day_start).isoformat()
        for sec in range(s, end):
            per_day[day][sec] += 1
    expected = {d: max(cov.values()) for d, cov in per_day.items()}
    assert got == expected


# --- Bloom filter has no false negatives -----------------------------------
# Every true member probe must be bloom-positive: positives minus
# false positives == true members, for any key set.

_keys = st.lists(
    st.integers(min_value=1, max_value=10_000), min_size=1, max_size=40,
    unique=True,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(keys=_keys)
def test_bloom_has_no_false_negatives(spark, keys):
    import tempfile, pathlib

    import pandas as pd

    from direct_kafka_stream_spark.registry import QUERIES

    with tempfile.TemporaryDirectory() as td:
        pd.DataFrame({"c_custkey": keys, "c_nationkey": [0] * len(keys)}
                     ).to_parquet(pathlib.Path(td) / "customer.parquet")
        r = QUERIES["q_bloom_manual"].spark(spark, td).collect()[0]
    assert r.n_bloom_positive - r.n_false_positive == r.n_true_members


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.integers(min_value=-(10**6), max_value=10**6),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(max_examples=200, deadline=None)
def test_pca_hilo_reconstruction_is_exact(pairs):
    """q_pca_power's hi/lo split + arbitrary-precision reconstruction:
    for any set of quantized products, splitting each term at 2^30,
    summing the partials separately, and reconstructing must give the
    exact integer total; the half-away-from-zero rounding to scale 4
    must equal the Decimal reference."""
    from decimal import ROUND_HALF_UP, Decimal

    terms = [qa * qb for qa, qb in pairs]
    sh = sum(t >> 30 for t in terms)
    sl = sum(t - ((t >> 30) << 30) for t in terms)
    total = sh * (1 << 30) + sl
    assert total == sum(terms)
    # replicate models._g_val
    q8, rem = divmod(abs(total), 10**8)
    r = q8 + (1 if rem >= 5 * 10**7 else 0)
    g = (-r if total < 0 else r) / 10000.0
    ref = float(
        (Decimal(total) / Decimal(10**12)).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
    )
    assert g == ref


@given(
    data=st.lists(
        st.one_of(
            st.none(),
            st.integers(min_value=-(10**6), max_value=10**6),
        ),
        min_size=1,
        max_size=20,
    )
)
@_settings
def test_bounded_window_key_never_folds(spark, data):
    """exprs.bounded_window_key must survive optimization for ANY
    input type and nullability — the partitionSpec stays non-empty in
    the OPTIMIZED plan (the round-6 regression class: integer x*0 was
    constant-folded for non-nullable inputs, silently dropping the
    spec). Exercised over nullable ints plus casts to string/double/
    date, and over the provably-non-nullable coalesce form."""
    from direct_kafka_stream_spark.exprs import bounded_window_key
    from direct_kafka_stream_spark.plans.inspect import unpartitioned_windows
    from pyspark.sql.window import Window

    df = spark.createDataFrame([(v,) for v in data], "v long")
    variants = [
        F.col("v"),
        F.col("v").cast("string"),
        F.col("v").cast("double"),
        F.coalesce(F.col("v"), F.lit(0)),  # non-nullable int
        F.date_add(F.to_date(F.lit("2024-01-01")), F.pmod("v", F.lit(1000)).cast("int")),  # DATE
    ]
    for expr in variants:
        w = Window.partitionBy(bounded_window_key(expr)).orderBy("v")
        plan = (
            df.select("v", F.row_number().over(w).alias("rn"))
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert not unpartitioned_windows(plan), plan
        # and the key really is the constant 0 on every row, so the
        # intended one-partition plan is preserved
        got = (
            df.select(bounded_window_key(expr).alias("k"))
            .distinct()
            .collect()
        )
        assert [r.k for r in got] == [0]


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e4,
            max_value=1e4,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=24,
    )
)
@_settings
def test_grid_sum_matches_duckdb_exactly(spark, vals):
    """The 1e-9 floor-grid decimal sum (models._grid_sum) must be
    bit-identical between Spark and DuckDB for any double inputs in
    the contract's domain |v| ≤ 1e4 — the order-free sum contract the
    round-6 statistics rely on. The domain bound is real, not
    convenience: hypothesis found that at |v| ≈ 5.6e5 the 9-dp grid
    value's representation error times 10^10 reaches the decimal-cast
    rounding boundary, where DuckDB's multiply-then-round cast and
    Spark's correctly-rounded cast pick different last digits
    (docs/ALIGNMENT.md DOUBLE→DECIMAL rule). Every production grid
    user keeps terms far inside the bound (ratios ≤ 1; 2^-24-scaled
    residuals)."""
    import duckdb

    from direct_kafka_stream_spark.operators.models import _grid_sum, _grid_sum_sql

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.agg(_grid_sum(F.col("v")).cast("double").alias("s")).collect()[0].s
    con = duckdb.connect()
    con.execute("CREATE TABLE t (v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    exp = con.execute(
        f"SELECT CAST({_grid_sum_sql('v')} AS DOUBLE) FROM t"
    ).fetchone()[0]
    assert got == exp, (got, exp, vals)


@given(
    users=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),      # user id
            st.integers(min_value=0, max_value=15),     # touch mask
            st.booleans(),                               # converted
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    )
)
@_settings
def test_shapley_efficiency_axiom(spark, users):
    """Σ_i shapley_i == v(full) − v(∅) (the efficiency axiom) for ANY
    touch-set/conversion configuration — the identity that makes the
    bounded coalition algebra in q_shapley_attribution a real Shapley
    value and not just a weighted diff."""
    from direct_kafka_stream_spark.operators.experiments import (
        _SH_CHANNELS,
        shapley_attribution,
    )

    rows = []
    for uid, mask, conv in users:
        touched = False
        for i, (name, bit) in enumerate(_SH_CHANNELS):
            if mask & bit:
                touched = True
                rows.append((f"e{uid}_{i}", uid, name, 1.0))
        if conv:
            rows.append((f"e{uid}_p", uid, "purchase", 1.0))
        if not touched and not conv:
            rows.append((f"e{uid}_x", uid, "other", 1.0))
    ev = spark.createDataFrame(
        rows, "event_id string, user_id long, event_type string, value double"
    )
    got = {r.channel: r.shapley for r in shapley_attribution(ev).collect()}
    # brute-force v(S): conversions whose touch mask fits inside S
    by_user: dict[int, tuple[int, bool]] = {
        uid: (mask, conv) for uid, mask, conv in users
    }
    def v(s):
        return sum(
            1 for mask, conv in by_user.values() if conv and (mask & s) == mask
        )
    # each channel's credit is rounded to 6 dp independently, so the
    # efficiency sum can be off by up to 4 × 0.5e-6
    assert abs(sum(got.values()) - (v(15) - v(0))) <= 2.0e-6 + 1e-12
    # and each credit equals the brute-force Shapley sum
    import math
    n = 4
    for i, (name, bit) in enumerate(_SH_CHANNELS):
        phi = 0.0
        for s in range(16):
            if s & bit:
                continue
            pc = bin(s).count("1")
            w = math.factorial(pc) * math.factorial(n - pc - 1) / math.factorial(n)
            phi += w * (v(s | bit) - v(s))
        assert abs(got[name] - phi) < 1e-5, name


@given(
    fact_keys=st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=40),
    dim_keys=st.lists(st.integers(min_value=0, max_value=40), min_size=0, max_size=15, unique=True),
)
@_settings
def test_bloom_reduce_join_equals_plain_join(spark, fact_keys, dim_keys):
    """bloom_reduce_join == the plain equi join + rollup for ANY key
    sets — the no-false-negative property that makes the bloom a pure
    optimization (false positives are removed by the real join)."""
    from pyspark.sql import functions as F

    from direct_kafka_stream_spark.operators.engine import bloom_reduce_join

    li = spark.createDataFrame(
        [(k, 100.0 + k, 0.1) for k in fact_keys],
        "l_orderkey long, l_extendedprice double, l_discount double",
    )
    # build side deliberately INT where the probe side is BIGINT:
    # xxhash64 is type-sensitive, so bloom_reduce_join must
    # canonicalize both keys to long or this property fails with
    # silent false negatives (dropped join rows)
    dim = spark.createDataFrame(
        [(k, f"P{k % 3}") for k in dim_keys], "k int, o_orderpriority string"
    )
    got = sorted(map(tuple, bloom_reduce_join(li, dim).collect()))
    plain = sorted(
        map(
            tuple,
            li.join(dim, li.l_orderkey == dim.k)
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.round(
                    F.sum(
                        (
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                        ).cast("decimal(38,10)")
                    ),
                    4,
                )
                .cast("double")
                .alias("revenue"),
            )
            .collect(),
        )
    )
    assert got == plain


@given(
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),   # custkey
            st.floats(min_value=0.0, max_value=1e4, allow_nan=False),
            st.booleans(),                             # in R_old?
        ),
        min_size=0,
        max_size=30,
    ),
    cust=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.sampled_from(["A", "B", "C"]),
            st.booleans(),                             # in S_old?
        ),
        min_size=0,
        max_size=13,
        unique_by=lambda t: t[0],
    ),
)
@_settings
def test_bilinear_ivm_delta_rule(spark, orders, cust):
    """V_old(R_old⋈S_old) merged with ΔR⋈S_old ∪ R_old⋈ΔS ∪ ΔR⋈ΔS
    equals the full recompute over (R_old∪ΔR)⋈(S_old∪ΔS) for ANY
    split — the bilinear expansion q_ivm_join relies on, pinned
    independently of the fixture's particular partitioning."""
    from pyspark.sql import functions as F

    DECS = "decimal(38,10)"
    r = spark.createDataFrame(
        [(ck, round(p, 2), old) for ck, p, old in orders],
        "o_custkey long, o_totalprice double, r_old boolean",
    )
    s = spark.createDataFrame(
        [(ck, seg, old) for ck, seg, old in cust],
        "c_custkey long, c_mktsegment string, s_old boolean",
    )
    r_old, r_new = r.filter("r_old"), r.filter(~F.col("r_old"))
    s_old, s_new = s.filter("s_old"), s.filter(~F.col("s_old"))

    def seg_rows(rr, ss):
        return rr.join(ss, rr.o_custkey == ss.c_custkey).select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("price"),
        )

    def agg(rows):
        return rows.groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("price").cast(DECS)).alias("rev"),
        )

    view_old = agg(seg_rows(r_old, s_old))
    delta = agg(
        seg_rows(r_new, s_old)
        .unionAll(seg_rows(r_old, s_new))
        .unionAll(seg_rows(r_new, s_new))
    )
    v, dta = view_old.alias("v"), delta.alias("d")
    zero = F.lit(0).cast(DECS)
    merged = (
        v.join(dta, F.col("v.segment") == F.col("d.segment"), "full_outer")
        .select(
            F.coalesce(F.col("v.segment"), F.col("d.segment")).alias("segment"),
            (
                F.coalesce(F.col("v.n"), F.lit(0))
                + F.coalesce(F.col("d.n"), F.lit(0))
            ).alias("n"),
            F.round(
                F.coalesce(F.col("v.rev"), zero) + F.coalesce(F.col("d.rev"), zero), 4
            ).cast("double").alias("revenue"),
        )
    )
    full = agg(seg_rows(r, s)).select(
        "segment", "n", F.round(F.col("rev"), 4).cast("double").alias("revenue")
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=30),  # value, integer grid
        ),
        min_size=2,
        max_size=40,
    )
)
@_settings
def test_kruskal_wallis_matches_brute_force_ranks(spark, vals):
    """The two-level stitched rank computation must reproduce the
    textbook pooled mid-rank Kruskal-Wallis H (and its tie correction)
    for ANY grouping — the identity that licenses computing ranks from
    counts instead of a global sort."""
    from direct_kafka_stream_spark.operators.hypothesis import kruskal_wallis_stat

    ev = spark.createDataFrame(
        [
            (i, g, float(v))
            for i, (g, v) in enumerate(vals)
        ],
        "event_id long, event_type string, value double",
    ).withColumn("ts", F.current_timestamp()).withColumn(
        "user_id", F.lit(0)
    ).withColumn("props", F.lit("{}"))
    row = kruskal_wallis_stat(ev).collect()[0]

    # brute force: pooled mid-ranks
    xs = sorted(v for _, v in vals)
    n = len(xs)
    ranks = {}
    i = 0
    while i < n:
        j = i
        while j < n and xs[j] == xs[i]:
            j += 1
        ranks[xs[i]] = (i + 1 + j) / 2.0  # average of ranks i+1..j
        i = j
    groups = {}
    for g, v in vals:
        groups.setdefault(g, []).append(ranks[v])
    h = 12.0 / (n * (n + 1)) * sum(
        (sum(rs)) ** 2 / len(rs) for rs in groups.values()
    ) - 3.0 * (n + 1)
    from collections import Counter
    ties = Counter(v for _, v in vals)
    tsum = sum(t**3 - t for t in ties.values())
    corr = 1.0 - tsum / (n**3 - n)
    assert abs(row.h_stat - h) < 1e-5
    if corr == 0.0:
        assert row.h_corrected is None
    else:
        assert abs(row.h_corrected - h / corr) < 1e-5
    assert row.n == n and row.df == len(groups) - 1


@given(
    durs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),   # group g
            st.integers(min_value=0, max_value=8),   # duration t
            st.integers(min_value=0, max_value=1),   # event flag ev
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_logrank_matches_brute_force(spark, durs):
    """logrank_from_durations == the textbook hand computation (the
    lifelines-style definition: at every POOLED event time, n_risk_g =
    members of g with T >= t, including times where g itself has no
    exit) — the property the round-6 ADVICE found violated when a
    group's risk set was only evaluated at its own cell times."""
    from direct_kafka_stream_spark.operators.experiments import logrank_from_durations

    df = spark.createDataFrame(durs, "g long, t int, ev int")
    row = logrank_from_durations(df).collect()[0]

    # brute force over pooled event times
    etimes = sorted({t for g, t, ev in durs if ev == 1})
    observed1 = sum(ev for g, t, ev in durs if g == 1)
    o_minus_e = 0.0
    var_sum = 0.0
    expected1 = 0.0
    for t in etimes:
        n1 = sum(1 for g, tt, _ in durs if g == 1 and tt >= t)
        n0 = sum(1 for g, tt, _ in durs if g == 0 and tt >= t)
        d1 = sum(ev for g, tt, ev in durs if g == 1 and tt == t)
        d0 = sum(ev for g, tt, ev in durs if g == 0 and tt == t)
        nt, dt = n1 + n0, d1 + d0
        e1 = dt * n1 / nt
        expected1 += e1
        o_minus_e += d1 - e1
        if nt > 1:
            var_sum += (
                dt * (n1 / nt) * (1 - n1 / nt) * (nt - dt) / (nt - 1)
            )
    if not etimes:
        # no events at all: the aggregate runs over zero terms
        assert row.observed1 in (None, 0) and row.chi2 is None
        return
    assert row.observed1 == observed1
    assert abs(row.expected1 - expected1) < 1e-5
    if abs(var_sum) < 1e-12:
        assert row.chi2 is None
    else:
        assert abs(row.chi2 - o_minus_e**2 / var_sum) < 1e-5


# ---------------------------------------------------------------------------
# Stitched-rank kernels vs brute-force pooled ranks (round-6 verdict
# directive #7): the two-level bin-stitched prefix must equal a global
# sort's mid-ranks for ANY value multiset and any bin placement, so a
# future refactor of bounded_window_key / the stitching can't silently
# break rank math.
# ---------------------------------------------------------------------------

def _midranks(xs):
    """value -> average pooled rank (ties get the mid-rank)."""
    s = sorted(xs)
    out = {}
    i = 0
    while i < len(s):
        j = i
        while j < len(s) and s[j] == s[i]:
            j += 1
        out[s[i]] = (i + 1 + j) / 2.0
        i = j
    return out


@given(
    vals=st.lists(
        st.integers(min_value=-30, max_value=30).map(lambda k: k * 2.5),
        min_size=1,
        max_size=40,
    )
)
@_settings
def test_stitched_avg_ranks_match_pooled(spark, vals):
    """stitched_avg_ranks == 2 x brute-force pooled mid-rank for any
    multiset, including values straddling bin boundaries."""
    from direct_kafka_stream_spark.operators.hypothesis import stitched_avg_ranks

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.v: r.ar2 for r in stitched_avg_ranks(df, "x", 10.0).collect()}
    want = _midranks(vals)
    assert set(got) == set(want)
    for v, ar2 in got.items():
        assert ar2 == 2 * want[v], (v, ar2, want[v])


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-10, max_value=10),
            st.integers(min_value=-10, max_value=10),
        ),
        min_size=3,
        max_size=30,
    )
)
@_settings
def test_spearman_matches_brute_force(spark, pairs):
    """spearman_rho == Pearson on brute-force pooled mid-ranks."""
    import math

    from direct_kafka_stream_spark.operators.hypothesis import spearman_rho

    df = spark.createDataFrame(
        [(float(a) * 1.5, float(b) * 3.0) for a, b in pairs], "a double, b double"
    )
    row = spearman_rho(df, "a", "b", 4.0, 7.0).collect()[0]
    ra = _midranks([a * 1.5 for a, _ in pairs])
    rb = _midranks([b * 3.0 for _, b in pairs])
    xs = [ra[a * 1.5] for a, _ in pairs]
    ys = [rb[b * 3.0] for _, b in pairs]
    n = len(pairs)
    sa, sb = sum(xs), sum(ys)
    sab = sum(x * y for x, y in zip(xs, ys))
    saa, sbb = sum(x * x for x in xs), sum(y * y for y in ys)
    den = math.sqrt((n * saa - sa * sa) * (n * sbb - sb * sb))
    assert row.n == n
    if den == 0.0:
        assert row.rho is None
    else:
        assert abs(row.rho - (n * sab - sa * sb) / den) < 1e-5


@given(
    rows_=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),      # segment
            st.integers(min_value=-40, max_value=40),   # value (scaled)
            st.integers(min_value=1, max_value=7),      # weight
        ),
        min_size=1,
        max_size=30,
    )
)
@_settings
def test_weighted_median_matches_brute_force(spark, rows_):
    """weighted_median_stat's bin-then-refine == the global weighted
    lower median (first value where 2*cumweight >= total, rows ordered
    by (value, key))."""
    from direct_kafka_stream_spark.operators.profiling import weighted_median_stat

    data = [
        (f"S{g}", v * 25.0, i, w) for i, (g, v, w) in enumerate(rows_)
    ]
    cw = spark.createDataFrame(
        data, "seg string, c_acctbal double, c_custkey long, w long"
    )
    got = {r.seg: (r.wmedian, r.total_w) for r in weighted_median_stat(cw, 100.0).collect()}
    segs = {}
    for seg, val, key, w in data:
        segs.setdefault(seg, []).append((val, key, w))
    for seg, rows in segs.items():
        tot = sum(w for _, _, w in rows)
        cum = 0
        med = None
        for val, key, w in sorted(rows):
            cum += w
            if 2 * cum >= tot:
                med = val
                break
        assert got[seg] == (med, tot), seg


@given(
    durs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),     # group: a or b
            st.integers(min_value=-20, max_value=20),  # value (scaled)
        ),
        min_size=2,
        max_size=30,
    ).filter(lambda l: any(g == 0 for g, _ in l) and any(g == 1 for g, _ in l))
)
@_settings
def test_mann_whitney_matches_brute_force(spark, durs):
    """mann_whitney_stat's stitched rank sums == brute-force pooled
    mid-ranks: u2 exactly, z to 1e-5."""
    import math

    from direct_kafka_stream_spark.operators.hypothesis import mann_whitney_stat
    from collections import Counter

    data = [
        ("click" if g == 0 else "purchase", v * 2.5) for g, v in durs
    ]
    ev = spark.createDataFrame(data, "event_type string, value double")
    row = mann_whitney_stat(ev).collect()[0]

    ranks = _midranks([v for _, v in data])
    a_vals = [v for t, v in data if t == "click"]
    b_vals = [v for t, v in data if t == "purchase"]
    n_a, n_b = len(a_vals), len(b_vals)
    r_a = sum(ranks[v] for v in a_vals)
    u2 = int(round(2 * r_a)) - n_a * (n_a + 1)
    assert (row.n_a, row.n_b, row.u2) == (n_a, n_b, u2)
    n = n_a + n_b
    ties = Counter(v for _, v in data)
    tiesum = sum(t**3 - t for t in ties.values())
    var = (n_a * n_b / 12.0) * (
        (n + 1) - tiesum / (n * (n - 1)) if n > 1 else 0.0
    )
    denom = 2.0 * math.sqrt(max(var, 0.0))
    if denom == 0.0:
        assert row.z is None
    else:
        assert abs(row.z - (u2 - n_a * n_b) / denom) < 1e-5


@given(
    vals=st.lists(
        st.integers(min_value=-25, max_value=25).map(lambda k: k * 3.5),
        min_size=1,
        max_size=35,
    )
)
@_settings
def test_median_ci_matches_brute_force(spark, vals):
    """median_ci_report's bin-then-refine selection == direct order
    statistics on the sorted sample at the three target ranks."""
    import math

    from direct_kafka_stream_spark.operators.hypothesis import median_ci_report

    ev = spark.createDataFrame(
        [(v, i) for i, v in enumerate(vals)], "value double, event_id long"
    )
    row = median_ci_report(ev).collect()[0]
    xs = sorted(vals)
    n = len(xs)

    def clamp(r):
        return max(1, min(n, r))

    r_lo = clamp(int(math.floor((n - 1.959964 * math.sqrt(n)) / 2)))
    r_med = clamp((n + 1) // 2)
    r_hi = clamp(int(math.ceil(1 + (n + 1.959964 * math.sqrt(n)) / 2)))
    assert row.n == n
    assert row.median == xs[r_med - 1]
    assert row.ci_lo == xs[r_lo - 1]
    assert row.ci_hi == xs[r_hi - 1]


# ---------------------------------------------------------------------------
# Incremental curation == batch pipeline for ANY corpus and ANY
# doc_id-ordered batch split (round-7: generalizes the fixed 3-way
# fixture split in tests/test_streaming.py).
# ---------------------------------------------------------------------------

_WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
          "golf", "hotel", "india", "juliet"]


@given(
    docs_spec=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # base phrase family
            st.integers(min_value=0, max_value=2),   # mutation: 0=clone
        ),
        min_size=2,
        max_size=10,
    ),
    cut=st.tuples(
        st.integers(min_value=0, max_value=9), st.integers(min_value=0, max_value=9)
    ),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_curation_equals_batch_for_any_split(spark, docs_spec, cut):
    """curation_apply_batch accumulated over an arbitrary
    doc_id-ordered split == curation_pipeline_on over the union —
    exact dedup, LSH candidates and tau-drops included."""
    from direct_kafka_stream_spark.operators.llm import curation_pipeline_on
    from direct_kafka_stream_spark.streaming.transforms import (
        CURATION_BANDS_SCHEMA,
        CURATION_SEEN_SCHEMA,
        CURATION_WARR_SCHEMA,
        curation_apply_batch,
    )

    rows = []
    for i, (fam, mut) in enumerate(docs_spec):
        # family phrase long enough to clear the 50-char gate; mutation
        # 0 clones the family exactly (exact dup), 1 appends one word
        # (near dup), 2 rewrites half the words (distinct)
        base_words = [_WORDS[(fam * 3 + k) % len(_WORDS)] for k in range(12)]
        if mut == 1:
            words = base_words + ["extraword"]
        elif mut == 2:
            words = base_words[:6] + [
                _WORDS[(fam + k) % len(_WORDS)] + "x" for k in range(6)
            ]
        else:
            words = base_words
        text = " ".join(words)
        rows.append((i, text, "en", "s", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )

    expected = sorted(
        (r.doc_id, int(r.n_tokens))
        for r in curation_pipeline_on(docs).collect()
    )

    c1, c2 = sorted(min(c, len(rows)) for c in cut)
    parts = [
        docs.filter(F.col("doc_id") < c1),
        docs.filter((F.col("doc_id") >= c1) & (F.col("doc_id") < c2)),
        docs.filter(F.col("doc_id") >= c2),
    ]
    seen = spark.createDataFrame([], CURATION_SEEN_SCHEMA)
    bands = spark.createDataFrame([], CURATION_BANDS_SCHEMA)
    warr = spark.createDataFrame([], CURATION_WARR_SCHEMA)
    accepted = []
    for p in parts:
        out = curation_apply_batch(p, seen, bands, warr)
        accepted += [(r.doc_id, int(r.n_tokens)) for r in out["accepted"].collect()]
        seen = seen.unionByName(out["seen_delta"])
        bands = bands.unionByName(out["bands_delta"])
        warr = warr.unionByName(out["warr_delta"])
    assert sorted(accepted) == expected


# ---------------------------------------------------------------------------
# As-of joins vs brute force: the union + one-shuffle + running-window
# composition must equal the textbook "most recent at-or-before" /
# "nearest at-or-after" scan for ANY event multiset, including ties at
# equal timestamps (max view value wins) and probe rows with no match.
# ---------------------------------------------------------------------------


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=5),  # second offset
            st.booleans(),                          # is click (else view)
            st.integers(min_value=1, max_value=9),  # value
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_asof_joins_match_brute_force(spark, evs):
    import pandas as pd
    import tempfile

    from direct_kafka_stream_spark.registry import QUERIES

    base = pd.Timestamp("2024-01-01 00:00:00")
    pdf = pd.DataFrame(
        {
            "event_id": range(len(evs)),
            "ts": pd.Series(
                [base + pd.Timedelta(seconds=t) for _, t, _, _ in evs]
            ).astype("datetime64[us]"),
            "user_id": [u for u, _, _, _ in evs],
            "event_type": ["click" if c else "view" for _, _, c, _ in evs],
            "value": [float(v) for _, _, _, v in evs],
            "props": ["{}"] * len(evs),
        }
    )
    with tempfile.TemporaryDirectory() as td:
        pdf.to_parquet(f"{td}/events.parquet")
        back = {
            r.event_id: r.view_value
            for r in QUERIES["q_join_asof"].spark(spark, td).collect()
        }
        fwd = {
            r.event_id: r.view_value
            for r in QUERIES["q_join_asof_forward"].spark(spark, td).collect()
        }

    views = [(u, t, v) for u, t, c, v in evs if not c]
    for eid, (u, t, c, v) in enumerate(evs):
        if not c:
            continue
        past = [(tt, vv) for uu, tt, vv in views if uu == u and tt <= t]
        future = [
            (tt, vv) for uu, tt, vv in views if uu == u and tt >= t
        ]
        # backward: the LATEST view at-or-before; max value among ties
        want_back = None
        if past:
            tmax = max(tt for tt, _ in past)
            want_back = float(max(vv for tt, vv in past if tt == tmax))
        # forward: the NEAREST following view; max value among ties
        want_fwd = None
        if future:
            tmin = min(tt for tt, _ in future)
            want_fwd = float(max(vv for tt, vv in future if tt == tmin))
        assert back[eid] == want_back, ("backward", eid)
        assert fwd[eid] == want_fwd, ("forward", eid)


@given(
    keys=st.sets(st.integers(min_value=0, max_value=400), min_size=1, max_size=60),
    bucket_width=st.integers(min_value=1, max_value=64),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ranged_islands_match_brute_force(spark, keys, bucket_width):
    """ranged_islands (bucket-local islands + boundary stitch) == the
    brute-force consecutive-run scan for ANY key set and ANY bucket
    width — islands spanning several buckets, edge-aligned islands,
    singletons, width-1 buckets (every island stitched from
    singletons)."""
    from direct_kafka_stream_spark.operators.scale_variants import (
        ranged_islands,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = [
        (r.island_start, r.island_end, r.island_len)
        for r in ranged_islands(df, bucket_width).collect()
    ]
    ks = sorted(keys)
    want = []
    start = prev = ks[0]
    for k in ks[1:]:
        if k == prev + 1:
            prev = k
            continue
        want.append((start, prev, prev - start + 1))
        start = prev = k
    want.append((start, prev, prev - start + 1))
    assert got == want


@given(
    evs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1),      # event type index
            st.integers(min_value=0, max_value=500),    # event-time second
        ),
        min_size=1,
        max_size=40,
    ),
    block=st.integers(min_value=1, max_value=8),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lateness_stitched_runmax_matches_global(spark, evs, block):
    """lateness_profile's block-stitched running max == the global
    arrival-order running max for ANY arrival sequence and ANY block
    size (down to 1, where every event stitches across blocks)."""
    import datetime

    import numpy as np

    from direct_kafka_stream_spark.operators.timeseries import (
        _LATE_TAU,
        lateness_profile,
    )

    base = 1_704_067_200
    rows_ = [
        (
            i,
            datetime.datetime.utcfromtimestamp(base + s),
            i % 5,
            "click" if t == 0 else "view",
            1.0,
            "{}",
        )
        for i, (t, s) in enumerate(evs)
    ]
    e = spark.createDataFrame(
        rows_,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    got = {
        r.event_type: (r.n, r.n_late, r.p50_late_s, r.p95_late_s, r.max_late_s)
        for r in lateness_profile(e, block=block).collect()
    }

    lates: dict[str, list[int]] = {}
    high = None
    for i, (t, s) in enumerate(evs):
        late = max((high - s) if high is not None else 0, 0)
        lates.setdefault("click" if t == 0 else "view", []).append(late)
        high = s if high is None else max(high, s)
    assert set(got) == set(lates)
    for et, ls in lates.items():
        n, n_late, p50, p95, mx = got[et]
        assert n == len(ls)
        assert n_late == sum(1 for x in ls if x > _LATE_TAU)
        assert mx == max(ls)
        assert abs(p50 - float(np.percentile(ls, 50))) < 1e-6
        assert abs(p95 - float(np.percentile(ls, 95))) < 1e-6


# ---------------------------------------------------------------------------
# Round 8: the vectorized cogroup as-of merge kernel == brute force
# ---------------------------------------------------------------------------

_CG_EVENT = st.tuples(
    st.integers(0, 4),                       # user_id
    st.integers(0, 20_000_000_000),          # ts in ns (spans sub-second)
)


@settings(max_examples=60, deadline=None)
@given(
    clicks=st.lists(_CG_EVENT, min_size=0, max_size=40),
    buys=st.lists(_CG_EVENT, min_size=0, max_size=40),
)
def test_cogroup_merge_matches_brute_force(clicks, buys):
    """The merge_asof-based kernel (operators/engine.py, round-8
    vectorization of the per-user loop) against a per-click O(n·m)
    scan: for every click, the FIRST purchase by the same user with
    p.ts >= c.ts (full-ns comparison), waits floored to seconds only
    at output — including ties, sub-second orderings, duplicate
    timestamps, matchless users, and purchase-only users."""
    import numpy as np
    import pandas as pd

    from direct_kafka_stream_spark.operators.engine import _cogroup_merge

    left = pd.DataFrame(
        {
            "user_id": [u for u, _ in clicks],
            "ts": pd.to_datetime([t for _, t in clicks], unit="ns"),
        }
    )
    right = pd.DataFrame(
        {
            "user_id": [u for u, _ in buys],
            "ts": pd.to_datetime([t for _, t in buys], unit="ns"),
        }
    )
    got = {
        int(r.user_id): (int(r.n_clicks), int(r.n_converted), int(r.total_wait_s))
        for r in _cogroup_merge(left, right).itertuples()
    }

    want: dict[int, tuple[int, int, int]] = {}
    for u, c_ns in clicks:
        later = [t for bu, t in buys if bu == u and t >= c_ns]
        n, conv, wait = want.get(u, (0, 0, 0))
        if later:
            p_ns = min(later)
            conv += 1
            wait += p_ns // 1_000_000_000 - c_ns // 1_000_000_000
        want[u] = (n + 1, conv, wait)
    assert got == want


# ---------------------------------------------------------------------------
# round-8: offset/commit ledger parser — accept every valid ledger,
# reject every single-fault mutation (no Spark needed: the ledger is
# plain text, so hypothesis can cover the space brute force can't)
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    files_per_batch=st.lists(st.integers(min_value=1, max_value=4),
                             min_size=1, max_size=8),
    fault=st.sampled_from(
        ["none", "drop_commit", "drop_offset", "drop_source", "dup_file"]
    ),
    victim=st.integers(min_value=0, max_value=7),
)
def test_offset_ledger_parser_total_over_fault_space(
    tmp_path_factory, files_per_batch, fault, victim
):
    """For ANY batch/file layout: the parser accepts the clean ledger
    and returns the exact file→batch assignment; dropping any single
    commit, dropping any offsets entry (a hole), dropping a sources
    entry, or duplicating a file across batches is always rejected
    with the specific audit error (never a stray IO exception). The
    ledger writer is the shared fixture in test_stream_machinery —
    one copy of the on-disk format knowledge."""
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger
    from tests.test_stream_machinery import _ledger_fixture

    n = len(files_per_batch)
    victim = victim % n
    root = tmp_path_factory.mktemp("ledger")
    kw = {}
    expect = None
    if fault == "drop_commit":
        # dropping the LAST commit of a hole-free prefix is the only
        # undetectable-by-contiguity case; all drops must still fail
        kw["drop_commit"] = victim
        expect = "uncommitted"
    elif fault == "drop_offset":
        kw["drop_offset"] = victim
        # dropping the final offsets entry shortens the run instead of
        # making a hole; its orphaned commit is then the signal
        expect = "holes" if victim < n - 1 else "uncommitted"
    elif fault == "drop_source":
        kw["drop_source"] = victim
        expect = "missing"
    elif fault == "dup_file":
        kw["dup_file"] = True
        # duplication needs at least two file entries overall
        if sum(files_per_batch) < 2:
            kw["dup_file"] = False
        else:
            expect = "double-processing"
    _ledger_fixture(root, n, files_per_batch=files_per_batch, **kw)

    if expect is None:
        ledger = read_stream_ledger(str(root))
        assert ledger["batches"] == list(range(n))
        got_per_batch = [0] * n
        for b in ledger["files"].values():
            got_per_batch[b] += 1
        assert got_per_batch == files_per_batch
    else:
        with pytest.raises(RuntimeError, match=expect):
            read_stream_ledger(str(root))


@settings(max_examples=40, deadline=None)
@given(
    attempts=st.lists(
        st.tuples(
            st.sampled_from(["commit", "abort"]),
            st.lists(st.integers(min_value=0, max_value=5),
                     min_size=1, max_size=4),
        ),
        min_size=1,
        max_size=5,
    ),
)
def test_pyds_sink_protocol_over_any_attempt_sequence(
    tmp_path_factory, attempts
):
    """For ANY sequence of engine retries of one batchId — aborted
    attempts interleaved with committed ones, each with its own
    partition count and row layout — the published output equals the
    LAST COMMITTED attempt exactly: its row total in the manifest,
    its partition files on disk, zero staging leftovers, and zero
    published files if every attempt aborted. This is the replacement
    property behind exactly-once-per-batch that the unit tests pin
    only for two hand-picked sequences."""
    import json as _json

    from direct_kafka_stream_spark.sources.pyds import (
        JsonlStreamWriter,
        _StagedFile,
    )

    root = tmp_path_factory.mktemp("pysink")
    w = JsonlStreamWriter({"path": str(root)})
    staging = root / "_staging"

    def stage(n_rows, tag):
        staging.mkdir(exist_ok=True)
        p = staging / f"{tag}.jsonl"
        p.write_text(
            "".join(_json.dumps({"i": i}) + "\n" for i in range(n_rows))
        )
        return _StagedFile(str(p), n_rows)

    last_committed = None
    for a_idx, (op, sizes) in enumerate(attempts):
        msgs = [stage(n, f"a{a_idx}p{i}") for i, n in enumerate(sizes)]
        if op == "commit":
            w.commit(msgs, batchId=3)
            last_committed = sizes
        else:
            w.abort(msgs, batchId=3)

    assert not list(staging.glob("*")), "staging must drain every attempt"
    published = sorted(root.glob("batch-3-*.jsonl"))
    if last_committed is None:
        assert published == []
        assert not (root / "_commit-3.json").exists()
    else:
        want_files = [n for n in last_committed if n > 0]
        got_rows = sorted(
            sum(1 for _ in p.open()) for p in published
        )
        assert got_rows == sorted(want_files)
        manifest = _json.loads((root / "_commit-3.json").read_text())
        assert manifest == {"batchId": 3, "rows": sum(last_committed)}
