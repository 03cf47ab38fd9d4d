"""Independent proofs for the round-5 stats sweep (operators/hypothesis.py,
timeseries.py, models.py, profiling.py):
ANOVA against the textbook group-mean computation, Kendall tau-b
against direct pair counting, CUSUM against the sequential recursion
it replaces, ridge against a NumPy solve of the same normal equations,
the binned Gini against the exact ranked Gini, and the Hill estimator
against a direct Python sum."""

from __future__ import annotations

import collections
import math

import duckdb
import numpy as np
import pytest

from direct_kafka_stream_spark import QUERIES

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("events", "orders", "lineitem", "customer", "nation"):
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield c
    c.close()


def test_anova_matches_textbook_groups(spark, con):
    rows = con.sql("SELECT event_type, value FROM events").fetchall()
    groups = collections.defaultdict(list)
    for t, v in rows:
        groups[t].append(v)
    n = sum(len(g) for g in groups.values())
    k = len(groups)
    grand = sum(sum(g) for g in groups.values()) / n
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2 for g in groups.values())
    ssw = sum(
        sum((x - sum(g) / len(g)) ** 2 for x in g) for g in groups.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    got = QUERIES["q_anova"].spark(spark, SF_DIR).collect()[0]
    assert got.k == k and got.n == n
    assert got.ss_between == pytest.approx(ssb, rel=1e-6)
    assert got.ss_within == pytest.approx(ssw, rel=1e-6)
    assert got.f_stat == pytest.approx(f, rel=1e-6)


def test_kendall_matches_pair_counting(spark, con):
    rows = con.sql("SELECT l_quantity, l_discount FROM lineitem").fetchall()
    # direct O(cells^2) pair counting from the value-pair census — an
    # independent Python implementation of the tau-b definition
    cells = collections.Counter(rows)
    items = list(cells.items())
    conc = disc = 0
    for i, ((q1, d1), c1) in enumerate(items):
        for (q2, d2), c2 in items[i + 1:]:
            s = (q1 - q2) * (d1 - d2)
            if s > 0:
                conc += c1 * c2
            elif s < 0:
                disc += c1 * c2
    n = len(rows)
    n0 = n * (n - 1) // 2
    tx = collections.Counter(q for q, _ in rows)
    ty = collections.Counter(dd for _, dd in rows)
    n1 = sum(c * (c - 1) // 2 for c in tx.values())
    n2 = sum(c * (c - 1) // 2 for c in ty.values())
    tau = (conc - disc) / math.sqrt(float(n0 - n1) * float(n0 - n2))
    got = QUERIES["q_kendall_grid"].spark(spark, SF_DIR).collect()[0]
    assert got.n == n
    assert got.concordant == conc and got.discordant == disc
    assert got.tau_b == pytest.approx(tau, abs=1.5e-6)
    # sanity: the pair-mass identity C + D <= n0 - ties
    assert conc + disc <= n0 - n1 and conc + disc <= n0 - n2


def test_cusum_matches_sequential_recursion(spark, con):
    daily = con.sql(
        "SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS s "
        "FROM orders GROUP BY 1 ORDER BY 1"
    ).fetchall()
    xs = [float(s) for _, s in daily]
    mu = sum(xs) / len(xs)
    want = {}
    s_run = 0.0
    for (day, _), x in zip(daily, xs):
        s_run = max(0.0, s_run + (x - mu))
        want[day.strftime("%Y-%m-%d")] = s_run
    got = {
        r.day: r.cusum
        for r in QUERIES["q_cusum"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for day in want:
        assert got[day] == pytest.approx(want[day], abs=1e-2), day
    # the flag column fires for at least the largest excursion iff any
    sd = math.sqrt(
        sum((x - mu) ** 2 for x in xs) / (len(xs) - 1)
    )
    n_flags_want = sum(1 for v in want.values() if v > 2.0 * sd + 1e-9)
    rows = QUERIES["q_cusum"].spark(spark, SF_DIR).collect()
    assert sum(r.flag for r in rows) == pytest.approx(n_flags_want, abs=1)


def test_grubbs_is_worst_day(spark, con):
    daily = con.sql(
        "SELECT CAST(o_orderdate AS DATE) AS day, SUM(o_totalprice) AS s "
        "FROM orders GROUP BY 1"
    ).fetchall()
    xs = [float(s) for _, s in daily]
    mu = sum(xs) / len(xs)
    sd = math.sqrt(sum((x - mu) ** 2 for x in xs) / (len(xs) - 1))
    worst = max(daily, key=lambda r: (abs(float(r[1]) - mu), r[0]))
    g = QUERIES["q_grubbs"].spark(spark, SF_DIR).collect()[0]
    assert g.n_days == len(daily)
    assert g.peak_day == worst[0].strftime("%Y-%m-%d")
    assert g.g_stat == pytest.approx(abs(float(worst[1]) - mu) / sd, abs=1e-4)


def test_ridge_matches_numpy_solve(spark, con):
    rows = con.sql(
        "SELECT l_quantity, l_discount, l_extendedprice FROM lineitem"
    ).fetchall()
    X = np.array([[1.0, q, dd] for q, dd, _ in rows])
    y = np.array([p for _, _, p in rows])
    lam = 10.0
    A = X.T @ X + lam * np.diag([0.0, 1.0, 1.0])
    beta = np.linalg.solve(A, X.T @ y)
    got = QUERIES["q_ridge_closed"].spark(spark, SF_DIR).collect()[0]
    assert got.n == len(rows)
    assert got.b0 == pytest.approx(beta[0], rel=1e-4)
    assert got.b1 == pytest.approx(beta[1], rel=1e-4)
    assert got.b2 == pytest.approx(beta[2], rel=1e-4)


def test_gini_binned_close_to_exact(spark):
    exact = {
        r.n_name: r.gini
        for r in QUERIES["q_gini"].spark(spark, SF_DIR).collect()
    }
    binned = {
        r.n_name: (r.gini_binned, r.n_cust, r.n_bins)
        for r in QUERIES["q_gini_binned"].spark(spark, SF_DIR).collect()
    }
    assert set(binned) == set(exact)
    for nat, (gb, n_cust, n_bins) in binned.items():
        assert 0.0 <= gb <= 1.0
        # trapezoidal Lorenz over 10k-wide bins: within-bin ordering is
        # the only information lost
        assert gb == pytest.approx(exact[nat], abs=0.06), nat
        assert n_bins <= n_cust


def test_power_law_alpha_matches_direct(spark, con):
    xs = [
        v
        for (v,) in con.sql(
            "SELECT value FROM events WHERE value > 100.0"
        ).fetchall()
    ]
    alpha = 1.0 + len(xs) / sum(math.log(x / 100.0) for x in xs)
    got = QUERIES["q_power_law_alpha"].spark(spark, SF_DIR).collect()[0]
    assert got.n_tail == len(xs)
    assert got.alpha == pytest.approx(alpha, abs=1e-5)
    assert got.alpha > 1.0


def test_entropy_hour_bounds_and_direct(spark, con):
    rows = con.sql(
        "SELECT EXTRACT(hour FROM ts), event_type FROM events"
    ).fetchall()
    per_hour = collections.defaultdict(collections.Counter)
    for h, t in rows:
        per_hour[int(h)][t] += 1
    got = {
        r.hour_of_day: (r.n, r.entropy)
        for r in QUERIES["q_entropy_hour"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(per_hour)
    for h, counts in per_hour.items():
        tot = sum(counts.values())
        want = -sum(
            (c / tot) * math.log(c / tot) for c in counts.values()
        )
        assert got[h][0] == tot
        assert got[h][1] == pytest.approx(want, abs=1e-5)
        assert -1e-9 <= got[h][1] <= math.log(len(counts)) + 1e-9


def test_robust_scale_matches_numpy_quantiles(spark, con):
    rows = con.sql("SELECT event_type, value FROM events").fetchall()
    groups = collections.defaultdict(list)
    for t, v in rows:
        groups[t].append(v)
    got = {
        r.event_type: r
        for r in QUERIES["q_robust_scale"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(groups)
    for t, vals in groups.items():
        q1, med, q3 = np.percentile(vals, [25, 50, 75])  # linear interp
        r = got[t]
        assert r.median_ == pytest.approx(med, abs=1e-5)
        assert r.iqr == pytest.approx(q3 - q1, abs=1e-5)
        n_out = sum(1 for v in vals if abs(v - med) > 1.5 * (q3 - q1) + 1e-9)
        assert r.n_outliers == pytest.approx(n_out, abs=1)


def _run_both(spark, d, name, views=("events", "orders", "lineitem")):
    srows = [tuple(r) for r in QUERIES[name].spark(spark, str(d)).collect()]
    con2 = duckdb.connect()
    for t in views:
        con2.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'"
        )
    orows = con2.execute(QUERIES[name].oracle).fetchall()
    con2.close()
    return srows, orows


def test_degenerate_inputs_yield_null_on_both_engines(spark, tmp_path):
    """Reachable zero denominators must produce NULL identically on
    both engines (Spark double/0 is NULL, DuckDB is inf — the NULLIF
    guards are the contract): single-valued Kendall column, one-day
    CUSUM/Grubbs series, constant logistic feature."""
    d = tmp_path / "degen"
    d.mkdir()
    duckdb.sql(
        f"COPY (SELECT * FROM '{SF_DIR}/events.parquet' LIMIT 50) "
        f"TO '{d}/events.parquet' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        f"MIN(o_orderdate) OVER () AS o_orderdate, o_orderpriority "
        f"FROM '{SF_DIR}/orders.parquet' LIMIT 40) "
        f"TO '{d}/orders.parquet' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
        f"7.0 AS l_quantity, l_extendedprice, l_discount, l_tax, "
        f"l_returnflag, l_linestatus, l_shipdate "
        f"FROM '{SF_DIR}/lineitem.parquet' LIMIT 60) "
        f"TO '{d}/lineitem.parquet' (FORMAT PARQUET)"
    )
    # constant quantity: every pair tied in x -> tau undefined
    s, o = _run_both(spark, d, "q_kendall_grid")
    assert s[0][3] is None and o[0][3] is None
    # one-day series: no sample sd -> no flags, NULL G
    s, o = _run_both(spark, d, "q_cusum")
    assert all(r[2] == 0 for r in s) and all(r[2] == 0 for r in o)
    s, o = _run_both(spark, d, "q_grubbs")
    assert s[0][3] is None and o[0][3] is None
    # constant feature: singular Hessian -> NULL step
    from direct_kafka_stream_spark.operators.models import q_logistic_step  # noqa: F401

    s, o = _run_both(spark, d, "q_logistic_step")
    assert s[0][1] is None and s[0][2] is None
    assert o[0][1] is None and o[0][2] is None
