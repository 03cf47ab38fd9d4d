"""Independent brute-force proofs for the round-4 evaluation/integrity
sweep (operators/hypothesis.py, models.py, engine.py,
timeseries.py): the stitched Mann-Whitney rank math vs a naive
pooled-sort ranking, nDCG vs a direct per-order computation, the
centroid-classifier metrics vs a plain Python replica, the table
checksum vs hashlib, and the Bollinger bands vs a rolling-window loop.
Each check re-derives the answer WITHOUT Spark or the oracle SQL, so a
shared bug in the mirrored query shapes cannot hide."""

from __future__ import annotations

import collections
import hashlib
import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from direct_kafka_stream_spark import QUERIES

from tests.conftest import SF_DIR


def _r(x: float, scale: int) -> float:
    """Replicate both engines' ROUND(double, n): exact binary expansion
    then HALF_UP at the given decimal scale."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(x).quantize(q, rounding=ROUND_HALF_UP))


def _dec10(x: float) -> Decimal:
    """Replicate CAST(double AS DECIMAL(38,10)): HALF_UP at scale 10."""
    return Decimal(x).quantize(Decimal(1).scaleb(-10), rounding=ROUND_HALF_UP)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("events", "lineitem", "orders", "embeddings"):
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_mann_whitney_equals_naive_pooled_ranks(spark, con):
    rows = con.sql(
        "SELECT value, event_type FROM events "
        "WHERE event_type IN ('click','purchase')"
    ).fetchall()
    pooled = sorted((v, t) for v, t in rows)
    # average ranks with ties, via grouping equal values
    by_val = collections.Counter(v for v, _ in pooled)
    ranks = {}
    pos = 0
    for v in sorted(by_val):
        t = by_val[v]
        ranks[v] = pos + (t + 1) / 2.0  # avg rank of the tied block
        pos += t
    n_a = sum(1 for _, t in rows if t == "click")
    n_b = len(rows) - n_a
    r_a = sum(ranks[v] for v, t in rows if t == "click")
    u2 = int(round(2 * r_a)) - n_a * (n_a + 1)
    n = n_a + n_b
    tiesum = sum(t**3 - t for t in by_val.values())
    var = (n_a * n_b / 12.0) * ((n + 1) - tiesum / (n * (n - 1.0)))
    z = _r((u2 - float(n_a) * n_b) / (2.0 * math.sqrt(var)), 6)

    got = QUERIES["q_mann_whitney"].spark(spark, SF_DIR).collect()
    assert len(got) == 1
    g = got[0]
    assert (g.n_a, g.n_b, g.u2) == (n_a, n_b, u2)
    assert g.z == pytest.approx(z, abs=1.5e-6)


def test_ndcg_matches_direct_per_order_computation(spark, con):
    w = {r: 1.0 / math.log2(r + 1) for r in range(1, 6)}
    li = con.sql(
        "SELECT l_orderkey, l_extendedprice, l_linenumber, "
        "CAST(l_quantity AS DOUBLE) FROM lineitem"
    ).fetchall()
    pr = con.sql("SELECT o_orderkey, o_orderpriority FROM orders").fetchall()
    prio = dict(pr)
    orders = collections.defaultdict(list)
    for ok, price, ln, qty in li:
        orders[ok].append((price, ln, qty))

    per_prio = collections.defaultdict(list)
    for ok, lines in orders.items():
        pred = sorted(lines, key=lambda r: (-r[0], r[1]))[:5]
        ideal = sorted(lines, key=lambda r: (-r[2], r[1]))[:5]
        dcg = float(
            sum(_dec10(r[2] * w[i + 1]) for i, r in enumerate(pred)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        idcg = float(
            sum(_dec10(r[2] * w[i + 1]) for i, r in enumerate(ideal)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        per_prio[prio[ok]].append(_r(dcg / idcg, 6))

    want = {}
    for p, vals in per_prio.items():
        s = sum(_dec10(v) for v in vals).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
        want[p] = (len(vals), _r(float(s) / len(vals), 6))

    got = {
        r.priority: (r.n_orders, r.avg_ndcg)
        for r in QUERIES["q_ndcg"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for p in want:
        assert got[p][0] == want[p][0]
        assert got[p][1] == pytest.approx(want[p][1], abs=1.5e-6)
    # sanity: nDCG is a proper score in (0, 1]
    assert all(0 < v <= 1 for _, v in got.values())


def test_class_metrics_match_python_centroid_classifier(spark, con):
    rows = con.sql("SELECT vec_id, embedding, label FROM embeddings").fetchall()
    dims = len(rows[0][1])
    # per-label exact-decimal centroid, rounded to 6dp like both engines
    sums = collections.defaultdict(lambda: [Decimal(0)] * dims)
    counts = collections.Counter()
    for _, emb, lab in rows:
        counts[lab] += 1
        s = sums[lab]
        for i, x in enumerate(emb):
            s[i] += _dec10(float(x))
    cent = {
        lab: [_r(float(s[i]) / counts[lab], 6) for i in range(dims)]
        for lab, s in sums.items()
    }
    # nearest centroid by 6dp-rounded squared L2, sequential fold order
    pred = {}
    for vid, emb, lab in rows:
        best = None
        for clab in sorted(cent):
            acc = 0.0
            for x, c in zip(emb, cent[clab]):
                dx = float(x) - c
                acc += dx * dx
            d2 = _r(acc, 6)
            if best is None or (d2, clab) < best:
                best = (d2, clab)
        pred[vid] = (lab, best[1])

    want = {}
    for k in sorted(counts):
        tp = sum(1 for a, p in pred.values() if p == k and a == k)
        fp = sum(1 for a, p in pred.values() if p == k and a != k)
        fn = sum(1 for a, p in pred.values() if a == k and p != k)
        want[k] = (tp, fp, fn)

    got = {r.label: r for r in QUERIES["q_class_metrics"].spark(spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for k, (tp, fp, fn) in want.items():
        g = got[k]
        assert (g.tp, g.fp, g.fn) == (tp, fp, fn)
        assert g.precision_ == pytest.approx(_r(tp / (tp + fp), 6), abs=1e-9) if tp + fp else g.precision_ is None
        assert g.recall_ == pytest.approx(_r(tp / (tp + fn), 6), abs=1e-9) if tp + fn else g.recall_ is None
    # the classifier must beat chance (10 balanced classes → 0.10) on
    # its own training set for the fixture to be a useful probe; the
    # synthetic embeddings are only weakly clustered (~0.37 observed)
    total = sum(counts.values())
    correct = sum(1 for a, p in pred.values() if a == p)
    assert correct / total > 0.2


def test_table_checksum_matches_hashlib_and_ignores_order(spark, con):
    rows = con.sql(
        "SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, "
        "CAST(l_quantity AS BIGINT), strftime(l_shipdate, '%Y-%m-%d'), "
        "EXTRACT(year FROM l_shipdate) FROM lineitem"
    ).fetchall()
    acc = collections.defaultdict(lambda: [0, 0, 0])  # n, sum, xor
    for ok, ln, rf, ls, qty, sd, yr in rows:
        s = f"{ok}|{ln}|{rf}|{ls}|{qty}|{sd}"
        h = int(hashlib.md5(s.encode()).hexdigest()[:10], 16)
        a = acc[int(yr)]
        a[0] += 1
        a[1] = (a[1] + h) % (1 << 62)
        a[2] ^= h
    got = {
        r.ship_year: (r.n_rows, r.sum_h, r.xor_h)
        for r in QUERIES["q_table_checksum"].spark(spark, SF_DIR).collect()
    }
    want = {y: tuple(a) for y, a in acc.items()}
    assert got == want
    assert len(got) >= 2  # fixture spans multiple ship years


def test_bollinger_matches_rolling_loop(spark, con):
    rows = con.sql(
        "SELECT user_id, event_id, ts, value FROM events ORDER BY user_id, ts, event_id"
    ).fetchall()
    series = collections.defaultdict(list)
    for uid, eid, ts, v in rows:
        series[uid].append((eid, float(v)))
    want = {}
    for uid, evs in series.items():
        for i in range(6, len(evs)):
            window = [v for _, v in evs[i - 6 : i + 1]]
            s1 = float(
                sum(_dec10(v) for v in window).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            s2 = float(
                sum(_dec10(v * v) for v in window).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            var = max((s2 - s1 * s1 / 7.0) / 6.0, 0.0)
            sd = math.sqrt(var)
            mid = _r(s1 / 7.0, 6)
            breakout = _r(window[-1] - s1 / 7.0 - 2.0 * sd, 6) > 0
            want[(uid, evs[i][0])] = (mid, _r(sd, 6), breakout)

    got = {
        (r.user_id, r.event_id): (r.mid, r.sd, r.breakout)
        for r in QUERIES["q_bollinger"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == pytest.approx(want[k][0], abs=1.5e-6)
        assert got[k][1] == pytest.approx(want[k][1], abs=1.5e-6)
        assert got[k][2] == want[k][2]
    # the 2-sigma band should flag a small but nonzero fraction
    n_break = sum(1 for v in got.values() if v[2])
    assert 0 < n_break < len(got) * 0.2
