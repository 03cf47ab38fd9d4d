"""Independent brute-force proofs for the round-4 graph/linkage/stats
sweep (operators/graph.py, hypothesis.py, profiling.py, features.py).
The similarity-graph checks replicate the sign-LSH bucket and the
Spark fold-order cosine in plain Python, so edge membership is
reproduced bit-exactly; the k-core check peels UNBOUNDED (until
fixpoint) to prove the fixed 4-round unrolling is enough on the
fixture; the stats checks re-derive Welch and MI from raw counts
without SQL."""

from __future__ import annotations

import collections
import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pytest

from direct_kafka_stream_spark import QUERIES

from tests.conftest import SF_DIR


def _r6(x: float) -> float:
    return float(Decimal(x).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))


def _dec10(x: float) -> Decimal:
    return Decimal(x).quantize(Decimal(1).scaleb(-10), rounding=ROUND_HALF_UP)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("events", "embeddings", "documents"):
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_kcore_equals_unbounded_python_peel(spark, sim_graph):
    edges, _ = sim_graph
    cur = set(edges)
    while True:
        deg = collections.Counter()
        for a, b in cur:
            deg[a] += 1
            deg[b] += 1
        keep = {n for n, dg in deg.items() if dg >= 2}
        nxt = {(a, b) for a, b in cur if a in keep and b in keep}
        if nxt == cur:
            break
        cur = nxt
    deg = collections.Counter()
    for a, b in cur:
        deg[a] += 1
        deg[b] += 1
    want = {n: dg for n, dg in deg.items() if dg >= 2}

    got = {
        r.vec_id: r.core_degree
        for r in QUERIES["q_kcore"].spark(spark, SF_DIR).collect()
    }
    assert got == want
    assert want, "fixture 2-core should be non-empty"
    # peeling must actually remove something, or the op is a no-op probe
    assert len(cur) < len(edges)


def test_mutual_best_equals_bruteforce_reciprocal_nn(spark, sim_graph):
    _, sims = sim_graph
    # directed candidate sims within buckets (both directions)
    neigh = collections.defaultdict(list)
    for (a, b), c in sims.items():
        neigh[a].append((c, b))
        neigh[b].append((c, a))
    best = {}
    for n, cands in neigh.items():
        # highest cosine, then smaller neighbor id
        best[n] = max(cands, key=lambda t: (t[0], -t[1]))[1]
    want = {}
    for a, b in best.items():
        if best.get(b) == a and a < b:
            want[(a, b)] = sims[(a, b)]
    got = {
        (r.a, r.b): r.cos
        for r in QUERIES["q_mutual_best"].spark(spark, SF_DIR).collect()
    }
    assert got == want
    assert want, "fixture should contain at least one reciprocal pair"


def test_welch_ttest_matches_direct_moments(spark, con):
    def moments(etype):
        vals = [
            float(v)
            for (v,) in con.sql(
                f"SELECT value FROM events WHERE event_type = '{etype}'"
            ).fetchall()
        ]
        n = len(vals)
        s1 = float(
            sum(_dec10(v) for v in vals).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        s2 = float(
            sum(_dec10(v * v) for v in vals).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        return n, s1, s2

    na, s1a, s2a = moments("view")
    nb, s1b, s2b = moments("error")
    va = ((s2a - s1a * s1a / na) / (na - 1)) / na
    vb = ((s2b - s1b * s1b / nb) / (nb - 1)) / nb
    t = (s1a / na - s1b / nb) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (va**2 / (na - 1) + vb**2 / (nb - 1))

    rows = QUERIES["q_welch_ttest"].spark(spark, SF_DIR).collect()
    assert len(rows) == 1
    g = rows[0]
    assert (g.n_a, g.n_b) == (na, nb)
    assert g.mean_a == pytest.approx(_r6(s1a / na), abs=1e-9)
    assert g.mean_b == pytest.approx(_r6(s1b / nb), abs=1e-9)
    assert g.t == pytest.approx(t, abs=1.5e-6)
    assert g.df == pytest.approx(df, abs=1.5e-6)
    # Welch df must sit between min(n)-1 and n_a+n_b-2
    assert min(na, nb) - 1 <= g.df <= na + nb - 2


def test_hist2d_cells_and_shares_are_consistent(spark, con):
    rows = QUERIES["q_hist2d"].spark(spark, SF_DIR).collect()
    total = con.sql("SELECT COUNT(*) FROM events").fetchone()[0]
    assert sum(r.n for r in rows) == total
    by_hour = collections.defaultdict(list)
    for r in rows:
        by_hour[r.hour_of_day].append(r)
    for hour, cells in by_hour.items():
        assert sum(c.hour_share for c in cells) == pytest.approx(1.0, abs=1e-4)
    # spot-check one cell against a direct count
    r0 = max(rows, key=lambda r: r.n)
    direct = con.sql(
        f"SELECT COUNT(*) FROM events WHERE EXTRACT(hour FROM ts) = {r0.hour_of_day} "
        f"AND floor(value / 20.0) = {r0.vbin}"
    ).fetchone()[0]
    assert r0.n == direct


def test_mutual_info_matches_direct_computation(spark, con):
    docs = con.sql("SELECT doc_id, text, lang FROM documents").fetchall()
    n = len(docs)
    lang_n = collections.Counter(lang for _, _, lang in docs)
    df = collections.Counter()
    tok_lang = collections.Counter()
    for _, text, lang in docs:
        if text is None:
            continue
        toks = {t for t in text.split(" ") if t}
        for t in toks:
            df[t] += 1
            tok_lang[(t, lang)] += 1
    top = sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:20]

    want = {}
    for tok, d in top:
        terms = []
        for lang, nl in lang_n.items():
            n11 = tok_lang.get((tok, lang), 0)
            n01 = nl - n11
            s = 0.0
            if n11 > 0:
                s += (n11 / n) * math.log((n11 * n) / (d * nl))
            if n01 > 0:
                s += (n01 / n) * math.log((n01 * n) / ((n - d) * nl))
            terms.append(s)
        mi = float(
            sum(_dec10(t) for t in terms).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )
        want[tok] = (d, mi)

    got = {
        r.token: (r.df, r.mi)
        for r in QUERIES["q_mutual_info"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for tok, (d, mi) in want.items():
        assert got[tok][0] == d
        assert got[tok][1] == pytest.approx(mi, abs=1.5e-6)
    # MI is non-negative up to rounding slack
    assert all(v[1] >= -1e-6 for v in got.values())
