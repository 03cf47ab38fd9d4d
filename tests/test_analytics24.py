"""Independent proofs for the round-4 agreement/resampling/graph-quality
sweep (operators/models.py, hypothesis.py, graph.py): Cohen's kappa
against a Python re-derivation of both raters, the delete-one-bucket
jackknife against hashlib bucketing and exact decimal moments, and
modularity against union-find components over the shared sim-graph
replica."""

from __future__ import annotations

import collections
import hashlib
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
    for t in ("documents", "events"):
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_cohens_kappa_matches_python_raters(spark, con):
    docs = con.sql("SELECT text, lang FROM documents").fetchall()
    n = len(docs)
    agree = a_en = b_en = 0
    for text, lang in docs:
        pad = f" {text} "
        ra = any(f" {m} " in pad for m in ("the", "a", "of"))
        rb = lang == "en"
        agree += ra == rb
        a_en += ra
        b_en += rb
    po = agree / n
    pe = (a_en * b_en + (n - a_en) * (n - b_en)) / (n * n)
    kappa = (po - pe) / (1 - pe)

    rows = QUERIES["q_cohens_kappa"].spark(spark, SF_DIR).collect()
    assert len(rows) == 1
    g = rows[0]
    assert g.n == n
    assert g.po == pytest.approx(_r6(po), abs=1e-9)
    assert g.pe == pytest.approx(pe, abs=1.5e-6)
    assert g.kappa == pytest.approx(kappa, abs=1.5e-6)
    # kappa must not exceed raw agreement and must be chance-corrected
    assert g.kappa <= g.po + 1e-9
    assert -1.0 <= g.kappa <= 1.0


def test_jackknife_matches_hashlib_buckets(spark, con):
    rows = con.sql("SELECT event_id, value FROM events").fetchall()
    buckets = collections.defaultdict(lambda: [0, Decimal(0)])
    for eid, v in rows:
        g = int(hashlib.md5(str(eid).encode()).hexdigest()[:2], 16) % 20
        b = buckets[g]
        b[0] += 1
        b[1] += _dec10(float(v))
    n = sum(b[0] for b in buckets.values())
    s = sum((b[1] for b in buckets.values()), Decimal(0))
    k = len(buckets)
    theta = float(s) / n
    thetas = [float(s - b[1]) / (n - b[0]) for b in buckets.values()]
    sum_t = sum(_dec10(t) for t in thetas)
    sum_t2 = sum(_dec10(t * t) for t in thetas)
    se = math.sqrt((k - 1) / k * (float(sum_t2) - float(sum_t) ** 2 / k))

    got = QUERIES["q_jackknife"].spark(spark, SF_DIR).collect()
    assert len(got) == 1
    g = got[0]
    assert (g.n, g.k) == (n, k)
    assert g.mean_value == pytest.approx(_r6(theta), abs=1e-9)
    assert g.jk_se == pytest.approx(se, abs=1.5e-6)
    assert g.ci_lo == pytest.approx(theta - 1.96 * se, abs=2e-6)
    assert g.ci_hi == pytest.approx(theta + 1.96 * se, abs=2e-6)
    assert g.ci_lo < g.mean_value < g.ci_hi
    # all 20 buckets must be populated at fixture scale
    assert k == 20


def test_modularity_matches_union_find(spark, sim_graph):
    edges, _ = sim_graph
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {node: find(node) for node in parent}
    m = len(edges)
    deg = collections.Counter()
    for a, b in edges:
        deg[a] += 1
        deg[b] += 1
    e_c = collections.Counter()
    for a, b in edges:
        if comp[a] == comp[b]:
            e_c[comp[a]] += 1
    d_c = collections.Counter()
    for node, dg in deg.items():
        d_c[comp[node]] += dg
    terms = [
        e_c.get(c, 0) / m - (d_c[c] / (2 * m)) ** 2 for c in d_c
    ]
    q = float(
        sum(_dec10(t) for t in terms).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP
        )
    )

    got = QUERIES["q_modularity"].spark(spark, SF_DIR).collect()
    assert len(got) == 1
    g = got[0]
    assert g.n_edges == m
    assert g.n_components == len(d_c)
    assert g.modularity == pytest.approx(q, abs=1.5e-6)
    # a components partition has no inter-component edges, so Q must be
    # strictly positive unless the graph is one giant component
    if g.n_components > 1:
        assert g.modularity > 0
