"""Independent proofs for the round-5 batch-3 sweep (operators/hypothesis.py,
corpus.py, timeseries.py, models.py):
Levene/Cohen's d/Cramér's V against textbook Python computations,
c-TF-IDF and hapax against direct censuses, Heaps' law against a
sequential vocabulary scan, burstiness against daily-count moments,
RAKE against a pure-Python phrase splitter, and the logistic Newton
step against a NumPy IRLS iteration."""

from __future__ import annotations

import collections
import math
import re

import duckdb
import numpy as np
import pytest

from direct_kafka_stream_spark import QUERIES

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("events", "documents", "lineitem"):
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield c
    c.close()


def test_levene_matches_textbook(spark, con):
    rows = con.sql("SELECT event_type, value FROM events").fetchall()
    groups = collections.defaultdict(list)
    for t, v in rows:
        groups[t].append(v)
    zg = {}
    for t, vals in groups.items():
        med = float(np.percentile(vals, 50))
        zg[t] = [abs(v - med) for v in vals]
    n = sum(len(g) for g in zg.values())
    k = len(zg)
    grand = sum(sum(g) for g in zg.values()) / n
    ssb = sum(len(g) * (sum(g) / len(g) - grand) ** 2 for g in zg.values())
    ssw = sum(
        sum((x - sum(g) / len(g)) ** 2 for x in g) for g in zg.values()
    )
    w = (ssb / (k - 1)) / (ssw / (n - k))
    got = QUERIES["q_levene"].spark(spark, SF_DIR).collect()[0]
    assert got.k == k and got.n == n
    assert got.w_stat == pytest.approx(w, rel=1e-5)


def test_cohens_d_matches_textbook(spark, con):
    rows = con.sql(
        "SELECT event_type, value FROM events "
        "WHERE event_type IN ('click', 'purchase')"
    ).fetchall()
    a = [v for t, v in rows if t == "click"]
    b = [v for t, v in rows if t == "purchase"]
    ma, mb = sum(a) / len(a), sum(b) / len(b)
    va = sum((x - ma) ** 2 for x in a)
    vb = sum((x - mb) ** 2 for x in b)
    pooled = math.sqrt((va + vb) / (len(a) + len(b) - 2))
    got = QUERIES["q_cohens_d"].spark(spark, SF_DIR).collect()[0]
    assert (got.n_a, got.n_b) == (len(a), len(b))
    assert got.mean_diff == pytest.approx(ma - mb, abs=1e-4)
    assert got.cohens_d == pytest.approx((ma - mb) / pooled, abs=1e-5)


def test_cramers_v_matches_full_grid(spark, con):
    rows = con.sql(
        "SELECT event_type, CAST(FLOOR(value / 50.0) AS BIGINT) FROM events"
    ).fetchall()
    obs = collections.Counter(rows)
    rowm = collections.Counter(t for t, _ in rows)
    colm = collections.Counter(b for _, b in rows)
    n = len(rows)
    chi2 = 0.0
    for t in rowm:
        for b in colm:
            e = rowm[t] * colm[b] / n
            o = obs.get((t, b), 0)
            chi2 += (o - e) ** 2 / e
    v = math.sqrt(chi2 / (n * min(len(rowm) - 1, len(colm) - 1)))
    got = QUERIES["q_cramers_v"].spark(spark, SF_DIR).collect()[0]
    assert got.n == n and got.r == len(rowm) and got.c == len(colm)
    assert got.chi2 == pytest.approx(chi2, rel=1e-5)
    assert got.cramers_v == pytest.approx(v, abs=1e-5)
    assert 0.0 <= got.cramers_v <= 1.0


def test_ctfidf_terms_match_python(spark, con):
    rows = con.sql("SELECT lang, text FROM documents").fetchall()
    cw = collections.Counter()
    for lang, text in rows:
        for w in text.split(" "):
            if w:
                cw[(lang, w)] += 1
    fw = collections.Counter()
    for (lang, w), c in cw.items():
        fw[w] += c
    cl = collections.Counter()
    for (lang, w), c in cw.items():
        cl[lang] += c
    a = round(sum(cl.values()) / len(cl), 6)
    scored = collections.defaultdict(list)
    for (lang, w), c in cw.items():
        if fw[w] >= 5:
            s = round((c / cl[lang]) * round(math.log(1.0 + a / fw[w]), 9), 9)
            scored[lang].append((s, w))
    want = {}
    for lang, items in scored.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rank, (s, w) in enumerate(items[:5], 1):
            want[(lang, w)] = (rank, s)
    got = {
        (r.lang, r.word): (r.rank, r.score)
        for r in QUERIES["q_ctfidf_terms"].spark(spark, SF_DIR).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=2e-9)


def test_hapax_matches_census(spark, con):
    rows = con.sql("SELECT source, text FROM documents").fetchall()
    per = collections.defaultdict(collections.Counter)
    for src, text in rows:
        for w in text.split(" "):
            if w:
                per[src][w] += 1
    got = {
        r.source: r for r in QUERIES["q_hapax"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(per)
    for src, counts in per.items():
        r = got[src]
        assert r.n_tokens == sum(counts.values())
        assert r.n_types == len(counts)
        assert r.n_hapax == sum(1 for c in counts.values() if c == 1)
        assert r.hapax_rate == pytest.approx(r.n_hapax / r.n_types, abs=1e-6)
        assert r.type_token_ratio == pytest.approx(
            r.n_types / r.n_tokens, abs=1e-6
        )


def test_heaps_law_matches_sequential_scan(spark, con):
    rows = con.sql(
        "SELECT doc_id, text FROM documents ORDER BY doc_id"
    ).fetchall()
    mx = max(did for did, _ in rows) + 1
    buckets = collections.defaultdict(lambda: [0, set()])
    for did, text in rows:
        b = int((did * 20) / mx)
        toks = [w for w in text.split(" ") if w]
        buckets[b][0] += len(toks)
        buckets[b][1].update(toks)
    seen: set = set()
    t_cum, pts = 0, []
    for b in sorted(buckets):
        nt, words = buckets[b]
        t_cum += nt
        new = len(words - seen)
        seen |= words
        if t_cum > 0 and len(seen) > 0:
            pts.append((math.log(t_cum), math.log(len(seen))))
    xs = np.array([x for x, _ in pts])
    ys = np.array([y for _, y in pts])
    beta, lnk = np.polyfit(xs, ys, 1)
    got = QUERIES["q_heaps_law"].spark(spark, SF_DIR).collect()[0]
    assert got.n_points == len(pts)
    assert got.beta == pytest.approx(beta, abs=1e-4)
    assert got.ln_k == pytest.approx(lnk, abs=1e-3)
    # sublinear growth on natural-ish text
    assert 0.0 < got.beta < 1.0


def test_burstiness_matches_daily_counts(spark, con):
    rows = con.sql(
        "SELECT event_type, CAST(date_trunc('day', ts) AS DATE), COUNT(*) "
        "FROM events GROUP BY 1, 2"
    ).fetchall()
    per = collections.defaultdict(list)
    for t, _, c in rows:
        per[t].append(c)
    got = {
        r.event_type: r
        for r in QUERIES["q_burstiness"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(per)
    for t, cs in per.items():
        mu = sum(cs) / len(cs)
        var = sum((c - mu) ** 2 for c in cs) / len(cs)
        sd = math.sqrt(var)
        r = got[t]
        assert r.n_days == len(cs)
        assert r.mean_daily == pytest.approx(mu, abs=1e-4)
        assert r.fano == pytest.approx(var / mu, abs=1e-4)
        assert r.burstiness == pytest.approx((sd - mu) / (sd + mu), abs=1e-5)
        assert -1.0 < r.burstiness < 1.0


def test_rake_matches_python_splitter(spark, con):
    from direct_kafka_stream_spark.operators.corpus import (
        _RAKE_DELIM,
        _RAKE_MIN_FREQ,
        _RAKE_TOPK,
    )

    rows = con.sql("SELECT text FROM documents").fetchall()
    freq = collections.Counter()
    degree = collections.Counter()
    pat = re.compile(_RAKE_DELIM)
    for (text,) in rows:
        for chunk in pat.split(text.lower()):
            if chunk is None:
                continue
            words = [w for w in chunk.split(" ") if w]
            if not words:
                continue
            for w in words:
                freq[w] += 1
                degree[w] += len(words)
    scores = [
        (round(degree[w] / freq[w], 6), w, freq[w], degree[w])
        for w in freq
        if freq[w] >= _RAKE_MIN_FREQ
    ]
    scores.sort(key=lambda t: (-t[0], t[1]))
    want = [
        (w, f, dg, s) for s, w, f, dg in scores[:_RAKE_TOPK]
    ]
    got = [
        (r.word, r.freq, r.degree, r.score)
        for r in QUERIES["q_rake_keywords"].spark(spark, SF_DIR).collect()
    ]
    # Python re.split with capture groups interleaves group matches;
    # the comparison is on the surviving keyword set and scores
    got_sorted = sorted(got, key=lambda t: (-t[3], t[0]))
    assert got_sorted == sorted(want, key=lambda t: (-t[3], t[0]))


def test_logistic_step_matches_numpy_irls(spark, con):
    rows = con.sql(
        "SELECT l_quantity, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END "
        "FROM lineitem"
    ).fetchall()
    X = np.array([[1.0, q] for q, _ in rows])
    y = np.array([float(v) for _, v in rows])
    # Newton step from beta = 0: p = 0.5, W = 0.25*I
    g = X.T @ (y - 0.5)
    H = 0.25 * (X.T @ X)
    beta = np.linalg.solve(H, g)
    got = QUERIES["q_logistic_step"].spark(spark, SF_DIR).collect()[0]
    assert got.n == len(rows)
    assert got.b0 == pytest.approx(beta[0], abs=1e-4)
    assert got.b1 == pytest.approx(beta[1], abs=1e-4)


def test_cohens_d_degenerate_samples_yield_null(spark, tmp_path):
    """Two constant samples: pooled sd = 0, d undefined — both the
    Spark side and the oracle must return NULL (NULLIF guard), never an
    engine-specific division-by-zero artifact."""
    d = tmp_path / "const_events"
    d.mkdir()
    duckdb.sql(
        f"COPY (SELECT event_id, ts, user_id, "
        f"CASE WHEN event_id % 2 = 0 THEN 'click' ELSE 'purchase' END "
        f"AS event_type, 5.0 AS value, props "
        f"FROM '{SF_DIR}/events.parquet' LIMIT 100) "
        f"TO '{d}/events.parquet' (FORMAT PARQUET)"
    )
    srow = QUERIES["q_cohens_d"].spark(spark, str(d)).collect()[0]
    con2 = duckdb.connect()
    con2.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    orow = con2.execute(QUERIES["q_cohens_d"].oracle).fetchone()
    con2.close()
    assert srow.mean_diff == orow[2] == 0.0
    assert srow.cohens_d is None and orow[3] is None
