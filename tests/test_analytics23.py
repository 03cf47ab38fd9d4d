"""Independent proofs for the round-4 training-prep / rank-statistics /
graph sweep (operators/llm.py, corpus.py, hypothesis.py, graph.py):
the epoch shuffle must be a deterministic permutation, sentence stats
are re-derived by a plain string loop, Spearman is checked against a
naive full-sort average-rank computation, and link prediction against
a Python neighborhood scan of the shared sim-graph replica."""

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


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in ("documents", "lineitem"):
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c


def test_epoch_shuffle_is_a_deterministic_permutation(spark, con):
    rows = QUERIES["q_epoch_shuffle"].spark(spark, SF_DIR).collect()
    n_docs = con.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    # every document exactly once
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    # positions are contiguous 1..n within each shard
    by_shard = collections.defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # shard assignment and within-shard order match the md5 spec
    for r in rows[:50]:
        k = hashlib.md5(f"{r.doc_id}:7".encode()).hexdigest()
        assert r.shard == int(k[:2], 16) % 256
    # deterministic: a second run reproduces every position
    again = {
        (r.doc_id): (r.shard, r.pos)
        for r in QUERIES["q_epoch_shuffle"].spark(spark, SF_DIR).collect()
    }
    assert {r.doc_id: (r.shard, r.pos) for r in rows} == again
    # it is actually shuffled: doc_id order differs from position order
    one_shard = max(by_shard, key=lambda s: len(by_shard[s]))
    ids_in_pos_order = [
        r.doc_id for r in sorted(rows, key=lambda r: (r.shard, r.pos))
        if r.shard == one_shard
    ]
    assert ids_in_pos_order != sorted(ids_in_pos_order)


def test_sentence_stats_match_string_loop(spark, con):
    docs = con.sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    ).fetchall()
    want = {}
    for doc_id, text in docs:
        ss = [s for s in text.split(". ") if s != ""]
        if not ss:
            continue
        words = [len([w for w in s.split(" ") if w != ""]) for s in ss]
        want[doc_id] = (
            len(ss),
            max(len(s) for s in ss),
            _r6(sum(words) / len(ss)),
        )
    got = {
        r.doc_id: (r.n_sentences, r.max_sentence_chars, r.avg_sentence_words)
        for r in QUERIES["q_sentence_stats"].spark(spark, SF_DIR).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == want[k][1]
        assert got[k][2] == pytest.approx(want[k][2], abs=1.5e-6)


def test_spearman_equals_naive_average_ranks(spark, con):
    rows = con.sql(
        "SELECT l_quantity, l_extendedprice FROM lineitem"
    ).fetchall()

    def avg_ranks(vals):
        cnt = collections.Counter(vals)
        ranks = {}
        pos = 0
        for v in sorted(cnt):
            t = cnt[v]
            ranks[v] = pos + (t + 1) / 2.0
            pos += t
        return ranks

    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    ra = [rx[v] for v in xs]
    rb = [ry[v] for v in ys]
    n = len(rows)
    sa, sb = sum(ra), sum(rb)
    sab = sum(a * b for a, b in zip(ra, rb))
    saa = sum(a * a for a in ra)
    sbb = sum(b * b for b in rb)
    rho = (n * sab - sa * sb) / math.sqrt(
        (n * saa - sa * sa) * (n * sbb - sb * sb)
    )

    got = QUERIES["q_spearman"].spark(spark, SF_DIR).collect()
    assert len(got) == 1
    assert got[0].n == n
    assert got[0].rho == pytest.approx(rho, abs=1.5e-6)
    # a valid correlation; the synthetic fixture draws quantity and
    # price independently, so the observed value is near zero
    assert -1.0 <= got[0].rho <= 1.0
    assert abs(got[0].rho) < 0.2


def test_link_predict_equals_python_neighborhood_scan(spark, sim_graph):
    edges, _ = sim_graph
    neigh = collections.defaultdict(set)
    for a, b in edges:
        neigh[a].add(b)
        neigh[b].add(a)
    scores = {}
    nodes = sorted(neigh)
    for i, a in enumerate(nodes):
        for c in nodes[i + 1 :]:
            if (a, c) in edges:
                continue
            cn = len(neigh[a] & neigh[c])
            if cn == 0:
                continue
            scores[(a, c)] = (
                cn,
                _r6(cn / (len(neigh[a]) + len(neigh[c]) - cn)),
            )
    top = sorted(scores.items(), key=lambda kv: (-kv[1][1], kv[0]))[:20]
    want = [(a, c, cn, j) for (a, c), (cn, j) in top]

    got = [
        (r.a, r.c, r.common_neighbors, r.jaccard)
        for r in QUERIES["q_link_predict"].spark(spark, SF_DIR).collect()
    ]
    assert got == want
    assert len(got) == 20
    # none of the predicted links may already be edges
    assert all((a, c) not in edges for a, c, _, _ in got)
