"""Seeded input generation for the benchmark.

The batch tables follow the fixture star schema the registered queries
read (region … lineitem, events, documents, embeddings): the same column
names, parquet types and value domains, drawn fresh from the workload
seed. The stream inputs are event parquet files written on an open-loop
schedule (see ``EventFileGenerator``).

Everything here depends only on numpy and pyarrow; no Spark.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import stats

_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

_DAY_MS = 86_400_000
_EPOCH_1995_MS = int(dt.datetime(1995, 1, 1).timestamp() * 1000) - int(
    dt.datetime(1970, 1, 1).timestamp() * 1000
)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    ms = _EPOCH_1995_MS + rng.integers(0, span_days, n) * _DAY_MS
    return pa.array(ms, type=pa.timestamp("ms"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    i32 = pa.int32()
    region = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(_REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
                )
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, 2404),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line),
            "l_linestatus": rng.choice(("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, 2500),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def _doc_text(rng: np.random.Generator) -> str:
    return " ".join(rng.choice(_WORDS, int(rng.integers(8, 90))))


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Random-word documents with planted exact and near duplicates, so
    the dedup operators have real clusters to find."""
    texts: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:  # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, len(texts)))])
        elif texts and r < 0.20:  # near copy: a few words rewritten
            words = texts[int(rng.integers(0, len(texts)))].split()
            for _ in range(max(1, len(words) // 12)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_doc_text(rng))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.uniform(-0.5, 0.5, (n, dim)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    start_us = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = start_us + np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            # the fixture stores event time as TIMESTAMP(NANOS); io.load_table
            # converts it, so the generated table keeps that physical type
            "ts": pa.array(ts * 1000, type=pa.timestamp("ns")),
            "user_id": rng.integers(0, 150, n),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": _money(rng, n, 0.01, 500.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_fixture(out_dir: str, seed: int, sf: float, n_docs: int) -> dict[str, int]:
    """Write every fixture table as ``<out_dir>/<table>.parquet``;
    returns row counts per table."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    tables["documents"] = documents(rng, n_docs)
    tables["embeddings"] = embeddings(rng, n_docs)
    tables["events"] = events_table(rng, max(1000, int(100_000 * sf)))
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


class EventFileGenerator(threading.Thread):
    """Open-loop event-file generator: file ``i`` is due at
    ``t0 + i * interval_s`` and is written (atomically: write a staging
    file, then rename into the landing directory) as soon as it is due,
    whatever the pipeline is doing. Every row of file ``i`` carries
    ``ts`` = its due time; a ``redeliver_frac`` share of each file's rows
    repeat event_ids already delivered in earlier files (at-least-once
    input). Records each file's due time, landing time and new ids."""

    def __init__(
        self,
        landing: str,
        staging: str,
        seed: int,
        rows_per_file: int,
        interval_s: float,
        redeliver_frac: float = 0.10,
    ):
        super().__init__(daemon=True)
        self.landing, self.staging = landing, staging
        self.rng = np.random.default_rng(seed)
        self.rows, self.interval = rows_per_file, interval_s
        self.redeliver = redeliver_frac
        self.t0 = 0.0
        self.due: list[float] = []  # epoch seconds per landed file
        self.landed_at: list[float] = []
        self.new_ids: list[np.ndarray] = []
        self.file_of_us: dict[int, int] = {}  # ts stamp (µs) → file index
        self._next_id = 0
        self._halt = threading.Event()
        self.error: BaseException | None = None

    @property
    def landed(self) -> int:
        return len(self.landed_at)

    def _file_table(self, due: float) -> pa.Table:
        n_old = int(self.rows * self.redeliver) if self._next_id else 0
        new = np.arange(self._next_id, self._next_id + self.rows - n_old, dtype=np.int64)
        self._next_id += len(new)
        old = self.rng.integers(0, new[0], n_old) if n_old else new[:0]
        ids = np.concatenate([new, old])
        self.new_ids.append(new)
        n = len(ids)
        ts_us = int(round(due * 1e6))
        return pa.table(
            {
                "event_id": ids,
                "ts": pa.array(np.full(n, ts_us), type=pa.timestamp("us", tz="UTC")),
                "user_id": self.rng.integers(0, 150, n),
                "event_type": self.rng.choice(EVENT_TYPES, n),
                "value": _money(self.rng, n, 0.01, 500.0),
                "props": [f'{{"k": {k}}}' for k in self.rng.integers(0, 100, n)],
            }
        )

    def land(self, i: int, due: float) -> None:
        """Write file ``i`` stamped with ``due`` into the landing dir."""
        self.file_of_us[int(round(due * 1e6))] = i
        table = self._file_table(due)
        name = f"part-{i:06d}.parquet"
        tmp = os.path.join(self.staging, name)
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(self.landing, name))
        self.due.append(due)
        self.landed_at.append(time.time())

    def run(self) -> None:
        try:
            # files landed before start_at (history, backlog) keep their
            # indices; the schedule starts with the next one at t0
            i = first = self.landed
            while not self._halt.is_set():
                due = stats.due_time(self.t0, i - first, self.interval)
                wait = due - time.time()
                if wait > 0 and self._halt.wait(wait):
                    break
                self.land(i, due)
                i += 1
        except BaseException as e:  # surfaced by the workload after join
            self.error = e

    def start_at(self, t0: float) -> None:
        self.t0 = t0
        self.start()

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def max_lateness_s(self, first: int = 0) -> float:
        """Largest lateness of the files landed from index ``first`` on."""
        return stats.max_lateness(self.due[first:], self.landed_at[first:])
