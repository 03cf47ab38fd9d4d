"""Spark 4 Python DataSource V2: a deterministic synthetic batch
source (``format("dks_synthetic")``) demonstrating the pure-Python
connector surface — schema declaration, input-partition planning, and
executor-side row generation — without any JVM code.

The reader is the template for Python-reachable systems (REST
endpoints, vector stores, bespoke formats): ``partitions()`` returns
the split plan the scheduler parallelizes over, and each ``read``
call runs ON AN EXECUTOR, yielding tuples that Spark assembles into
Arrow batches. State passed to readers must be picklable.

Driven by q_python_datasource (operators/engine.py), whose
DuckDB range() oracle reproduces the deterministic generator exactly.

Round 8 adds the STREAMING WRITER half (JsonlSinkDataSource /
JsonlStreamWriter): a two-phase-commit JSONL sink — stage
executor-side, publish atomically driver-side per batchId — driven by
q_stream_pyds_write (operators/stream_exhibits.py) and the protocol tests
in tests/test_stream_machinery.py.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class SyntheticReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.num_parts = int(options.get("partitions", "4"))

    def partitions(self):
        step = max(1, -(-self.n // self.num_parts))  # ceil division
        return [
            _RangePartition(lo, min(lo + step, self.n))
            for lo in range(0, self.n, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (i, (i * i) % 97)


class SyntheticDataSource(DataSource):
    """``spark.read.format("dks_synthetic").option("n", ...).load()``"""

    @classmethod
    def name(cls) -> str:
        return "dks_synthetic"

    def schema(self) -> str:
        return "i bigint, checksum bigint"

    def reader(self, schema) -> SyntheticReader:
        return SyntheticReader(self.options)

    def simpleStreamReader(self, schema) -> "SyntheticStreamReader":
        return SyntheticStreamReader(self.options)


class SyntheticStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch reader: each poll emits the next ``batch_size`` ids
    until ``n`` is exhausted — offsets are plain dicts checkpointed by
    the engine, ``readBetweenOffsets`` replays deterministically on
    recovery (the replayable-source contract Kafka fulfills with
    offsets; KafkaDirectStream.scala:84-105 hand-rolled the same thing
    in ZooKeeper)."""

    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.batch_size = int(options.get("batchSize", "100"))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        # iter(list), not a generator: the engine prefetches with
        # next() AND copy.copy()s the cached iterator between planning
        # and execution — list iterators support both, generators don't
        lo = int(start["pos"])
        hi = min(lo + self.batch_size, self.n)
        return (iter([(i, (i * i) % 97) for i in range(lo, hi)]), {"pos": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(
            [
                (i, (i * i) % 97)
                for i in range(int(start["pos"]), int(end["pos"]))
            ]
        )

    def commit(self, end: dict) -> None:
        pass


# ---------------------------------------------------------------------------
# Python DataSource STREAMING WRITER: a JSONL sink with a real
# two-phase commit (stage executor-side, publish driver-side)
# ---------------------------------------------------------------------------


class _StagedFile(WriterCommitMessage):
    """Per-partition commit message: the staged temp file + row count.
    Must be picklable — it travels executor → driver."""

    def __init__(self, tmp_path: str, rows: int):
        self.tmp_path = tmp_path
        self.rows = rows


class JsonlStreamWriter(DataSourceStreamWriter):
    """Exactly-once-per-batch sink protocol, the Python rendition of
    the V2 writer contract: each task WRITES to an invisible staging
    file and returns a commit message; only the driver's commit()
    atomically publishes the batch (rename + manifest), and abort()
    discards the staging files — so a failed/retried task never leaves
    partial output visible. The reference committed Kafka offsets to
    ZooKeeper only after the batch's sink write returned
    (KafkaDirectStream.scala:96-105); this is that ordering, executed
    by the engine instead of hand-rolled."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dks_jsonl_sink requires option 'path'")

    def write(self, iterator):
        os.makedirs(f"{self.path}/_staging", exist_ok=True)
        tmp = f"{self.path}/_staging/{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _StagedFile(tmp, n)

    def commit(self, messages, batchId) -> None:
        # idempotent under batch REPLAY (the engine may retry a batch
        # after a failure, possibly with a different partition count):
        # drop any files a previous attempt of this batchId published,
        # so the replay REPLACES rather than accumulates
        import glob as _glob

        for stale in _glob.glob(f"{self.path}/batch-{batchId}-*.jsonl"):
            os.remove(stale)
        total = 0
        for i, m in enumerate(messages):
            if m is None or m.rows == 0:
                if m is not None:
                    os.remove(m.tmp_path)
                continue
            os.replace(m.tmp_path, f"{self.path}/batch-{batchId}-{i}.jsonl")
            total += m.rows
        with open(f"{self.path}/_commit-{batchId}.json", "w") as fh:
            json.dump({"batchId": batchId, "rows": total}, fh)

    def abort(self, messages, batchId) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)


class JsonlSinkDataSource(DataSource):
    """``df.writeStream.format("dks_jsonl_sink").option("path", ...)``"""

    @classmethod
    def name(cls) -> str:
        return "dks_jsonl_sink"

    def streamWriter(self, schema, overwrite: bool) -> JsonlStreamWriter:
        return JsonlStreamWriter(self.options)
