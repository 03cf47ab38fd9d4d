"""Streaming exhibits that run a real stream inside a batch query:
the RocksDB state store, a query listener, a Python streaming sink,
the state data source and the checkpoint offset/commit ledger. Each
drains its stream, then returns a frame the oracle can check.

Reference anchor: the offset bookkeeping of
KafkaDirectStream.scala:57-109, carried by the checkpoint.
"""

from __future__ import annotations

import json
import pathlib
import threading
import uuid

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import scratch_dir, session_confs
from direct_kafka_stream_spark.exprs import OUT_SCALE, dsum_sql
from direct_kafka_stream_spark.registry import query
from direct_kafka_stream_spark.sources.files import (
    PROVIDER_CONF,
    ROCKSDB_PROVIDER,
    event_type_totals,
    events_schema,
    file_stream,
    stage_events,
)
from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger
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


# ---------------------------------------------------------------------------
# q_stream_state_reader — state data source over a live checkpoint
# ---------------------------------------------------------------------------


@query(
    "q_stream_state_reader",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {dsum_sql('value')} AS total
    FROM events GROUP BY event_type
    """,
    tags=("streaming", "state", "engine"),
)
def q_stream_state_reader(spark: SparkSession, d: str):
    """Spark 4 STATE DATA SOURCE: after a stateful streaming
    aggregation drains, its checkpoint's state store is opened as a
    batch DataFrame — ``spark.read.format("statestore").load(ckpt)``
    exposes one row per live key as (key struct, value struct,
    partition_id), where the value struct is the aggregation BUFFER
    (count, decimal sum, isEmpty for sum's null tracking). The final
    projection applied here (round to the shared output scale, cast
    double) is exactly what the streaming query's own output stage
    would do, so the state read must hash-match the plain batch
    aggregate — the oracle.

    Why it matters at 100 TB: state stores behind big streaming jobs
    hold 100 M+ keys; this reader is how you audit, repair, or migrate
    that state WITHOUT replaying the source — the capability the
    reference's external ZooKeeper ledger (KafkaDirectStream.scala:
    84-105) was a 115-line approximation of. The companion
    ``state-metadata`` format is read too and gated loudly: exactly
    one stateful operator, whose committed batch range must cover
    every staged micro-batch.

    Scale: the state read is partition-parallel over the store's
    shuffle partitions; output is one row per live key (bounded by
    |event_type| here)."""
    scratch = scratch_dir("statereader")
    n_files = 2
    src = stage_events(spark, d, n_files=n_files)
    ckpt = f"{scratch}/ckpt"
    agg = event_type_totals(
        file_stream(spark, src, events_schema(), max_files_per_trigger=1)
    )
    # noop sink: the exhibit reads STATE, not sink output, so nothing
    # need land anywhere — the checkpoint is the product
    drain(agg.writeStream.format("noop").outputMode("update"), ckpt)

    meta = spark.read.format("state-metadata").load(ckpt).collect()
    if len(meta) != 1:
        raise RuntimeError(
            f"expected exactly one stateful operator in {ckpt}, got "
            f"{[(m.operatorId, m.operatorName) for m in meta]}"
        )
    # every staged micro-batch must be covered by the store's committed
    # range — a short range means a batch's state never became durable.
    # The batch count comes from the FULL ledger audit (contiguity,
    # commits==offsets), not a bare commit-file count, so a commit-log
    # hole is diagnosed as the offset-ledger fault it is rather than
    # skewing this gate's arithmetic.
    n_batches = len(read_stream_ledger(ckpt)["batches"])
    if not (meta[0].minBatchId <= 0 and meta[0].maxBatchId == n_batches - 1):
        raise RuntimeError(
            f"state batch range [{meta[0].minBatchId}, {meta[0].maxBatchId}] "
            f"does not cover the {n_batches} committed batches"
        )

    st = spark.read.format("statestore").load(ckpt)
    # value.isEmpty is sum's internal has-no-input flag; with count>0
    # per key it must be false everywhere — true would mean a key was
    # created without ever folding a row into the buffer
    if st.filter(F.col("value.isEmpty")).limit(1).count() > 0:
        raise RuntimeError("state store holds a key with an empty sum buffer")
    return st.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n"),
        F.round(F.col("value.sum"), OUT_SCALE).cast("double").alias("total"),
    )


# ---------------------------------------------------------------------------
# q_stream_offset_log — the checkpoint's offset/commit ledger, audited
# ---------------------------------------------------------------------------


@query(
    "q_stream_offset_log",
    oracle="""
    SELECT CAST(3 AS BIGINT) AS n_batches,
           CAST(3 AS BIGINT) AS n_commits,
           CAST(3 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS total_rows
    FROM events
    """,
    tags=("streaming", "offsets", "engine"),
)
def q_stream_offset_log(spark: SparkSession, d: str):
    """The checkpoint OFFSET/COMMIT LEDGER read back and audited — the
    engine-native rendition of the reference's whole purpose. The
    reference wrote the sink, then persisted ``topic:partition:offset``
    to ZooKeeper, and on restart rebuilt ``fromOffsets`` from that
    store (KafkaDirectStream.scala:84-105); Structured Streaming keeps
    the same two-phase ledger in the checkpoint itself: ``offsets/<N>``
    before batch N runs, ``commits/<N>`` after it durably completes,
    ``sources/0/<N>`` pinning exactly which files batch N consumed.

    A 3-file source streamed with maxFilesPerTrigger=1 yields exactly
    3 micro-batches. The ledger is then parsed (``read_stream_ledger``)
    and every exactly-once invariant enforced loudly; finally each
    batch's input files are re-read BATCH-side and the recounted total
    must equal the source row count — rows neither lost nor doubled,
    which is the identity the oracle checks (the 3s are structural:
    staging guarantees the batch count).

    Scale: the ledger is KBs per micro-batch regardless of data size
    (driver parse is O(batches)); the audit recount is an ordinary
    distributed parquet scan of the assigned files."""
    scratch = scratch_dir("offsetlog")
    n_files = 3
    src = stage_events(spark, d, n_files=n_files)
    ckpt = f"{scratch}/ckpt"
    out = f"{scratch}/out"
    rows = file_stream(
        spark, src, events_schema(), max_files_per_trigger=1
    ).select("event_id", "event_type")
    # file sink, not memory: sink contents stay executor-side
    drain(
        rows.writeStream.format("parquet").option("path", out), ckpt
    )

    ledger = read_stream_ledger(ckpt)
    # Path.as_uri() percent-encodes exactly like the URIs Spark records
    # in sources/0 — an f"file://{p}" spelling would spuriously mismatch
    # on any scratch path containing a space or '%'.
    staged = {
        p.as_uri() for p in pathlib.Path(src).glob("*.parquet")
    }
    assigned = set(ledger["files"])
    if assigned != staged:
        raise RuntimeError(
            f"ledger covers {len(assigned)} files, staged {len(staged)}: "
            f"missing={sorted(staged - assigned)} "
            f"extra={sorted(assigned - staged)}"
        )
    # audit recount: re-read the batches' assigned inputs batch-side;
    # distributed scan, nothing data-sized on the driver
    total = (
        spark.read.schema(events_schema())
        .parquet(*sorted(ledger["files"]))
        .count()
        if ledger["files"]
        else 0
    )
    return spark.createDataFrame(
        [(len(ledger["batches"]), len(ledger["commits"]), len(assigned), total)],
        "n_batches bigint, n_commits bigint, n_files bigint, total_rows bigint",
    )
