"""Round-8 checkpoint-introspection machinery (second batch): the two
engine surfaces that make a Structured Streaming checkpoint AUDITABLE
rather than opaque — the Spark 4 state data source (read a stateful
query's store as a batch DataFrame) and the offset/commit metadata
log (the engine-native rendition of the reference's entire purpose).

Structured Streaming keeps the reference's ZooKeeper offset ledger
(KafkaDirectStream.scala:84-105) in the checkpoint itself; the reader
and its exactly-once audit live in ``streaming/checkpoint.py``.
``q_stream_offset_log`` reads that ledger back and proves the
exactly-once accounting identity the reference could only assert.
``q_stream_state_reader`` does the same for STATE: the store under a
streaming aggregation is opened as a plain DataFrame
(``spark.read.format("statestore")``) and must equal the batch
aggregate — state debugging/migration at 100 TB without replaying the
stream.

Scale: both queries' metadata surfaces are bounded by BATCH COUNT, not
data size (the offset ledger is a few KB per micro-batch; the state
read is one row per live key, partition-parallel over the store's
shards), and the row-count audit is an ordinary distributed parquet
scan. Nothing here collects data-sized results to the driver.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import scratch_dir
from direct_kafka_stream_spark.exprs import _OUT_SCALE, dsum_sql
from direct_kafka_stream_spark.registry import query
from direct_kafka_stream_spark.sources.files import (
    event_type_totals,
    events_schema,
    file_stream,
    stage_events,
)
from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger
from direct_kafka_stream_spark.streaming.pipeline import drain

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
        F.round(F.col("value.sum"), _OUT_SCALE).cast("double").alias("total"),
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
