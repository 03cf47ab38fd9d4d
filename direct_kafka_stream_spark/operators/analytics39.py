"""Round-8 checkpoint-introspection machinery (second batch): the two
engine surfaces that make a Structured Streaming checkpoint AUDITABLE
rather than opaque — the Spark 4 state data source (read a stateful
query's store as a batch DataFrame) and the offset/commit metadata
log (the engine-native rendition of the reference's entire purpose).

The reference hand-rolled offset bookkeeping in ZooKeeper — each
batch it persists the batch's STARTING offsets (``fromOffset``) as
``topic:partition:offset`` strings via a foreachRDD registered ahead
of the processing one, and on restart rebuilds ``fromOffsets`` from
the store (KafkaDirectStream.scala:84-105) — so a crash mid-batch
replays the in-flight batch: at-least-once.
Structured Streaming keeps that same ledger itself: ``offsets/<batch>``
is written BEFORE a micro-batch runs (intent), ``commits/<batch>``
after it durably finishes (completion), and ``sources/0/<batch>``
pins exactly which inputs the batch consumed. ``q_stream_offset_log``
reads that ledger back and proves the exactly-once accounting identity
the reference could only assert. ``q_stream_state_reader`` does the
same for STATE: the store under a streaming aggregation is opened as a
plain DataFrame (``spark.read.format("statestore")``) and must equal
the batch aggregate — state debugging/migration at 100 TB without
replaying the stream.

Scale: both queries' metadata surfaces are bounded by BATCH COUNT, not
data size (the offset ledger is a few KB per micro-batch; the state
read is one row per live key, partition-parallel over the store's
shards), and the row-count audit is an ordinary distributed parquet
scan. Nothing here collects data-sized results to the driver.
"""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import SparkSession, functions as F

from direct_kafka_stream_spark.caching import scratch_dir
from direct_kafka_stream_spark.exprs import _OUT_SCALE, dsum, dsum_sql
from direct_kafka_stream_spark.operators.analytics38 import (
    _run_available_now,
    _stage_events,
)
from direct_kafka_stream_spark.registry import query
from direct_kafka_stream_spark.sources.files import events_schema, file_stream

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
    src = _stage_events(spark, d, n_files=n_files)
    ckpt = f"{scratch}/ckpt"
    agg = (
        file_stream(spark, src, events_schema(), max_files_per_trigger=1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total"),
        )
    )
    # noop sink: the exhibit reads STATE, not sink output, so nothing
    # need land anywhere — the checkpoint is the product
    _run_available_now(agg.writeStream.format("noop").outputMode("update"), ckpt)

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


def _log_ids(log_dir: str) -> list[int]:
    """Batch ids present in one HDFSMetadataLog directory (offsets/,
    commits/, sources/0/) — integer-named files, CRC siblings ignored."""
    p = pathlib.Path(log_dir)
    if not p.is_dir():
        return []
    return sorted(int(f.name) for f in p.iterdir() if f.name.isdigit())


def _log_lines(log_dir: str, batch_id: int) -> list[str]:
    """Payload lines of one log entry (version header stripped,
    loudly — a version this parser doesn't know must not silently
    parse as garbage; a missing entry is an audit failure in its own
    right, not a stray IO error)."""
    try:
        text = pathlib.Path(log_dir, str(batch_id)).read_text()
    except FileNotFoundError:
        raise RuntimeError(
            f"{log_dir}/{batch_id} is missing — the ledger references a "
            "batch whose entry is absent (corruption, or compaction past "
            "this parser's documented scope)"
        ) from None
    lines = text.strip().splitlines()
    if not lines or lines[0] != "v1":
        raise RuntimeError(
            f"{log_dir}/{batch_id}: expected HDFSMetadataLog v1, "
            f"got {lines[:1]!r}"
        )
    return lines[1:]


def read_stream_ledger(ckpt: str) -> dict:
    """Parse a file-source checkpoint's offset/commit/source logs and
    enforce the exactly-once accounting invariants. Returns
    ``{"batches": [ids], "commits": [ids], "files": {path: batch_id}}``.

    Invariants (each raises loudly — a silent pass here is how offset
    bugs ship):
      * batch ids are contiguous from 0 (the engine never skips);
      * after a drained run, every OFFSETS entry (intent) has a
        matching COMMITS entry (completion) — an intent without a
        commit is an in-flight or crashed batch;
      * each offsets/<N> records the source's logOffset N — the file
        source's offset IS the metadata-log index;
      * every input file is assigned to EXACTLY ONE batch in
        sources/0/<N> — a file in two batches is double-processing,
        the failure mode the reference's persisted begin-offset ledger
        (KafkaDirectStream.scala:96-105: ``fromOffset`` saved per
        batch, replayed on restart — at-least-once) existed to bound.

    Scope: single file source, fewer than the source log's compaction
    interval (default 10) batches — past that, the engine replaces
    sources/0/<N> with <N>.compact and this parser fails LOUDLY on
    the missing plain entry (FileNotFoundError) rather than silently
    under-counting. Also NO WATERMARK on the audited query: with a
    watermark, availableNow may append a trailing NO-DATA batch whose
    logOffset repeats the previous one and whose sources/0 entry is
    absent — a valid checkpoint this parser would reject as a ledger
    hole. (All registry callers stream watermark-free projections, so
    the strict logOffset==batchId form is the right audit here.) The
    registry exhibit stages exactly 3 batches."""
    offset_ids = _log_ids(f"{ckpt}/offsets")
    commit_ids = _log_ids(f"{ckpt}/commits")
    if offset_ids != list(range(len(offset_ids))):
        raise RuntimeError(f"offset log has holes: {offset_ids}")
    if commit_ids != offset_ids:
        raise RuntimeError(
            f"uncommitted batches: offsets={offset_ids} commits={commit_ids}"
        )
    files: dict[str, int] = {}
    for b in offset_ids:
        # offsets/<b>: metadata JSON line, then one offset line per
        # source — single file source here, offset {"logOffset": b}
        payload = _log_lines(f"{ckpt}/offsets", b)
        src_offset = json.loads(payload[-1])
        if src_offset.get("logOffset") != b:
            raise RuntimeError(
                f"offsets/{b} records source offset {src_offset}, "
                f"expected logOffset {b}"
            )
        for line in _log_lines(f"{ckpt}/sources/0", b):
            entry = json.loads(line)
            path = entry["path"]
            if entry.get("batchId") != b:
                raise RuntimeError(
                    f"sources/0/{b} entry tagged batchId={entry.get('batchId')}"
                )
            if path in files:
                raise RuntimeError(
                    f"{path} assigned to batches {files[path]} AND {b} — "
                    "double-processing"
                )
            files[path] = b
    return {"batches": offset_ids, "commits": commit_ids, "files": files}


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
    src = _stage_events(spark, d, n_files=n_files)
    ckpt = f"{scratch}/ckpt"
    out = f"{scratch}/out"
    rows = file_stream(
        spark, src, events_schema(), max_files_per_trigger=1
    ).select("event_id", "event_type")
    # file sink, not memory: sink contents stay executor-side
    _run_available_now(
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
