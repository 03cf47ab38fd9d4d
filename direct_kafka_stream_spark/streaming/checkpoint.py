"""Reading a Structured Streaming checkpoint back: the offset/commit
ledger and the state store.

The reference hand-rolled offset bookkeeping in ZooKeeper — each
batch it persists the batch's STARTING offsets (``fromOffset``) as
``topic:partition:offset`` strings via a foreachRDD registered ahead
of the processing one, and on restart rebuilds ``fromOffsets`` from
the store (KafkaDirectStream.scala:84-105) — so a crash mid-batch
replays the in-flight batch: at-least-once.
Structured Streaming keeps that same ledger itself: ``offsets/<batch>``
is written BEFORE a micro-batch runs (intent), ``commits/<batch>``
after it durably finishes (completion), and ``sources/0/<batch>``
pins exactly which inputs the batch consumed. A file sink's
``_spark_metadata/<batch>`` is the same log format.

This module is the one place that knows the on-disk layout of those
HDFSMetadataLog directories: digit-named entries, a ``v1`` header, and
one JSON payload per line.
"""

from __future__ import annotations

import json
import pathlib

from pyspark.sql import SparkSession


def log_ids(log_dir: str) -> list[int]:
    """Batch ids present in one HDFSMetadataLog directory (offsets/,
    commits/, sources/0/, _spark_metadata/) — integer-named files, CRC
    and temp siblings ignored."""
    p = pathlib.Path(log_dir)
    if not p.is_dir():
        return []
    return sorted(int(f.name) for f in p.iterdir() if f.name.isdigit())


def log_lines(log_dir: str, batch_id: int) -> list[str]:
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
    the missing plain entry rather than silently under-counting. Also
    NO WATERMARK on the audited query: with a watermark, availableNow
    may append a trailing NO-DATA batch whose logOffset repeats the
    previous one and whose sources/0 entry is absent — a valid
    checkpoint this parser would reject as a ledger hole. (All callers
    stream watermark-free projections, so the strict logOffset==batchId
    form is the right audit here.)"""
    offset_ids = log_ids(f"{ckpt}/offsets")
    commit_ids = log_ids(f"{ckpt}/commits")
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
        payload = log_lines(f"{ckpt}/offsets", b)
        src_offset = json.loads(payload[-1])
        if src_offset.get("logOffset") != b:
            raise RuntimeError(
                f"offsets/{b} records source offset {src_offset}, "
                f"expected logOffset {b}"
            )
        for line in log_lines(f"{ckpt}/sources/0", b):
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


def read_state(
    spark: SparkSession, ckpt: str, key: str, batch_id: int | None = None
) -> dict:
    """The state of a streaming count-and-sum aggregate, as
    ``{key value: (count, sum)}``: the live state, or the state as of
    ``batch_id``. The buffer fields are named for the aggregate
    FUNCTIONS (count, sum), not the query's output aliases."""
    r = spark.read.format("statestore")
    if batch_id is not None:
        r = r.option("batchId", batch_id)
    return {
        row["key"][key]: (row["value"]["count"], row["value"]["sum"])
        for row in r.load(ckpt).collect()
    }
