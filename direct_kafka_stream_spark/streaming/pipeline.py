"""Streaming pipeline runner: source → transform → sink with
engine-managed recovery.

Replaces the reference's entire offset lifecycle (readOffsets KDS:77-96,
saveOffsets KDS:98-109, the foreachRDD commit hook KDS:71, graceful
shutdown KDS:31-34,40): ``checkpointLocation`` WALs offsets before
output and commits after, so a restart of the same pipeline with the
same checkpoint resumes without loss and without reprocessing committed
batches. Where the reference was deliberately at-least-once (it stored
*begin* offsets and told users to dedupe downstream, README.md:93-95),
idempotent sinks here give exactly-once; ``dedup_streaming`` in
transforms.py is the in-engine version of "dedupe downstream" for
sources that are themselves at-least-once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from direct_kafka_stream_spark.caching import clear_materialized


def run_to_memory(
    df: DataFrame,
    query_name: str,
    checkpoint_dir: str | None = None,
    output_mode: str = "append",
    available_now: bool = True,
) -> StreamingQuery:
    """Run a streaming DataFrame into the in-memory sink (tests /
    interactive inspection — the replacement for the reference's
    driver-side collect-and-println sink, KDS:44-51, which is fatal at
    scale; the memory sink is explicit about being a debug surface)."""
    w = df.writeStream.format("memory").queryName(query_name).outputMode(output_mode)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def run_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_seconds: int | None = None,
) -> StreamingQuery:
    """Exactly-once file sink: offset WAL + file-manifest commit log.
    ``trigger_seconds`` mirrors the reference's fixed micro-batch
    interval (5 s in shipped code, KDS:41); availableNow drains all
    pending input then stops (backfill mode)."""
    w = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    return w.start()


def run_foreach_batch(
    df: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """foreachBatch — the per-micro-batch DataFrame hook, successor of
    the reference's foreachRDD processing hook (KDS:43-51). The batch_id
    passed to ``fn`` is stable across retries, enabling idempotent
    writes to transactional stores. Each batch is one query scope
    (``caching``): what ``fn`` left in it is released once it returns."""

    def batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            fn(batch_df, batch_id)
        finally:
            clear_materialized()

    w = df.writeStream.foreachBatch(batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def await_all(*queries: StreamingQuery, timeout_s: float = 120.0) -> None:
    """Wait for each query to terminate. One that does not within
    ``timeout_s`` is stopped and raises: a caller never reads the
    half-populated sink of a stream that was cut short."""
    for q in queries:
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"query {q.name} did not finish in {timeout_s}s")


def drain(writer: DataStreamWriter, ckpt: str, timeout_s: float = 300.0) -> None:
    """Start ``writer`` from checkpoint ``ckpt`` with the availableNow
    trigger and wait until it has processed all input present at start
    (``await_all``)."""
    await_all(
        writer.option("checkpointLocation", ckpt).trigger(availableNow=True).start(),
        timeout_s=timeout_s,
    )
