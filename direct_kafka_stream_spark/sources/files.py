"""File-based streaming source — the test double for the Kafka source
(no broker in CI) and a production source in its own right (landing
directories on object storage at scale).

Semantics parity with Kafka that matters for tests: files appended to
the directory are discovered per micro-batch, offsets (the processed
file list) live in the checkpoint, and restart resumes exactly where
the last run committed — the file-source rendition of the reference's
ZooKeeper offset recovery (reference README.md:160-176)."""

from __future__ import annotations

import pathlib
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from direct_kafka_stream_spark import io
from direct_kafka_stream_spark.caching import scratch_root
from direct_kafka_stream_spark.exprs import dsum
from direct_kafka_stream_spark.session import tune_session

# Stateful-stream state store configuration, shared by the streaming
# exhibits (operators/stream_exhibits.py) and the standalone probes
# (scripts/stream_probe.py): the provider swap that trades a
# constant per-batch checkpoint cost for bounded-heap feasibility at
# 100 M+ distinct keys.
PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def file_stream(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the files landing under ``path``. Tunes the session first:
    a streaming query clones its session at ``start()``, so a session
    built by someone else must carry the engine confs (the file-listing
    width above all) before the query is started."""
    tune_session(spark)
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def events_schema() -> str:
    """Schema of the events fixture as DDL (ts already µs)."""
    return (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )


# (resolved fixture dir, n_files, events file stamp) -> staged dir.
# Every streaming exhibit and probe stages the same adaptation of the
# events fixture (its ns timestamps are unreadable by the file stream
# source), so one staging per fixture and file count serves the whole
# process, the way a landing zone exists before a stream reads it. The
# stamp (``io._path_stamp``) misses when the fixture is rewritten in
# place. The memo outlives any one query, so the staging sits under the
# process's scratch root, not in a query scope.
_STAGED: dict[tuple, str] = {}


def stage_events(spark: SparkSession, d: str, n_files: int = 1) -> str:
    """Directory holding the events fixture of ``d`` as exactly
    ``n_files`` parquet files with µs timestamps (``events_schema``);
    written once per process and fixture content."""
    path = f"{d}/events.parquet"
    key = (str(pathlib.Path(d).resolve()), n_files, io._path_stamp(path))
    hit = _STAGED.get(key)
    if hit is not None:
        return hit
    src = str(scratch_root() / f"evstage_{n_files}_{uuid.uuid4().hex[:12]}")
    # repartition, not coalesce: coalesce can't SPLIT a 1-partition
    # source, and the multi-batch streams need n_files real files
    io.load_table(spark, d, "events").repartition(n_files).write.mode(
        "overwrite"
    ).parquet(src)
    _STAGED[key] = src
    return src


def event_type_totals(events: DataFrame) -> DataFrame:
    """Per ``event_type``: row count ``n`` and exact sum ``total`` of
    ``value``. On a stream this is the stateful aggregate whose state
    the exhibits and probes audit; its state buffer holds (count, sum)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total")
    )


def orders_schema() -> str:
    """Schema of the orders fixture as DDL."""
    return (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )


def documents_schema() -> str:
    """Schema of the documents fixture as DDL."""
    return "doc_id long, text string, lang string, source string, n_chars long"
