"""File-based streaming source — the test double for the Kafka source
(no broker in CI) and a production source in its own right (landing
directories on object storage at scale).

Semantics parity with Kafka that matters for tests: files appended to
the directory are discovered per micro-batch, offsets (the processed
file list) live in the checkpoint, and restart resumes exactly where
the last run committed — the file-source rendition of the reference's
ZooKeeper offset recovery (reference README.md:160-176)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from direct_kafka_stream_spark.session import tune_session

# Stateful-stream state store configuration, shared by the streaming
# exhibits (operators/analytics38.py) and the standalone probes
# (scripts/stream_state_probe.py): the provider swap that trades a
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


def orders_schema() -> str:
    """Schema of the orders fixture as DDL."""
    return (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )


def documents_schema() -> str:
    """Schema of the documents fixture as DDL."""
    return "doc_id long, text string, lang string, source string, n_chars long"
