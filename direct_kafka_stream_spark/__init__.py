"""direct_kafka_stream_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the
reference system dlpkmr98/Direct-Kafka-Stream (a Spark 1.6 DStream
Kafka-ingestion skeleton; see SURVEY.md), extended into a full
batch + streaming relational engine with LLM-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Design principles (SURVEY.md §1.2, §3.4, §4.2):
  * DataFrame/SQL everywhere — declare logical plans, let Catalyst +
    Tungsten + AQE pick physical strategy. No RDDs, no DStreams.
  * The reference's entire offset-management machinery
    (KafkaDirectStream.scala:57-109) collapses into Structured
    Streaming's ``checkpointLocation`` — see ``streaming/``.
  * UDFs are the slow path: built-in functions first, Arrow-batched
    pandas UDFs when Python is unavoidable.
  * Every batch operator is registered in ``registry.QUERIES`` with a
    DuckDB oracle SQL string so correctness is differentially
    verifiable at any scale factor.
"""

from direct_kafka_stream_spark.session import get_session, tune_session
from direct_kafka_stream_spark.io import TABLES, load_table, load_tables
from direct_kafka_stream_spark.registry import QUERIES, Query, query

# Populate the registry (import side effects register queries).
from direct_kafka_stream_spark.operators import relational  # noqa: F401
from direct_kafka_stream_spark.operators import streaming_analog  # noqa: F401
from direct_kafka_stream_spark.operators import stats  # noqa: F401
from direct_kafka_stream_spark.operators import llm  # noqa: F401
from direct_kafka_stream_spark.functions import scalar  # noqa: F401
from direct_kafka_stream_spark.functions import collections  # noqa: F401
from direct_kafka_stream_spark.functions import udf  # noqa: F401
from direct_kafka_stream_spark.functions import extra  # noqa: F401
from direct_kafka_stream_spark.operators import advanced  # noqa: F401
from direct_kafka_stream_spark.operators import tpch  # noqa: F401
from direct_kafka_stream_spark.operators import sqlfeatures  # noqa: F401
from direct_kafka_stream_spark.operators import cdc  # noqa: F401
from direct_kafka_stream_spark.operators import profiling  # noqa: F401
from direct_kafka_stream_spark.operators import events_analytics  # noqa: F401
from direct_kafka_stream_spark.operators import patterns  # noqa: F401
from direct_kafka_stream_spark.operators import corpus  # noqa: F401
from direct_kafka_stream_spark.operators import features  # noqa: F401
from direct_kafka_stream_spark.operators import scale_variants  # noqa: F401
from direct_kafka_stream_spark.operators import retrieval  # noqa: F401
from direct_kafka_stream_spark.operators import graph  # noqa: F401
from direct_kafka_stream_spark.operators import hypothesis  # noqa: F401
from direct_kafka_stream_spark.operators import experiments  # noqa: F401
from direct_kafka_stream_spark.operators import models  # noqa: F401
from direct_kafka_stream_spark.operators import timeseries  # noqa: F401
from direct_kafka_stream_spark.operators import engine  # noqa: F401
from direct_kafka_stream_spark.operators import stream_exhibits  # noqa: F401

__all__ = [
    "get_session",
    "tune_session",
    "TABLES",
    "load_table",
    "load_tables",
    "QUERIES",
    "Query",
    "query",
    "flagship",
]


def flagship(spark, sf_dir):
    """The flagship query (q_join_multiway, TPC-H-Q5 shape)."""
    return QUERIES["q_join_multiway"].spark(spark, sf_dir)
