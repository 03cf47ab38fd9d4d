"""Engine-machinery exhibits without a registry entry (round-7,
verdict directive #3): observation metrics, parquet _metadata hidden
columns, and the Spark 4 transformWithStateInPandas arbitrary-stateful
streaming processor. Each pins an engine surface a 100 TB deployment
leans on (in-flight QA counters, file-provenance lineage, keyed state
machines) against a batch-computed truth.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from direct_kafka_stream_spark.io import load_table

from tests.conftest import SF_DIR


def test_observe_metrics_match_aggregate(spark):
    """df.observe collects accumulator-style metrics DURING the action
    — the free in-flight QA counter (row counts, null counts, sums)
    that saves a second pass over 100 TB. Values must equal a separate
    aggregate over the same frame."""
    from pyspark.sql import Observation

    ev = load_table(spark, SF_DIR, "events")
    obs = Observation("qa")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("total_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    # the action that flows through the observe node
    n_out = observed.filter(F.col("value") >= 0).count()
    got = obs.get
    truth = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(38,10)")).alias("total_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    ).collect()[0]
    assert got["n_rows"] == truth.n_rows == n_out + ev.filter("value < 0").count()
    assert got["total_value"] == truth.total_value
    assert got["n_errors"] == truth.n_errors


def test_metadata_columns_expose_file_provenance(spark, tmp_path):
    """The parquet source's hidden _metadata struct gives per-row file
    provenance (path, size, modification time) with no extra scan —
    the lineage primitive for per-file quarantine/compaction decisions
    at corpus scale."""
    src = tmp_path / "prov"
    docs = load_table(spark, SF_DIR, "documents").limit(40)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "even"))
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "odd"))
    back = spark.read.option("recursiveFileLookup", "true").parquet(str(src))
    per_file = (
        back.select("doc_id", F.col("_metadata.file_path").alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("doc_id") % 2).alias("parity_sum"),
        )
        .collect()
    )
    data_files = [r for r in per_file if r.fp.endswith(".parquet")]
    assert len(data_files) == 2
    for r in data_files:
        # every row in a file shares that file's parity by construction
        assert r.parity_sum in (0, r.n), r
    assert sum(r.n for r in data_files) == 40


def test_transform_with_state_running_counts(spark, tmp_path):
    """transformWithStateInPandas — Spark 4's arbitrary-stateful
    processor API (typed state handles, per-key timers) — maintains a
    running per-event-type count across micro-batches; after the run
    the final emitted counts equal the batch groupBy. The modern
    replacement for applyInPandasWithState keyed state machines."""
    try:
        from pyspark.sql.streaming.stateful_processor import (
            StatefulProcessor,
            StatefulProcessorHandle,
        )
    except ImportError:
        pytest.skip("transformWithStateInPandas API not present")
    # the state-server protocol needs protobuf, which this sandbox
    # lacks (same class of env gate as the real-Kafka-broker tests);
    # the API surface above still import-checks
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("protobuf runtime not available for the state protocol")

    ev = load_table(spark, SF_DIR, "events").select("event_type", "event_id")
    src = tmp_path / "tws_src"
    src.mkdir()
    pdf = ev.toPandas().sort_values("event_id")
    half = len(pdf) // 2
    import os
    import time as _time

    now = _time.time()
    for i, chunk in enumerate((pdf.iloc[:half], pdf.iloc[half:]), start=1):
        p = src / f"b{i}.parquet"
        chunk.to_parquet(p, index=False)
        os.utime(p, (now - (3 - i) * 60, now - (3 - i) * 60))

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState("count", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            total = sum(len(pdf_) for pdf_ in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            self._count.update((prev + total,))
            yield pd.DataFrame(
                {"event_type": [key[0]], "n": [prev + total]}
            )

        def close(self) -> None:
            pass

    seen: dict[str, int] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            seen[r.event_type] = max(seen.get(r.event_type, 0), r.n)

    stream = (
        spark.readStream.schema("event_type string, event_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.groupBy("event_type")
        .transformWithStateInPandas(
            RunningCount(),
            outputStructType="event_type string, n bigint",
            outputMode="Update",
            timeMode="None",
        )
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive

    truth = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert seen == truth


def test_python_datasource_stream_reader(spark, tmp_path):
    """The Python DataSource's STREAMING half: the same dks_synthetic
    source read via readStream emits micro-batches paced by dict
    offsets the engine checkpoints (the replayable-offset contract the
    reference hand-rolled in ZooKeeper, KDS:84-105). Accumulated rows
    across all batches must equal the batch-read result exactly, and
    more than one micro-batch must actually fire."""
    from direct_kafka_stream_spark.sources.pyds import SyntheticDataSource

    try:
        spark.dataSource.register(SyntheticDataSource)
    except Exception:
        pass

    batches: list[tuple[int, int]] = []
    seen_rows: list[tuple[int, int]] = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        batches.append((batch_id, len(rows)))
        seen_rows.extend((r.i, r.checksum) for r in rows)

    q = (
        spark.readStream.format("dks_synthetic")
        .option("n", "500")
        .option("batchSize", "120")
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_pyds"))
        .start()
    )
    # free-running micro-batches (availableNow would poll the simple
    # reader exactly once); stop once the source is drained
    import time as _time

    deadline = _time.time() + 120
    while _time.time() < deadline and len(seen_rows) < 500:
        _time.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    assert len([b for b in batches if b[1] > 0]) >= 2, batches
    expected = [(i, (i * i) % 97) for i in range(500)]
    assert sorted(seen_rows) == expected


def test_arrow_optimized_scalar_udf_matches_row_udf(spark):
    """Spark 4's Arrow-optimized scalar Python UDF (useArrow=True)
    must produce exactly the row-UDF result while batching transfers
    through Arrow — the drop-in acceleration for legacy @udf code
    that can't be rewritten to pandas_udf."""
    from pyspark.sql.functions import udf

    def tag(price: float) -> str:
        return f"{'hi' if price >= 100000 else 'lo'}:{int(price) % 7}"

    row_udf = udf(tag, "string")
    arrow_udf = udf(tag, "string", useArrow=True)
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    a = sorted(
        (r.o_orderkey, r.t)
        for r in o.select("o_orderkey", row_udf("o_totalprice").alias("t")).collect()
    )
    b = sorted(
        (r.o_orderkey, r.t)
        for r in o.select("o_orderkey", arrow_udf("o_totalprice").alias("t")).collect()
    )
    assert a == b and len(a) == o.count()


def test_cogroup_asof_pruned_and_matchless_paths(spark):
    """Two cogroup hazards pinned: (1) a bare .count() plan lets
    Catalyst prune the cogroup's right-side INPUT columns to the
    grouping key, so the UDF must tolerate key-only frames; (2) a user
    with clicks but no purchases hands the merge an empty purchase
    array, which np.where's eager evaluation would index out of
    bounds. Both crashed before round 7's guards."""
    import datetime

    from direct_kafka_stream_spark.operators.engine import cogroup_asof_report

    base = datetime.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (0, base, 1, "click", 1.0, "{}"),
            (1, base, 2, "click", 1.0, "{}"),
            (2, base, 2, "purchase", 5.0, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = cogroup_asof_report(ev)
    assert out.count() == 2  # the count-only (input-pruned) plan runs
    rows = sorted(map(tuple, out.collect()))
    assert rows == [(1, 1, 0, 0), (2, 1, 1, 0)]


def test_cogroup_merge_kernel_direct():
    """The merge kernel itself (no Spark): left-side pruning must fail
    LOUDLY (a silent empty frame would make .count() return 0 instead
    of surfacing the planner regression), and the vectorized
    merge_asof path must match a hand-computed as-of on interleaved
    users, sub-second orderings, and a matchless user."""
    import numpy as np
    import pandas as pd
    import pytest

    from direct_kafka_stream_spark.operators.engine import _cogroup_merge

    pruned_left = pd.DataFrame({"bucket": [0, 0]})
    right = pd.DataFrame(
        {"user_id": [1], "ts": pd.to_datetime(["2024-01-01 00:00:05"])}
    )
    with pytest.raises(RuntimeError, match="pruned"):
        _cogroup_merge(pruned_left, right)

    # empty left stays a legitimate empty result (purchases-only bucket)
    empty = _cogroup_merge(pd.DataFrame({"user_id": [], "ts": []}), right)
    assert len(empty) == 0

    left = pd.DataFrame(
        {
            "user_id": [1, 2, 1, 3, 2],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:00.400",  # u1 → purchase at 5 s
                    "2024-01-01 00:00:03.000",  # u2 → exact match 3 s
                    "2024-01-01 00:00:06.000",  # u1 → no later purchase
                    "2024-01-01 00:00:01.000",  # u3 → no purchases at all
                    "2024-01-01 00:00:03.500",  # u2 → purchase at 9 s
                ]
            ),
        }
    )
    right = pd.DataFrame(
        {
            "user_id": [1, 2, 2],
            "ts": pd.to_datetime(
                [
                    "2024-01-01 00:00:05.000",
                    "2024-01-01 00:00:03.000",
                    "2024-01-01 00:00:09.000",
                ]
            ),
        }
    )
    got = (
        _cogroup_merge(left, right)
        .sort_values("user_id", ignore_index=True)
        .astype(np.int64)
    )
    want = pd.DataFrame(
        {
            "user_id": [1, 2, 3],
            "n_clicks": [2, 2, 1],
            "n_converted": [1, 2, 0],
            # u1: 5−0 = 5 (second-floored); u2: (3−3) + (9−3) = 6
            "total_wait_s": [5, 6, 0],
        }
    ).astype(np.int64)
    pd.testing.assert_frame_equal(got, want)


def test_parameterized_sql_binds_values_not_syntax(spark):
    """Parameterized SQL (spark.sql(..., args=...)) is the
    injection-safe dynamic-query surface: named and positional markers
    bind as VALUES during analysis, and IDENTIFIER(:param) is the only
    sanctioned way to make a table/column name dynamic. Pins: (1)
    parameterized == literal result, (2) a hostile parameter stays a
    value (never parsed as SQL), (3) IDENTIFIER resolves a view name
    from a parameter, (4) positional markers bind in order."""
    from direct_kafka_stream_spark.io import load_table

    from tests.conftest import SF_DIR

    load_table(spark, SF_DIR, "events").createOrReplaceTempView("param_ev")
    try:
        lit = spark.sql(
            "SELECT event_type, COUNT(*) AS n FROM param_ev "
            "WHERE value > 50.0 GROUP BY event_type"
        )
        par = spark.sql(
            "SELECT event_type, COUNT(*) AS n FROM param_ev "
            "WHERE value > :thr GROUP BY event_type",
            args={"thr": 50.0},
        )
        assert sorted(map(tuple, par.collect())) == sorted(
            map(tuple, lit.collect())
        )

        # a classic injection payload arrives as a VALUE: zero matches,
        # not a tautology that returns every row
        hostile = spark.sql(
            "SELECT COUNT(*) AS n FROM param_ev WHERE event_type = :t",
            args={"t": "x' OR '1'='1"},
        )
        assert hostile.collect()[0].n == 0

        # IDENTIFIER(:tbl): dynamic relation name without string-pasting
        total = spark.sql(
            "SELECT COUNT(*) AS n FROM IDENTIFIER(:tbl)",
            args={"tbl": "param_ev"},
        ).collect()[0].n
        assert total == load_table(spark, SF_DIR, "events").count()

        # positional markers bind left to right
        pos = spark.sql(
            "SELECT COUNT(*) AS n FROM param_ev WHERE value > ? AND value < ?",
            args=[10.0, 20.0],
        ).collect()[0].n
        lit_n = spark.sql(
            "SELECT COUNT(*) AS n FROM param_ev "
            "WHERE value > 10.0 AND value < 20.0"
        ).collect()[0].n
        assert pos == lit_n
    finally:
        spark.catalog.dropTempView("param_ev")
