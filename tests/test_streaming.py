"""Real Structured Streaming tests (SURVEY.md §5.2 #2-3): streaming ==
batch equivalence, watermark late-data semantics, and the
checkpoint-restart exactly-once test — the Structured Streaming
rendition of the reference's ZooKeeper offset recovery acceptance test
(reference README.md:160-176, replayed with checkpointLocation instead
of a znode).
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from direct_kafka_stream_spark.io import load_table
from direct_kafka_stream_spark.operators.cdc import rfm_report, scd2_table
from direct_kafka_stream_spark.operators.corpus import (
    gopher_rules_census,
    hapax_report,
    readability_report,
)
from direct_kafka_stream_spark.operators.engine import (
    arrow_counts,
    cogroup_asof_report,
    zonemap_report,
)
from direct_kafka_stream_spark.operators.events_analytics import (
    ab_test_report,
    attribution_matrix,
    audience_overlap_report,
    changepoint_report,
    cohort_ltv_curve,
    funnel3_counts,
    retention_triangle,
    seasonality_profile,
    transition_matrix,
)
from direct_kafka_stream_spark.operators.experiments import (
    ab_proportions_stat,
    cuped_report,
    logrank_stat,
    mde_power_table,
    nelson_aalen_curve,
    neyman_alloc,
    propensity_strata,
    shapley_attribution,
    sprt_table,
)
from direct_kafka_stream_spark.operators.features import lag_features_table
from direct_kafka_stream_spark.operators.graph import textrank_on
from direct_kafka_stream_spark.operators.hypothesis import (
    anova_stat,
    bh_fdr_table,
    bootstrap_poisson_table,
    chi2_stat,
    cmh_stat,
    cochran_armitage_stat,
    cohens_d_stat,
    cramers_v_stat,
    fisher_method_stat,
    friedman_stat,
    grubbs_report,
    kruskal_wallis_stat,
    levene_stat,
    mann_whitney_stat,
    mcnemar_cells,
    median_ci_report,
    permutation_test_stat,
    runs_test_stat,
    welch_ttest_stat,
    wilson_ci_table,
)
from direct_kafka_stream_spark.operators.llm import (
    dedup_exact_keep_first,
    text_langid_report,
    text_quality_report,
)
from direct_kafka_stream_spark.operators.patterns import (
    islands_report,
    mom_growth_report,
)
from direct_kafka_stream_spark.operators.profiling import (
    anomaly_mad_report,
    benford_report,
    dp_laplace_histogram,
    entropy_hour_grid,
    hhi_report,
    hist2d_grid,
    hist_equi_report,
    impute_table,
    k_anonymity_census,
    l_diversity_census,
    pareto_share_report,
    qq_table,
    quantile_bins_table,
    robust_scale_report,
    text_entropy_report,
    winsorize_table,
)
from direct_kafka_stream_spark.operators.retrieval import sessionize_report
from direct_kafka_stream_spark.operators.timeseries import (
    acf_profile,
    bollinger_bands,
    bot_burst_report,
    burstiness_report,
    concurrent_peak_report,
    cusum_report,
    date_gaps_report,
    dau_mau_report,
    ewma_series,
    funnel_latency_report,
    holt_linear,
    inter_event_profile,
    interval_overlap_report,
    lifecycle_ledger,
    sax_table,
    seasonal_anomaly_report,
    seq_pattern_counts,
    theil_sen_stat,
)
from direct_kafka_stream_spark.sources.files import events_schema, file_stream
from direct_kafka_stream_spark.streaming import pipeline, transforms

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Events fixture rewritten as µs-timestamp parquet (streamable)."""
    d = tmp_path_factory.mktemp("events_stream_src")
    load_table(spark, SF_DIR, "events").coalesce(1).write.mode("overwrite").parquet(str(d))
    return str(d)


def _await(q):
    pipeline.await_all(q, timeout_s=180)


def test_streaming_equals_batch_tumbling(spark, events_dir, tmp_path):
    """The same transform, applied to a batch frame and to a stream of
    the same rows, must produce identical results (complete mode)."""
    batch = transforms.tumbling_counts(load_table(spark, SF_DIR, "events"))
    expected = sorted(map(tuple, batch.collect()))

    stream = file_stream(spark, events_dir, events_schema())
    agg = transforms.tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.table("t_tumbling").collect()))
    assert got == expected


def test_streaming_dedup_drops_duplicates(spark, tmp_path):
    """dropDuplicates over a watermark: replayed event_ids are dropped —
    the in-engine version of the reference's 'deal with duplicates
    down the stream' (README.md:93-95)."""
    src = tmp_path / "dup_src"
    src.mkdir()
    rows1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:01", "2024-01-01 10:02"]),
            "user_id": [1, 1, 2],
            "event_type": ["a", "b", "a"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }
    )
    rows2 = rows1.assign(event_id=[3, 4, 2])  # 3 and 2 are replays
    rows1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    rows2.to_parquet(src / "b2.parquet", coerce_timestamps="us")

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    dedup = transforms.dedup_streaming(stream, watermark="1 hour")
    q = pipeline.run_to_memory(dedup, "t_dedup", str(tmp_path / "ckpt"))
    _await(q)
    got = spark.table("t_dedup").select("event_id").toPandas()["event_id"].tolist()
    assert sorted(got) == [1, 2, 3, 4]


def test_watermark_drops_late_rows(spark, tmp_path):
    """Watermark semantics as Spark actually implements them:

    * A late row arriving while its window's state is still live (the
      window closes at the END of the batch whose watermark passed it)
      is still merged — delayed-within-threshold data is guaranteed in.
    * A late row arriving AFTER the window was emitted and its state
      evicted is dropped: the closed window is never re-emitted and the
      row never creates a duplicate (append-mode correctness).
    """
    import os
    import time as _time

    src = tmp_path / "late_src"
    src.mkdir()

    def mk(ts_vals, ids):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(ts_vals),
                "user_id": [1] * len(ids),
                "event_type": ["x"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )

    # batch0: watermark (after) = 10:35 - 10min = 10:25.
    mk(["2024-01-01 10:05", "2024-01-01 10:35"], [1, 2]).to_parquet(
        src / "b1.parquet", coerce_timestamps="us"
    )
    # batch1: 10:03 is late but window [10:00,10:10) state is still
    # live → merged (count 2); at batch end the window (end 10:10 ≤
    # watermark 10:25) is emitted and evicted. Watermark → 10:45.
    mk(["2024-01-01 10:03", "2024-01-01 10:55"], [3, 4]).to_parquet(
        src / "b2.parquet", coerce_timestamps="us"
    )
    # batch2: 10:04 is later than the already-emitted window → DROPPED
    # (no duplicate emission). 11:30 advances watermark to 11:20,
    # finalizing [10:50,11:00).
    mk(["2024-01-01 10:04", "2024-01-01 11:30"], [5, 6]).to_parquet(
        src / "b3.parquet", coerce_timestamps="us"
    )
    now = _time.time()
    for i, f in enumerate(["b1.parquet", "b2.parquet", "b3.parquet"]):
        os.utime(src / f, (now - 300 + i * 120, now - 300 + i * 120))

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    agg = transforms.windowed_counts_with_watermark(stream, "10 minutes", "10 minutes")
    q = pipeline.run_to_memory(agg, "t_late", str(tmp_path / "ckpt"))
    _await(q)
    rows = spark.table("t_late").collect()
    by_min = {}
    for r in rows:
        m = (r["win_start"] % 86400) // 60
        by_min.setdefault(m, []).append(r["n_events"])
    assert by_min.get(600) == [2]  # merged late row; emitted exactly once
    assert by_min.get(630) == [1]
    assert by_min.get(650) == [1]
    assert 604 not in by_min  # the post-eviction late row created nothing


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Stop → append data → restart with the same checkpoint: every
    input row lands in the sink exactly once (offset WAL + idempotent
    file sink). Third run with no new data writes nothing."""
    src = tmp_path / "src"
    sink = tmp_path / "sink"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    ev = load_table(spark, SF_DIR, "events").orderBy("event_id")
    first, second = ev.limit(400), ev.subtract(ev.limit(400))
    first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f1"))
    shutil.copy(
        next((tmp_path / "f1").glob("*.parquet")), src / "file1.parquet"
    )

    stream = lambda: file_stream(spark, str(src), events_schema())  # noqa: E731
    q = pipeline.run_to_parquet(stream(), str(sink), str(ckpt))
    _await(q)
    n1 = spark.read.parquet(str(sink)).count()
    assert n1 == 400

    second.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "f2"))
    shutil.copy(
        next((tmp_path / "f2").glob("*.parquet")), src / "file2.parquet"
    )
    q = pipeline.run_to_parquet(stream(), str(sink), str(ckpt))
    _await(q)
    out = spark.read.parquet(str(sink))
    assert out.count() == 1000
    assert out.select("event_id").distinct().count() == 1000  # no replays

    q = pipeline.run_to_parquet(stream(), str(sink), str(ckpt))
    _await(q)
    assert spark.read.parquet(str(sink)).count() == 1000  # idempotent restart


def _land_event_file(src, k: int, per_file: int = 10) -> set[int]:
    """Atomically land event file ``k``: ``per_file`` fresh ids plus a
    redelivery of the previous file's last id (at-least-once input).
    Each id's ``ts`` is a function of the id, so a redelivered event is
    the same event. Returns the file's fresh ids."""
    fresh = list(range(k * per_file, (k + 1) * per_file))
    ids = fresh + ([k * per_file - 1] if k else [])
    n = len(ids)
    table = pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000 + i * 1000 for i in ids],
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array([i % 7 for i in ids], pa.int64()),
            "event_type": ["view"] * n,
            "value": pa.array([float(i) for i in ids]),
            "props": ["{}"] * n,
        }
    )
    staged = src.parent / f"staged-{k}.parquet"
    pq.write_table(table, staged)
    os.rename(staged, src / f"events-{k:04d}.parquet")
    return set(fresh)


def test_restart_over_backlog_lists_files_within_session_cores(spark, tmp_path):
    """The paper's outage scenario: more than 32 files (Spark's
    parallel-listing threshold) land while a checkpointed file_stream →
    dedup_streaming pipeline is stopped; the restart drains them
    exactly once, and no stage of any job the restart runs is wider
    than the session's task slots — in particular the listing of the
    backlog runs at the session's cores, not one task per file."""
    from direct_kafka_stream_spark.session import _LISTING_PARALLELISM, tune_session

    src, ckpt = tmp_path / "landing", str(tmp_path / "ckpt")
    src.mkdir()
    cores = spark.sparkContext.defaultParallelism
    # a whole number of files per core, so the backlog scan packs into
    # exactly `cores` partitions
    backlog = cores * (32 // cores + 1)
    committed: dict[int, list[int]] = {}  # batch id -> event ids

    def sink(batch_df, batch_id):
        committed[batch_id] = [r.event_id for r in batch_df.select("event_id").collect()]

    def run():
        # a session built by someone else: file_stream must derive the
        # listing width itself before the query clones the session
        spark.conf.unset(_LISTING_PARALLELISM)
        events = file_stream(spark, str(src), events_schema())
        q = pipeline.run_foreach_batch(transforms.dedup_streaming(events), sink, ckpt)
        _await(q)
        return q

    # The stateful shuffle's width is the session's shuffle partitions
    # (8 in the test session), fixed in the checkpoint by the first run;
    # pin it to the cores so every stage is held to the same bound.
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    try:
        expected = set().union(*(_land_event_file(src, k) for k in range(2)))
        run()
        for k in range(2, 2 + backlog):
            expected |= _land_event_file(src, k)
        q = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        tune_session(spark)

    got = [i for ids in committed.values() for i in ids]
    assert len(got) == len(set(got)) == len(expected)
    assert set(got) == expected

    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(str(q.runId))
    assert jobs, "the restart ran no job under its group"
    widths = {
        j: [tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(j).stageIds]
        for j in jobs
    }
    assert max(max(w) for w in widths.values()) <= cores, widths


def test_stream_static_join(spark, events_dir, tmp_path):
    """Stream ⋈ static dimension — dim is re-read per micro-batch,
    no state required."""
    dim = spark.range(0, 200).select(
        F.col("id").alias("user_id"), (F.col("id") % 3).alias("cohort")
    )
    stream = file_stream(spark, events_dir, events_schema())
    joined = stream.join(dim, "user_id").groupBy("cohort").count()
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ss_join")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = {r["cohort"]: r["count"] for r in spark.table("t_ss_join").collect()}
    batch = load_table(spark, SF_DIR, "events").join(dim, "user_id").groupBy("cohort").count()
    want = {r["cohort"]: r["count"] for r in batch.collect()}
    assert got == want


def test_foreach_batch_hook(spark, events_dir, tmp_path):
    """foreachBatch — successor of the reference's foreachRDD hook
    (KDS:43-51): per-batch DataFrame with a stable batch_id."""
    seen: list[tuple[int, int]] = []

    stream = file_stream(spark, events_dir, events_schema())
    q = pipeline.run_foreach_batch(
        stream,
        lambda df, bid: seen.append((bid, df.count())),
        str(tmp_path / "ckpt"),
    )
    _await(q)
    assert sum(n for _, n in seen) == 1000
    assert [b for b, _ in seen] == sorted({b for b, _ in seen})


def test_stream_stream_interval_join(spark, events_dir, tmp_path):
    """Stream–stream inner join with watermarks + event-time range
    condition (the stateful join the reference could never express;
    state pruned by the watermark bound)."""
    a = file_stream(spark, events_dir, events_schema()).withWatermark("ts", "1 hour")
    b = (
        file_stream(spark, events_dir, events_schema())
        .selectExpr(
            "event_id AS b_event_id", "ts AS b_ts", "user_id AS b_user_id"
        )
        .withWatermark("b_ts", "1 hour")
    )
    joined = a.join(
        b,
        F.expr(
            "user_id = b_user_id AND b_ts > ts AND b_ts <= ts + INTERVAL 10 MINUTES"
        ),
    ).select("event_id", "b_event_id")
    q = pipeline.run_to_memory(joined, "t_ssj", str(tmp_path / "ckpt"))
    _await(q)
    got = spark.table("t_ssj").count()

    ev = load_table(spark, SF_DIR, "events")
    ea = ev.alias("a")
    eb = ev.alias("b")
    want = ea.join(
        eb,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
    ).count()
    assert got == want > 0


def test_apply_in_pandas_with_state(spark, tmp_path):
    """Custom stateful streaming operator: per-user running event count
    via applyInPandasWithState, state carried across micro-batches."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = tmp_path / "state_src"
    src.mkdir()

    def mk(ids, users):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(["2024-01-01 10:00"] * len(ids)),
                "user_id": users,
                "event_type": ["x"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )

    mk([1, 2, 3], [7, 7, 8]).to_parquet(src / "b1.parquet", coerce_timestamps="us")
    mk([4, 5], [7, 9]).to_parquet(src / "b2.parquet", coerce_timestamps="us")
    import os
    import time as _time

    now = _time.time()
    os.utime(src / "b1.parquet", (now - 120, now - 120))
    os.utime(src / "b2.parquet", (now, now))

    def running_count(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    counted = stream.groupBy("user_id").applyInPandasWithState(
        running_count,
        outputStructType="user_id long, n long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = pipeline.run_to_memory(
        counted, "t_state", str(tmp_path / "ckpt"), output_mode="update"
    )
    _await(q)
    rows = spark.table("t_state").collect()
    final = {}
    for r in rows:  # update mode: later rows supersede earlier ones
        final[r["user_id"]] = max(r["n"], final.get(r["user_id"], 0))
    assert final == {7: 3, 8: 1, 9: 1}


def test_update_output_mode(spark, tmp_path):
    """Update mode emits per-batch deltas for changed keys; the final
    value per key equals the batch aggregate."""
    import pandas as pd

    src = tmp_path / "upd_src"
    src.mkdir()
    df1 = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.to_datetime(["2024-01-01 10:00", "2024-01-01 10:01"]),
            "user_id": [1, 1],
            "event_type": ["a", "a"],
            "value": [1.0, 1.0],
            "props": ["{}", "{}"],
        }
    )
    df2 = df1.assign(event_id=[3, 4], event_type=["a", "b"])
    df1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    df2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    import os
    import time as _time

    now = _time.time()
    os.utime(src / "b1.parquet", (now - 120, now - 120))
    os.utime(src / "b2.parquet", (now, now))

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    agg = stream.groupBy("event_type").count()
    q = pipeline.run_to_memory(agg, "t_upd", str(tmp_path / "ckpt"), output_mode="update")
    _await(q)
    rows = spark.table("t_upd").collect()
    final = {}
    for r in rows:
        final[r["event_type"]] = max(r["count"], final.get(r["event_type"], 0))
    assert final == {"a": 3, "b": 1}


def test_streaming_session_window(spark, events_dir, tmp_path):
    """session_window aggregation on a real stream (watermarked,
    append mode): emitted sessions must be a non-empty subset of the
    batch sessionization — only sessions the final watermark closed are
    flushed; none may disagree with the batch result."""
    batch = transforms.session_counts(load_table(spark, SF_DIR, "events"))
    want = {tuple(r) for r in batch.collect()}

    stream = file_stream(spark, events_dir, events_schema()).withWatermark(
        "ts", "1 hour"
    )
    agg = transforms.session_counts(stream)
    q = pipeline.run_to_memory(agg, "t_sess", str(tmp_path / "ckpt"))
    _await(q)
    got = {tuple(r) for r in spark.table("t_sess").collect()}
    assert got
    assert got <= want


def test_rocksdb_state_store_provider(spark, events_dir, tmp_path):
    """The same stateful aggregation runs on the RocksDB state store —
    the provider that keeps 100-TB-scale state on executor local disk
    with incremental checkpointing, instead of the default JVM-heap
    HDFSBackedStateStore — and produces identical results."""
    batch = transforms.tumbling_counts(load_table(spark, SF_DIR, "events"))
    expected = sorted(map(tuple, batch.collect()))

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = file_stream(spark, events_dir, events_schema())
        agg = transforms.tumbling_counts(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("t_rocksdb")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_rocks"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = sorted(map(tuple, spark.table("t_rocksdb").collect()))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == expected


def test_transform_with_state_running_counts(spark, events_dir, tmp_path):
    """Spark 4 transformWithStateInPandas (the successor of
    applyInPandasWithState): per-user running event counts kept in a
    ValueState on the RocksDB state store. Single availableNow batch →
    emitted counts must equal the batch groupBy.

    Gated: the transformWithState protocol serializes state requests
    with protobuf, which this container does not ship — the test
    documents the capability and runs wherever protobuf exists."""
    pytest.importorskip("google.protobuf.descriptor")
    import pandas as pd  # noqa: F811
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    class RunningCount(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._count = handle.getValueState(
                "count", StructType([StructField("n", LongType())])
            )

        def handleInputRows(self, key, rows, timerValues):
            n = sum(len(pdf) for pdf in rows)
            prev = self._count.get()[0] if self._count.exists() else 0
            total = prev + n
            self._count.update((total,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [total]})

        def close(self) -> None:
            pass

    expected = sorted(
        map(
            tuple,
            load_table(spark, SF_DIR, "events")
            .groupBy("user_id")
            .count()
            .collect(),
        )
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = file_stream(spark, events_dir, events_schema())
        counted = stream.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningCount(),
            outputStructType="user_id long, n long",
            outputMode="Update",
            timeMode="None",
        )
        q = (
            counted.writeStream.format("memory")
            .queryName("t_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
        got = sorted(map(tuple, spark.table("t_tws").collect()))
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == expected


def test_stateful_agg_resumes_from_checkpoint(spark, tmp_path):
    """Windowed-count state survives a stop/restart: after feeding the
    second half of the data to a restarted query on the same
    checkpoint, the final (complete-mode) counts equal a batch run over
    everything — the stateful upgrade of the reference's offset-only
    recovery (reference README.md:160-176)."""
    src = tmp_path / "src"
    src.mkdir()
    ev = load_table(spark, SF_DIR, "events").orderBy("event_id")
    first, second = ev.limit(500), ev.subtract(ev.limit(500))
    first.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "h1"))
    shutil.copy(next((tmp_path / "h1").glob("*.parquet")), src / "a.parquet")

    def run_once():
        stream = file_stream(spark, str(src), events_schema())
        agg = transforms.tumbling_counts(stream)
        q = (
            agg.writeStream.format("memory")
            .queryName("t_resume")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "ckpt_resume"))
            .trigger(availableNow=True)
            .start()
        )
        _await(q)

    run_once()
    second.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "h2"))
    shutil.copy(next((tmp_path / "h2").glob("*.parquet")), src / "b.parquet")
    run_once()

    expected = sorted(
        map(tuple, transforms.tumbling_counts(load_table(spark, SF_DIR, "events")).collect())
    )
    got = sorted(map(tuple, spark.table("t_resume").collect()))
    assert got == expected


def test_stream_stream_left_outer_join(spark, events_dir, tmp_path):
    """Stream–stream LEFT OUTER join: matched pairs emit eagerly;
    unmatched left rows are held in state and emitted with NULLs only
    once the watermark proves no future match can arrive. The final
    watermark stops at max(ts) - delay, so an unmatched row within
    (join window + delay) of the stream end is legitimately never
    finalized — the assertion is exact over the finalizable zone and
    bounded over the tail."""
    a = file_stream(spark, events_dir, events_schema()).withWatermark("ts", "10 seconds")
    b = (
        file_stream(spark, events_dir, events_schema())
        .selectExpr("event_id AS b_event_id", "ts AS b_ts", "user_id AS b_user_id")
        .filter(F.col("b_event_id") % 3 == 0)
        .withWatermark("b_ts", "10 seconds")
    )
    joined = a.join(
        b,
        F.expr(
            "user_id = b_user_id AND b_ts > ts AND b_ts <= ts + INTERVAL 10 MINUTES"
        ),
        "leftOuter",
    ).select("event_id", "b_event_id")
    q = pipeline.run_to_memory(joined, "t_ssoj", str(tmp_path / "ckpt"))
    _await(q)
    got = spark.table("t_ssoj")

    ev = load_table(spark, SF_DIR, "events")
    ea = ev.alias("a")
    eb = ev.filter(F.col("event_id") % 3 == 0).alias("b")
    want = ea.join(
        eb,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    # matched pairs emit eagerly — exact equality
    assert (
        got.filter(F.col("b_event_id").isNotNull()).count()
        == want.filter(F.col("b.event_id").isNotNull()).count()
        > 0
    )
    # outer rows: exact over the finalizable zone, bounded overall
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    finalizable = want.filter(F.col("b.event_id").isNull()).filter(
        F.col("a.ts")
        < F.lit(max_ts) - F.expr("INTERVAL 10 MINUTES") - F.expr("INTERVAL 10 SECONDS")
    )
    got_outer = got.filter(F.col("b_event_id").isNull()).count()
    all_outer = want.filter(F.col("b.event_id").isNull()).count()
    assert finalizable.count() <= got_outer <= all_outer
    assert got_outer > 0


def test_foreach_batch_idempotent_merge(spark, tmp_path):
    """The production exactly-once sink pattern the reference's README
    tells users to hand-roll downstream (reference README.md:76,
    93-95): foreachBatch maintains a per-user-cohort aggregate table
    with DYNAMIC partition overwrite, so a replayed batch (crash after
    write, before commit) rewrites the same partitions with the same
    content instead of duplicating — idempotence makes at-least-once
    delivery exactly-once at the table level."""
    src = tmp_path / "src"
    src.mkdir()
    table = tmp_path / "agg_table"
    ckpt = tmp_path / "ckpt"

    ev = load_table(spark, SF_DIR, "events").orderBy("event_id")
    for i, part in enumerate([ev.limit(500), ev.subtract(ev.limit(500))]):
        part.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"h{i}"))
        shutil.copy(
            next((tmp_path / f"h{i}").glob("*.parquet")), src / f"f{i}.parquet"
        )

    def merge_batch(batch_df, batch_id):
        # aggregate the batch, then overwrite only the touched cohorts
        agg = (
            batch_df.groupBy((F.col("user_id") % 8).alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        )
        prev_mode = batch_df.sparkSession.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        batch_df.sparkSession.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        try:
            existing = None
            try:
                existing = batch_df.sparkSession.read.parquet(str(table))
            except Exception:
                pass
            if existing is not None:
                merged = (
                    existing.join(agg.select("cohort"), "cohort", "left_semi")
                    .unionByName(agg)
                    .groupBy("cohort")
                    .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
                    .unionByName(
                        existing.join(agg.select("cohort"), "cohort", "left_anti")
                    )
                )
            else:
                merged = agg
            merged.write.mode("overwrite").partitionBy("cohort").parquet(str(table))
        finally:
            batch_df.sparkSession.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)

    want = sorted(
        map(
            tuple,
            load_table(spark, SF_DIR, "events")
            .groupBy((F.col("user_id") % 8).alias("cohort"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            .collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(str(table)).select("cohort", "n", "v").collect(),
        )
    )
    assert [(c, n, round(v, 6)) for c, n, v in got] == [
        (c, n, round(v, 6)) for c, n, v in want
    ]


def test_query_progress_metrics(spark, events_dir, tmp_path):
    """The engine-provided replacement for the reference's hand-rolled
    Stopwatch (reference KafkaDirectStream.scala:111-114, R12):
    per-batch progress objects expose rows read, processing durations,
    and state-store metrics — no user instrumentation code."""
    stream = file_stream(spark, events_dir, events_schema())
    agg = transforms.tumbling_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("t_metrics")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    progress = q.recentProgress
    assert progress, "recentProgress must capture the executed batches"
    total_rows = sum(p["numInputRows"] for p in progress)
    assert total_rows == 1000  # every event accounted for
    last = progress[-1]
    assert "durationMs" in last and "stateOperators" in last
    assert any(
        op.get("numRowsTotal", 0) > 0 for op in last["stateOperators"]
    ), "stateful aggregate must report its state size"


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark (Spark 3.5+): unlike plain
    dropDuplicates — whose per-key state lives forever — the dedup
    horizon is bounded by the watermark, so state is evictable (the
    only form that survives unbounded streams). Replays inside the
    horizon are dropped; the key becomes admissible again once the
    watermark passes it."""
    src = tmp_path / "ddw_src"
    src.mkdir()

    def mk(ids, ts_vals, fname):
        pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime(ts_vals),
                "user_id": [1] * len(ids),
                "event_type": ["x"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        ).to_parquet(src / fname, coerce_timestamps="us")

    import os
    import time as _time

    # batch 1: ids 1,2; batch 2 replays id 2 within the 10-minute
    # horizon (dropped) and brings id 3
    mk([1, 2], ["2024-01-01 10:00", "2024-01-01 10:01"], "b1.parquet")
    mk([2, 3], ["2024-01-01 10:02", "2024-01-01 10:03"], "b2.parquet")
    now = _time.time()
    os.utime(src / "b1.parquet", (now - 200, now - 200))
    os.utime(src / "b2.parquet", (now - 100, now - 100))

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    dedup = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = pipeline.run_to_memory(dedup, "t_ddw", str(tmp_path / "ckpt"))
    _await(q)
    got = sorted(
        r.event_id for r in spark.table("t_ddw").select("event_id").collect()
    )
    assert got == [1, 2, 3]


def test_processing_time_trigger_micro_batches(spark, events_dir, tmp_path):
    """Processing-time micro-batch trigger — the reference's actual
    execution mode (5 s batches, KafkaDirectStream.scala:41), here at
    1 s with maxFilesPerTrigger pacing. The query ticks on wall-clock
    until the source drains; we poll the sink, then stop gracefully
    (reference R10's ssc.stop(true, true), done right — the hook there
    was dead code, KDS:28-34)."""
    import time as _time

    stream = file_stream(
        spark, events_dir, events_schema(), max_files_per_trigger=1
    )
    q = (
        stream.groupBy("event_type")
        .count()
        .writeStream.format("memory")
        .queryName("t_proctime")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            total = sum(r["count"] for r in spark.table("t_proctime").collect())
            if total == 1000:
                break
            _time.sleep(0.5)
        assert total == 1000
        assert q.isActive  # keeps ticking until told to stop
    finally:
        q.stop()
        q.awaitTermination(30)
    assert not q.isActive


def test_rate_source_generated_stream(spark, tmp_path):
    """The built-in rate source: a broker-less generated stream
    (timestamp, monotonically increasing value) — the standard rig for
    load-testing a streaming topology without Kafka. Drives a
    projection + filter topology and checks monotone, gap-free
    values arrive."""
    import time as _time

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .withColumn("bucket", F.col("value") % 10)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_rate")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 45
        n = 0
        while _time.time() < deadline:
            n = spark.table("t_rate").count()
            if n >= 100:
                break
            _time.sleep(0.5)
        assert n >= 100, f"rate source produced only {n} rows"
        vals = sorted(r.value for r in spark.table("t_rate").collect())
        assert vals == list(range(vals[0], vals[0] + len(vals))), "gap-free"
    finally:
        q.stop()
        q.awaitTermination(30)


@pytest.mark.parametrize(
    "qname, transform",
    [
        ("q_funnel3", funnel3_counts),
        ("q_attribution", attribution_matrix),
        ("q_retention_matrix", retention_triangle),
        ("q_transition_matrix", transition_matrix),
        ("q_seq_pattern", seq_pattern_counts),
        ("q_bot_burst", bot_burst_report),
        ("q_inter_event", inter_event_profile),
        ("q_concurrent_peak", concurrent_peak_report),
        ("q_user_lifecycle", lifecycle_ledger),
        ("q_dau_mau", dau_mau_report),
        ("q_interval_overlap", interval_overlap_report),
        ("q_bollinger", bollinger_bands),
        ("q_hist2d", hist2d_grid),
        ("q_sessionize", sessionize_report),
        ("q_lag_features", lag_features_table),
        ("q_median_ci", median_ci_report),
        ("q_entropy_hour", entropy_hour_grid),
        ("q_robust_scale", robust_scale_report),
        ("q_burstiness", burstiness_report),
        ("q_mann_whitney", mann_whitney_stat),
        ("q_cogroup_asof", cogroup_asof_report),
        ("q_changepoint", changepoint_report),
        ("q_seasonality", seasonality_profile),
        ("q_cohort_ltv", cohort_ltv_curve),
        ("q_ab_test", ab_test_report),
        ("q_audience_overlap", audience_overlap_report),
        ("q_acf", acf_profile),
        ("q_cuped", cuped_report),
        ("q_sprt", sprt_table),
        ("q_mde_power", mde_power_table),
        ("q_qq_plot", qq_table),
        ("q_wilson_ci", wilson_ci_table),
        ("q_cochran_armitage", cochran_armitage_stat),
        ("q_mcnemar", mcnemar_cells),
        ("q_nelson_aalen", nelson_aalen_curve),
        ("q_welch_ttest", welch_ttest_stat),
        ("q_chi2", chi2_stat),
        ("q_anova", anova_stat),
        ("q_levene", levene_stat),
        ("q_cohens_d", cohens_d_stat),
        ("q_cramers_v", cramers_v_stat),
        ("q_runs_test", runs_test_stat),
        ("q_ab_proportions", ab_proportions_stat),
        ("q_bh_fdr", bh_fdr_table),
        ("q_fisher_method", fisher_method_stat),
        ("q_permutation_test", permutation_test_stat),
        ("q_kruskal_wallis", kruskal_wallis_stat),
        ("q_l_diversity", l_diversity_census),
        ("q_shapley_attribution", shapley_attribution),
        ("q_neyman_alloc", neyman_alloc),
        ("q_dp_laplace", dp_laplace_histogram),
        ("q_bootstrap_poisson", bootstrap_poisson_table),
        ("q_funnel_latency", funnel_latency_report),
        ("q_seasonal_anomaly", seasonal_anomaly_report),
        ("q_anomaly_mad", anomaly_mad_report),
        ("q_holt_linear", holt_linear),
        ("q_winsorize", winsorize_table),
        ("q_impute", impute_table),
        ("q_theil_sen", theil_sen_stat),
        ("q_sax_symbols", sax_table),
        ("q_friedman", friedman_stat),
        ("q_propensity_strata", propensity_strata),
        ("q_logrank", logrank_stat),
        ("q_cmh", cmh_stat),
    ],
)
def test_streaming_analytics_equal_batch(spark, events_dir, tmp_path, qname, transform):
    """§2.C streaming twins for the round-3 event analytics: events
    stream in via foreachBatch (the reference's foreachRDD successor),
    each micro-batch appends to a staged table and the analytic is
    recomputed over everything staged so far — after the final batch
    the report equals the batch analog exactly. This is the
    ingest-then-analyze shape the reference app ran (Kafka → store →
    process, KafkaDirectStream.scala:43-51), with the round-3
    analytics as the analyze step."""
    from direct_kafka_stream_spark import QUERIES

    expected = sorted(
        map(tuple, QUERIES[qname].spark(spark, SF_DIR).collect())
    )

    stage = str(tmp_path / "staged")
    result = str(tmp_path / "analytic_result")

    def process(batch_df, batch_id):
        batch_df.select(
            "user_id", "event_id", "event_type", "ts", "value", "props"
        ).write.mode("append").parquet(stage)
        transform(spark.read.parquet(stage)).write.mode(
            "overwrite"
        ).parquet(result)

    stream = file_stream(spark, events_dir, events_schema())
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.read.parquet(result).collect()))
    assert got == expected


def test_debounce_stateful_chain_collapse(spark, tmp_path):
    """The applyInPandasWithState debounce documented by
    q_event_debounce: survivors carry across micro-batches (an event
    in batch 2 within the gap of a batch-1 SURVIVOR is dropped), and
    the kept set equals a greedy chain-collapse computed directly."""
    import os
    import time as _time

    import pandas as pd

    from direct_kafka_stream_spark.streaming.transforms import debounce_stateful

    src = tmp_path / "deb_src"
    src.mkdir()

    base = pd.Timestamp("2024-01-01 10:00:00")

    def mk(ids, users, types, offsets_s):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": [base + pd.Timedelta(seconds=o) for o in offsets_s],
                "user_id": users,
                "event_type": types,
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )

    # user 1: burst at 0s, 100s, 200s (one survivor: 0s), then 400s
    # (kept: > 300s after survivor 0s). Batch 2 carries 650s (dropped:
    # within 300s of batch-1 survivor 400s) and 800s (kept).
    b1 = mk([1, 2, 3, 4], [1] * 4, ["click"] * 4, [0, 100, 200, 400])
    b2 = mk([5, 6], [1, 1], ["click", "click"], [650, 800])
    b1.to_parquet(src / "b1.parquet", coerce_timestamps="us")
    b2.to_parquet(src / "b2.parquet", coerce_timestamps="us")
    now = _time.time()
    os.utime(src / "b1.parquet", (now - 120, now - 120))
    os.utime(src / "b2.parquet", (now, now))

    stream = file_stream(spark, str(src), events_schema(), max_files_per_trigger=1)
    kept = debounce_stateful(stream, gap_s=300)
    q = pipeline.run_to_memory(
        kept, "t_debounce", str(tmp_path / "ckpt_deb"), output_mode="append"
    )
    _await(q)
    got = sorted(
        (r.user_id, r.event_type, r.ts_s - int(base.timestamp()))
        for r in spark.table("t_debounce").collect()
    )
    assert got == [(1, "click", 0), (1, "click", 400), (1, "click", 800)]


def test_sessionize_stateful_emits_closed_sessions(spark, tmp_path):
    """The applyInPandasWithState sessionizer: sessions carry across
    micro-batches (a batch-2 event within the gap of a user's open
    batch-1 session extends it, not restarts it), closed sessions are
    emitted exactly once, and the emitted set equals the batch analog
    q_sessionize minus each user's final (still-open) session."""
    import os
    import time as _time

    import duckdb

    from direct_kafka_stream_spark.operators.retrieval import (
        sessionize_report,
    )
    from direct_kafka_stream_spark.streaming.transforms import (
        sessionize_stateful,
    )

    # split the events fixture at the median timestamp so each user's
    # events arrive across the two micro-batches in event-time order
    src = tmp_path / "sess_src"
    src.mkdir()
    med = duckdb.sql(
        f"SELECT quantile_disc(ts, 0.5) FROM '{SF_DIR}/events.parquet'"
    ).fetchone()[0]
    duckdb.sql(
        f"COPY (SELECT event_id, ts, user_id, event_type, value, props "
        f"FROM '{SF_DIR}/events.parquet' WHERE ts <= TIMESTAMP '{med}') "
        f"TO '{src}/b1.parquet' (FORMAT PARQUET)"
    )
    duckdb.sql(
        f"COPY (SELECT event_id, ts, user_id, event_type, value, props "
        f"FROM '{SF_DIR}/events.parquet' WHERE ts > TIMESTAMP '{med}') "
        f"TO '{src}/b2.parquet' (FORMAT PARQUET)"
    )
    now = _time.time()
    os.utime(src / "b1.parquet", (now - 120, now - 120))
    os.utime(src / "b2.parquet", (now, now))

    stream = file_stream(
        spark, str(src), events_schema(), max_files_per_trigger=1
    )
    sessions = sessionize_stateful(stream, gap_s=1800)
    q = pipeline.run_to_memory(
        sessions, "t_sessions", str(tmp_path / "ckpt_sess"), output_mode="append"
    )
    _await(q)
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.duration_s)
        for r in spark.table("t_sessions").collect()
    }

    batch = sessionize_report(
        load_table(spark, SF_DIR, "events")
    ).collect()
    last_seq = {}
    for r in batch:
        last_seq[r.user_id] = max(last_seq.get(r.user_id, 0), r.session_seq)
    want = {
        (r.user_id, r.session_seq): (r.n_events, r.duration_s)
        for r in batch
        if r.session_seq != last_seq[r.user_id]
    }
    assert got == want
    assert want, "fixture should close at least one session"


def test_ivm_delta_maintains_live_aggregate(spark, tmp_path):
    """q_ivm_delta's LIVE twin: ivm_apply_delta in a foreachBatch sink
    maintains the per-status (n, revenue) aggregate across 3 CDC
    micro-batches (base-snapshot inserts, then the old→new delta as
    deletes/updates/inserts split over two batches), the view after
    EVERY batch equals a from-scratch recompute over the net rows
    applied so far, and the final view equals the batch analog
    q_ivm_delta hash-exactly — the retraction algebra is the same
    code path in both engines of the claim."""
    import os
    import time as _time

    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.operators.engine import (
        _NEW_PRED,
        _OLD_PRED,
        _OLD_PRICE,
    )
    from direct_kafka_stream_spark.streaming.transforms import (
        IVM_VIEW_SCHEMA,
        ivm_apply_delta,
    )

    o = load_table(spark, SF_DIR, "orders")
    old = o.filter(F.expr(_OLD_PRED)).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.expr(_OLD_PRICE).cast("double").alias("price"),
    )
    new = o.filter(F.expr(_NEW_PRED)).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    j = old.alias("o").join(new.alias("nw"), F.col("o.k") == F.col("nw.k"), "full_outer")
    ins = j.filter(F.col("o.k").isNull()).select(
        F.col("nw.k").alias("k"), F.col("nw.status").alias("status"),
        F.col("nw.price").alias("price"), F.lit("insert").alias("op"),
    )
    dels = j.filter(F.col("nw.k").isNull()).select(
        F.col("o.k").alias("k"), F.col("o.status").alias("status"),
        F.col("o.price").alias("price"), F.lit("delete").alias("op"),
    )
    upd = j.filter(
        F.col("o.k").isNotNull() & F.col("nw.k").isNotNull()
        & (F.col("o.price") != F.col("nw.price"))
    )
    upd_cdc = upd.select(
        F.col("o.k").alias("k"), F.col("o.status").alias("status"),
        F.col("o.price").alias("price"), F.lit("delete").alias("op"),
    ).unionAll(
        upd.select(
            F.col("nw.k").alias("k"), F.col("nw.status").alias("status"),
            F.col("nw.price").alias("price"), F.lit("insert").alias("op"),
        )
    )
    delta_cdc = ins.unionAll(dels).unionAll(upd_cdc)
    b1 = old.select("k", "status", "price", F.lit("insert").alias("op")).toPandas()
    b2 = delta_cdc.filter(F.col("k") % 2 == 0).toPandas()
    b3 = delta_cdc.filter(F.col("k") % 2 == 1).toPandas()
    assert len(b2) > 0 and len(b3) > 0  # every CDC op kind exercised

    src = tmp_path / "ivm_cdc_src"
    src.mkdir()
    now = _time.time()
    for i, b in enumerate((b1, b2, b3), start=1):
        p = src / f"b{i}.parquet"
        b.to_parquet(p)
        os.utime(p, (now - (4 - i) * 60, now - (4 - i) * 60))

    view_dir = str(tmp_path / "ivm_view")
    stage = str(tmp_path / "ivm_stage")
    history: list[tuple[int, list[tuple]]] = []

    def process(batch_df, batch_id):
        try:
            view = spark.read.parquet(view_dir)
        except Exception:
            view = spark.createDataFrame([], IVM_VIEW_SCHEMA)
        merged = ivm_apply_delta(view, batch_df)
        rows = merged.collect()  # statuses-sized; realized so the
        # overwrite below never reads its own output
        spark.createDataFrame(rows, IVM_VIEW_SCHEMA).write.mode(
            "overwrite"
        ).parquet(view_dir)
        batch_df.write.mode("append").parquet(stage)
        history.append(
            (batch_id, sorted((r.status, r.n, r.rev) for r in rows))
        )

    cdc_stream = (
        spark.readStream.schema("k long, status string, price double, op string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        cdc_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_ivm"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    assert len(history) == 3

    # after EVERY batch the maintained view == from-scratch recompute
    # over the net CDC rows applied so far (pandas recompute sums
    # doubles while the view carries exact decimals, so counts and
    # statuses compare exactly and revenue to 1e-6)
    assert spark.read.parquet(stage).count() == len(b1) + len(b2) + len(b3)
    for batch_id, got in sorted(history):
        frames = [b1, b2, b3][: batch_id + 1]
        allpdf = pd.concat(frames)
        sign = allpdf["op"].map({"insert": 1, "delete": -1})
        net = (
            allpdf.assign(sn=sign, sp=sign * allpdf["price"])
            .groupby("status", as_index=False)
            .agg(n=("sn", "sum"), rev=("sp", "sum"))
        )
        net = net[net["n"] != 0].sort_values("status")
        expected = [(r.status, int(r.n), float(r.rev)) for r in net.itertuples()]
        assert [(s, n) for s, n, _ in got] == [(s, n) for s, n, _ in expected], (
            f"batch {batch_id} keys/counts diverged"
        )
        for (_, _, rev_got), (_, _, rev_exp) in zip(got, expected):
            assert abs(float(rev_got) - rev_exp) < 1e-6, f"batch {batch_id} revenue"

    # final view == the batch analog q_ivm_delta, hash-exactly
    batch_expected = sorted(
        map(tuple, QUERIES["q_ivm_delta"].spark(spark, SF_DIR).collect())
    )
    final = spark.read.parquet(view_dir).select(
        "status", "n", F.round("rev", 4).cast("double").alias("revenue")
    )
    assert sorted(map(tuple, final.collect())) == batch_expected


def test_ivm_join_maintains_live_join_view(spark, tmp_path):
    """q_ivm_join's LIVE twin: ivm_join_apply_delta in a foreachBatch
    sink maintains the per-segment (n, revenue) JOIN view across 3
    micro-batches of two-sided inserts (base snapshots, then the R/S
    deltas split over two batches — so every batch exercises ΔR⋈S_acc,
    R_acc⋈ΔS and ΔR⋈ΔS), the view after EVERY batch equals a
    from-scratch join recompute over the rows applied so far, and the
    final view equals the batch analog q_ivm_join hash-exactly."""
    import os
    import time as _time

    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.operators.engine import _IVM_R_OLD, _IVM_S_OLD
    from direct_kafka_stream_spark.streaming.transforms import (
        IVM_JOIN_VIEW_SCHEMA,
        ivm_join_apply_delta,
    )

    o = load_table(spark, SF_DIR, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_totalprice").cast("double").alias("price"),
        F.expr(_IVM_R_OLD).alias("is_old"),
        (F.col("o_orderkey") % 2 == 0).alias("even"),
    )
    c = load_table(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.expr(_IVM_S_OLD).alias("is_old"),
        (F.col("c_custkey") % 2 == 0).alias("even"),
    )

    def pack(df, side):
        return df.select(
            F.lit(side).alias("side"),
            "custkey",
            (F.col("price") if side == "R" else F.lit(None).cast("double")).alias(
                "price"
            ),
            (F.col("segment") if side == "S" else F.lit(None).cast("string")).alias(
                "segment"
            ),
        ).toPandas()

    b1 = pd.concat([pack(o.filter("is_old"), "R"), pack(c.filter("is_old"), "S")])
    b2 = pd.concat(
        [
            pack(o.filter(~F.col("is_old") & F.col("even")), "R"),
            pack(c.filter(~F.col("is_old") & F.col("even")), "S"),
        ]
    )
    b3 = pd.concat(
        [
            pack(o.filter(~F.col("is_old") & ~F.col("even")), "R"),
            pack(c.filter(~F.col("is_old") & ~F.col("even")), "S"),
        ]
    )
    # every batch after the base carries BOTH sides so all three
    # bilinear terms fire
    assert (b2["side"] == "R").any() and (b2["side"] == "S").any()
    assert (b3["side"] == "R").any() and (b3["side"] == "S").any()

    src = tmp_path / "ivmj_src"
    src.mkdir()
    now = _time.time()
    for i, b in enumerate((b1, b2, b3), start=1):
        p = src / f"b{i}.parquet"
        b.to_parquet(p)
        os.utime(p, (now - (4 - i) * 60, now - (4 - i) * 60))

    view_dir = str(tmp_path / "ivmj_view")
    r_dir = str(tmp_path / "ivmj_r")
    s_dir = str(tmp_path / "ivmj_s")
    history: list[tuple[int, list[tuple]]] = []

    def read_or_empty(path, schema):
        try:
            return spark.read.parquet(path)
        except Exception:
            return spark.createDataFrame([], schema)

    def process(batch_df, batch_id):
        d_r = batch_df.filter(F.col("side") == "R").select("custkey", "price")
        d_s = batch_df.filter(F.col("side") == "S").select("custkey", "segment")
        view = read_or_empty(view_dir, IVM_JOIN_VIEW_SCHEMA)
        r_acc = read_or_empty(r_dir, "custkey long, price double")
        s_acc = read_or_empty(s_dir, "custkey long, segment string")
        merged = ivm_join_apply_delta(view, r_acc, s_acc, d_r, d_s)
        rows = merged.collect()  # segments-sized
        spark.createDataFrame(rows, IVM_JOIN_VIEW_SCHEMA).write.mode(
            "overwrite"
        ).parquet(view_dir)
        d_r.write.mode("append").parquet(r_dir)
        d_s.write.mode("append").parquet(s_dir)
        history.append(
            (batch_id, sorted((r.segment, r.n, r.rev) for r in rows))
        )

    stream = (
        spark.readStream.schema(
            "side string, custkey long, price double, segment string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_ivmj"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    assert len(history) == 3

    # after EVERY batch: view == from-scratch join recompute over the
    # rows applied so far
    for batch_id, got in sorted(history):
        frames = pd.concat([b1, b2, b3][: batch_id + 1])
        r_pd = frames[frames["side"] == "R"][["custkey", "price"]]
        s_pd = frames[frames["side"] == "S"][["custkey", "segment"]]
        joined = r_pd.merge(s_pd, on="custkey")
        net = (
            joined.groupby("segment", as_index=False)
            .agg(n=("price", "size"), rev=("price", "sum"))
            .sort_values("segment")
        )
        expected = [(r.segment, int(r.n), float(r.rev)) for r in net.itertuples()]
        assert [(s, n) for s, n, _ in got] == [(s, n) for s, n, _ in expected], (
            f"batch {batch_id} keys/counts diverged"
        )
        for (_, _, rev_got), (_, _, rev_exp) in zip(got, expected):
            assert abs(float(rev_got) - rev_exp) < 1e-6, f"batch {batch_id} revenue"

    # final view == the batch analog q_ivm_join, hash-exactly
    batch_expected = sorted(
        map(tuple, QUERIES["q_ivm_join"].spark(spark, SF_DIR).collect())
    )
    final = spark.read.parquet(view_dir).select(
        "segment", "n", F.round("rev", 4).cast("double").alias("revenue")
    )
    assert sorted(map(tuple, final.collect())) == batch_expected


@pytest.fixture(scope="module")
def orders_dir(spark, tmp_path_factory):
    """Orders fixture staged for file-streaming (the CDC-feed shape)."""
    d = tmp_path_factory.mktemp("orders_stream_src")
    load_table(spark, SF_DIR, "orders").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return str(d)


@pytest.mark.parametrize(
    "qname, transform",
    [
        ("q_islands", islands_report),
        ("q_date_gaps", date_gaps_report),
        ("q_cusum", cusum_report),
        ("q_grubbs", grubbs_report),
        ("q_mom_growth", mom_growth_report),
        ("q_hist_equi", hist_equi_report),
        ("q_rfm", rfm_report),
        ("q_scd2", scd2_table),
        ("q_ewma", ewma_series),
        ("q_zonemap_prune", zonemap_report),
        ("q_benford", benford_report),
        ("q_quantile_bins", quantile_bins_table),
    ],
)
def test_streaming_orders_analytics_equal_batch(
    spark, orders_dir, tmp_path, qname, transform
):
    """Orders-surface streaming twins: the same ingest-then-analyze
    foreachBatch shape as the events twins (stage each micro-batch,
    recompute the analytic over everything staged), proving the
    orders-table analytics — gap/island detection, CUSUM/Grubbs
    monitors, SCD2 builds, RFM, EWMA — are batch/stream-unified too."""
    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.sources.files import orders_schema

    expected = sorted(
        map(tuple, QUERIES[qname].spark(spark, SF_DIR).collect())
    )

    stage = str(tmp_path / "staged_orders")
    result = str(tmp_path / "orders_analytic_result")

    def process(batch_df, batch_id):
        batch_df.write.mode("append").parquet(stage)
        transform(spark.read.parquet(stage)).write.mode(
            "overwrite"
        ).parquet(result)

    stream = file_stream(spark, orders_dir, orders_schema())
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_orders"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.read.parquet(result).collect()))
    assert got == expected


@pytest.fixture(scope="module")
def documents_dir(spark, tmp_path_factory):
    """Documents fixture staged for file-streaming (the corpus-landing
    shape: crawler output arriving as files)."""
    d = tmp_path_factory.mktemp("documents_stream_src")
    load_table(spark, SF_DIR, "documents").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return str(d)


@pytest.mark.parametrize(
    "qname, transform",
    [
        ("q_dedup_exact", dedup_exact_keep_first),
        ("q_text_quality", text_quality_report),
        ("q_text_langid", text_langid_report),
        ("q_gopher_rules", gopher_rules_census),
        ("q_text_entropy", text_entropy_report),
        ("q_readability", readability_report),
        ("q_hapax", hapax_report),
        ("q_k_anonymity", k_anonymity_census),
        ("q_textrank", textrank_on),
        ("q_map_in_arrow", arrow_counts),
    ],
)
def test_streaming_documents_analytics_equal_batch(
    spark, documents_dir, tmp_path, qname, transform
):
    """Documents-surface streaming twins: the curation analytics —
    exact dedup, quality/Gopher gates, language-ID, entropy,
    readability, vocabulary health, the k-anonymity release audit,
    TextRank — recomputed per micro-batch over the staged corpus and
    equal to the batch analog after the final batch. This is the
    crawl-ingest shape of an LLM data pipeline: documents land as
    files, the curation ledger stays fresh per batch."""
    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.sources.files import documents_schema

    expected = sorted(
        map(tuple, QUERIES[qname].spark(spark, SF_DIR).collect())
    )

    stage = str(tmp_path / "staged_docs")
    result = str(tmp_path / "docs_analytic_result")

    def process(batch_df, batch_id):
        batch_df.write.mode("append").parquet(stage)
        transform(spark.read.parquet(stage)).write.mode(
            "overwrite"
        ).parquet(result)

    stream = file_stream(spark, documents_dir, documents_schema())
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt_docs"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.read.parquet(result).collect()))
    assert got == expected

def test_incremental_curation_matches_batch_pipeline(spark, tmp_path):
    """End-to-end incremental corpus curation (round-6 directive #5):
    documents arrive in 3 doc_id-ordered micro-batches; a foreachBatch
    sink maintains the sha256 seen-set, the LSH band store and the
    word-array store, accepting each batch's docs only if they survive
    the quality gate, the exact dedup against everything seen, and the
    near-dup check against the accumulated corpus. The accumulated
    accepted set after all batches must equal the batch analog
    q_curation_pipeline over the union, hash-exactly."""
    import os
    import time as _time

    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.streaming.transforms import (
        CURATION_ACCEPTED_SCHEMA,
        CURATION_BANDS_SCHEMA,
        CURATION_SEEN_SCHEMA,
        CURATION_WARR_SCHEMA,
        curation_apply_batch,
    )

    docs = load_table(spark, SF_DIR, "documents")
    n_docs = docs.count()
    lo, hi = (
        docs.agg(
            F.expr("percentile(doc_id, 0.34)"), F.expr("percentile(doc_id, 0.67)")
        ).collect()[0]
    )
    parts = [
        docs.filter(F.col("doc_id") <= lo),
        docs.filter((F.col("doc_id") > lo) & (F.col("doc_id") <= hi)),
        docs.filter(F.col("doc_id") > hi),
    ]
    assert sum(p.count() for p in parts) == n_docs
    assert all(p.count() > 0 for p in parts)

    src = tmp_path / "cur_src"
    src.mkdir()
    now = _time.time()
    for i, p in enumerate(parts, start=1):
        dest = src / f"b{i}.parquet"
        p.toPandas().to_parquet(dest)
        os.utime(dest, (now - (4 - i) * 60, now - (4 - i) * 60))

    stores = {
        "seen": (str(tmp_path / "cur_seen"), CURATION_SEEN_SCHEMA),
        "bands": (str(tmp_path / "cur_bands"), CURATION_BANDS_SCHEMA),
        "warr": (str(tmp_path / "cur_warr"), CURATION_WARR_SCHEMA),
        "accepted": (str(tmp_path / "cur_acc"), CURATION_ACCEPTED_SCHEMA),
    }
    n_batches = []

    def read_or_empty(key):
        path, schema = stores[key]
        try:
            return spark.read.parquet(path)
        except Exception:
            return spark.createDataFrame([], schema)

    def process(batch_df, batch_id):
        out = curation_apply_batch(
            batch_df,
            read_or_empty("seen"),
            read_or_empty("bands"),
            read_or_empty("warr"),
        )
        out["accepted"].write.mode("append").parquet(stores["accepted"][0])
        out["seen_delta"].write.mode("append").parquet(stores["seen"][0])
        out["bands_delta"].write.mode("append").parquet(stores["bands"][0])
        out["warr_delta"].write.mode("append").parquet(stores["warr"][0])
        n_batches.append(batch_id)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    _await(pipeline.run_foreach_batch(stream, process, str(tmp_path / "ckpt_cur")))
    assert len(n_batches) == 3

    got = sorted(
        (r.doc_id, int(r.n_tokens))
        for r in spark.read.parquet(stores["accepted"][0]).collect()
    )
    expected = sorted(
        (r.doc_id, int(r.n_tokens))
        for r in QUERIES["q_curation_pipeline"].spark(spark, SF_DIR).collect()
    )
    assert got == expected
    # the incremental run must have actually rejected something, or the
    # equality is vacuous for the dedup stages
    n_gated = docs.filter(
        F.col("lang").isin("en", "es", "de", "fr")
        & F.col("n_chars").between(50, 100000)
    ).count()
    assert len(got) < n_gated


# ---------------------------------------------------------------------------
# round-8 table-staging twins: lineitem (Spearman), customer (weighted
# median), and the fact-stream-vs-static-dims shape (Gini) — the
# production pattern where the FACT table streams in while dimension
# tables stay static, and the analytic is recomputed per micro-batch.
# ---------------------------------------------------------------------------


def _staged_table_dir(spark, tmp_path, table):
    d = tmp_path / f"{table}_stream_src"
    load_table(spark, SF_DIR, table).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(d))
    return str(d)


_LINEITEM_DDL = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)
_CUSTOMER_DDL = (
    "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
    "c_mktsegment string"
)


def _run_table_twin(spark, tmp_path, qname, table, ddl, transform):
    """Stage `table` as a file stream, recompute `transform` over
    everything staged per micro-batch, and compare the final result to
    the batch registry query."""
    from direct_kafka_stream_spark import QUERIES

    expected = sorted(
        map(tuple, QUERIES[qname].spark(spark, SF_DIR).collect())
    )
    src = _staged_table_dir(spark, tmp_path, table)
    stage = str(tmp_path / "staged")
    result = str(tmp_path / "result")

    def process(batch_df, batch_id):
        batch_df.write.mode("append").parquet(stage)
        transform(spark.read.parquet(stage)).write.mode(
            "overwrite"
        ).parquet(result)

    q = (
        file_stream(spark, src, ddl)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.read.parquet(result).collect()))
    assert got == expected


def test_streaming_lineitem_spearman_equal_batch(spark, tmp_path):
    """Spearman over a lineitem stream: the bin-stitched rank kernel
    is recomputable per micro-batch and lands exactly on the batch
    answer once the stream drains."""
    from direct_kafka_stream_spark.operators.hypothesis import spearman_report

    _run_table_twin(
        spark, tmp_path, "q_spearman", "lineitem", _LINEITEM_DDL,
        spearman_report,
    )


def test_streaming_customer_weighted_median_equal_batch(spark, tmp_path):
    """Weighted median per segment over a customer stream: the
    bin-then-refine two-pass is batch/stream-unified."""
    from direct_kafka_stream_spark.operators.profiling import weighted_median_report

    _run_table_twin(
        spark, tmp_path, "q_weighted_median", "customer", _CUSTOMER_DDL,
        weighted_median_report,
    )


def test_streaming_orders_gini_static_dims_equal_batch(spark, tmp_path):
    """The fact-stream-vs-static-dims shape: ORDERS stream in while
    customer and nation stay static batch tables — each micro-batch
    recomputes revenue concentration over all staged facts joined to
    the unchanged dims, landing exactly on the batch Gini. This is the
    canonical production layout (facts land continuously, dims are
    slowly changing) the reference app approximated with its
    store-then-process loop (KafkaDirectStream.scala:43-51)."""
    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.operators.profiling import gini_report
    from direct_kafka_stream_spark.sources.files import orders_schema

    expected = sorted(
        map(tuple, QUERIES["q_gini"].spark(spark, SF_DIR).collect())
    )
    src = _staged_table_dir(spark, tmp_path, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    stage = str(tmp_path / "staged")
    result = str(tmp_path / "result")

    def process(batch_df, batch_id):
        batch_df.write.mode("append").parquet(stage)
        gini_report(spark.read.parquet(stage), cust, nation).write.mode(
            "overwrite"
        ).parquet(result)

    q = (
        file_stream(spark, src, orders_schema())
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.read.parquet(result).collect()))
    assert got == expected


@pytest.mark.parametrize(
    "qname, importer",
    [
        ("q_hhi", lambda: hhi_report),
        ("q_pareto_share", lambda: pareto_share_report),
    ],
)
def test_streaming_orders_concentration_static_dims_equal_batch(
    spark, tmp_path, qname, importer
):
    """The other two concentration metrics in the fact-stream-vs-
    static-dims shape: HHI (orders ⋈ static customer) and Pareto
    share (orders ⋈ static customer ⋈ static nation) recomputed per
    micro-batch over all staged facts, landing exactly on the batch
    answers."""
    import inspect

    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.sources.files import orders_schema

    report = importer()
    expected = sorted(
        map(tuple, QUERIES[qname].spark(spark, SF_DIR).collect())
    )
    src = _staged_table_dir(spark, tmp_path, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    nation = load_table(spark, SF_DIR, "nation")
    dims = (cust, nation)[: len(inspect.signature(report).parameters) - 1]
    stage = str(tmp_path / "staged")
    result = str(tmp_path / "result")

    def process(batch_df, batch_id):
        batch_df.write.mode("append").parquet(stage)
        report(spark.read.parquet(stage), *dims).write.mode(
            "overwrite"
        ).parquet(result)

    q = (
        file_stream(spark, src, orders_schema())
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    got = sorted(map(tuple, spark.read.parquet(result).collect()))
    assert got == expected
