"""Round-8 streaming machinery: RocksDB-backed stateful query at
registry level, the StreamingQueryListener ledger, and the Python
DataSource V2 streaming writer's two-phase commit protocol.

The registry queries themselves are differentially checked against
DuckDB (scripts/check_oracle.py); these tests pin the PROTOCOL
properties the oracle can't see — staged-but-uncommitted output stays
invisible, manifests account for every published row, abort cleans
the staging area, and the provider conf is restored after the run.
"""

from __future__ import annotations

import json

import pytest

from tests.conftest import SF_DIR


def test_stream_pyds_write_two_phase_commit(spark, tmp_path):
    """End-to-end through the registry entry, then inspect the sink
    dir: per-batch manifests sum to the published row count, staging
    is empty after commit, and ≥2 batchIds actually committed
    (maxFilesPerTrigger=1 over a 2-file source)."""
    from direct_kafka_stream_spark.operators.stream_exhibits import pyds_write_report

    out = pyds_write_report(spark, SF_DIR, str(tmp_path / "pysink"))
    got = {r.event_type: (r.n, r.id_sum) for r in out.collect()}

    from direct_kafka_stream_spark.io import load_table
    from pyspark.sql import functions as F

    want = {
        r.event_type: (r.n, r.id_sum)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .collect()
    }
    assert got == want

    sink = tmp_path / "pysink" / "out"
    manifests = [json.loads(p.read_text()) for p in sink.glob("_commit-*.json")]
    published = list(sink.glob("batch-*.jsonl"))
    assert len(manifests) >= 2, "expected one commit per micro-batch"
    assert sorted(m["batchId"] for m in manifests) == list(range(len(manifests)))
    n_lines = sum(
        sum(1 for _ in p.open()) for p in published
    )
    assert n_lines == sum(m["rows"] for m in manifests) == sum(
        n for n, _ in want.values()
    )
    assert not list((sink / "_staging").glob("*")), "staging must drain on commit"


def test_stream_pyds_write_from_worker_thread(spark):
    """The registered query finds its Python data source sink from a
    thread other than the main one, and returns the main thread's
    result."""
    import threading

    from direct_kafka_stream_spark import QUERIES
    from direct_kafka_stream_spark.caching import clear_materialized
    from scripts.check_oracle import normalize

    run = QUERIES["q_stream_pyds_write"].spark
    want = normalize(run(spark, SF_DIR).toPandas())
    clear_materialized()
    out = {}

    def worker():
        try:
            out["got"] = normalize(run(spark, SF_DIR).toPandas())
        except Exception as e:
            out["error"] = e
        finally:
            clear_materialized()

    t = threading.Thread(target=worker)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert "error" not in out, out.get("error")
    assert out["got"] == want


def test_pyds_writer_abort_discards_staging(tmp_path):
    """The abort() hook (called by the engine on batch failure) must
    remove staged temp files so a retried batch can't double-publish."""
    from direct_kafka_stream_spark.sources.pyds import (
        JsonlStreamWriter,
        _StagedFile,
    )

    w = JsonlStreamWriter({"path": str(tmp_path)})
    staged = tmp_path / "_staging" / "x.jsonl"
    staged.parent.mkdir()
    staged.write_text('{"event_id": 1}\n')
    w.abort([_StagedFile(str(staged), 1), None], batchId=0)
    assert not staged.exists()
    # and commit skips empty partitions without publishing files
    empty = tmp_path / "_staging" / "empty.jsonl"
    empty.write_text("")
    w.commit([_StagedFile(str(empty), 0)], batchId=7)
    assert not empty.exists()
    assert not list(tmp_path.glob("batch-7-*.jsonl"))
    assert json.loads((tmp_path / "_commit-7.json").read_text())["rows"] == 0


def test_pyds_sink_checkpoint_resume_exactly_once(spark, tmp_path):
    """The Structured-Streaming rendition of the reference's ZooKeeper
    offset-recovery acceptance test (reference README.md:160-176),
    through the PYTHON sink: run availableNow over file A, then add
    file B and restart from the SAME checkpoint — the second run must
    process ONLY B (no reprocessing, no loss), and the published
    output holds every row exactly once across both runs."""
    import pandas as pd

    from direct_kafka_stream_spark.sources.files import file_stream
    from direct_kafka_stream_spark.sources.pyds import JsonlSinkDataSource

    try:
        spark.dataSource.register(JsonlSinkDataSource)
    except Exception:
        pass
    src = tmp_path / "src"
    src.mkdir()
    out = tmp_path / "out"
    out.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, event_type string"

    def run_once():
        q = (
            file_stream(spark, str(src), schema)
            .writeStream.format("dks_jsonl_sink")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    pd.DataFrame({"event_id": [1, 2, 3], "event_type": ["a", "b", "a"]}).to_parquet(
        src / "a.parquet"
    )
    run_once()
    pd.DataFrame({"event_id": [4, 5], "event_type": ["c", "a"]}).to_parquet(
        src / "b.parquet"
    )
    run_once()

    published = sorted(
        json.loads(line)["event_id"]
        for p in out.glob("batch-*.jsonl")
        for line in p.open()
    )
    assert published == [1, 2, 3, 4, 5]  # exactly once, no replays/losses
    manifests = {
        json.loads(p.read_text())["batchId"]: json.loads(p.read_text())["rows"]
        for p in out.glob("_commit-*.json")
    }
    assert manifests == {0: 3, 1: 2}


def test_pyds_commit_replay_is_idempotent(tmp_path):
    """A replayed batchId (engine retry) must REPLACE its previous
    publication — including when the retry has fewer partitions —
    never accumulate duplicates."""
    from direct_kafka_stream_spark.sources.pyds import (
        JsonlStreamWriter,
        _StagedFile,
    )

    w = JsonlStreamWriter({"path": str(tmp_path)})

    def stage(rows):
        p = tmp_path / "_staging" / f"{rows[0]}.jsonl"
        p.parent.mkdir(exist_ok=True)
        p.write_text("".join(json.dumps({"event_id": r}) + "\n" for r in rows))
        return _StagedFile(str(p), len(rows))

    # first attempt: 3 partitions
    w.commit([stage([1]), stage([2]), stage([3])], batchId=5)
    assert len(list(tmp_path.glob("batch-5-*.jsonl"))) == 3
    # replay with 2 partitions: attempt-1's third file must not survive
    w.commit([stage([1, 2]), stage([3])], batchId=5)
    files = sorted(tmp_path.glob("batch-5-*.jsonl"))
    assert len(files) == 2
    rows = sorted(
        json.loads(line)["event_id"] for p in files for line in p.open()
    )
    assert rows == [1, 2, 3]
    assert json.loads((tmp_path / "_commit-5.json").read_text())["rows"] == 3


def test_stream_listener_ledger_accounts_every_row(spark):
    from direct_kafka_stream_spark.io import load_table
    from direct_kafka_stream_spark.operators.stream_exhibits import q_stream_listener

    row = q_stream_listener(spark, SF_DIR).collect()[0]
    ev = load_table(spark, SF_DIR, "events")
    assert row.input_rows == ev.count()
    assert row.n_groups == ev.select("event_type").distinct().count()
    # the listener must not leak into the session
    assert not spark.streams.active


def test_stream_rocksdb_restores_provider_conf(spark):
    from direct_kafka_stream_spark.operators.stream_exhibits import q_stream_rocksdb
    from direct_kafka_stream_spark.sources.files import PROVIDER_CONF

    before = spark.conf.get(PROVIDER_CONF, None)
    out = q_stream_rocksdb(spark, SF_DIR)
    assert out.count() > 0
    assert spark.conf.get(PROVIDER_CONF, None) == before
    # memory-sink temp view dropped: repeated invocations don't accumulate
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("dks_rocks_")
    ]


# ---------------------------------------------------------------------------
# round-8 second batch: state data source reader + offset/commit ledger
# ---------------------------------------------------------------------------


def test_state_reader_matches_batch_aggregate(spark):
    """The statestore read of a drained stateful aggregation must equal
    the plain batch aggregate — key by key, including the decimal sum
    buffer's final rounding."""
    from direct_kafka_stream_spark.exprs import dsum
    from direct_kafka_stream_spark.io import load_table
    from direct_kafka_stream_spark.operators.stream_exhibits import (
        q_stream_state_reader,
    )
    from pyspark.sql import functions as F

    got = {
        r.event_type: (r.n, r.total)
        for r in q_stream_state_reader(spark, SF_DIR).collect()
    }
    want = {
        r.event_type: (r.n, r.total)
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("total"))
        .collect()
    }
    assert got == want
    assert not spark.streams.active


def _write_log(d, name, batch_id, lines):
    p = d / name
    p.mkdir(parents=True, exist_ok=True)
    (p / str(batch_id)).write_text("\n".join(lines) + "\n")


def _ledger_fixture(d, n_batches, *, files_per_batch=None, drop_commit=None,
                    drop_offset=None, drop_source=None, dup_file=False):
    """Hand-craft a minimal file-source checkpoint ledger (offsets/,
    commits/, sources/0/), optionally with exactly one injected fault.
    The SINGLE place that knows the on-disk log format — the parser's
    property test (tests/test_properties.py) imports this too, so a
    format change can't leave one test file pinning a stale shape."""
    files_per_batch = files_per_batch or [1] * n_batches
    meta = json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}})
    fid = 0
    for b in range(n_batches):
        if b != drop_offset:
            _write_log(d, "offsets", b, ["v1", meta, json.dumps({"logOffset": b})])
        if b != drop_commit:
            _write_log(
                d, "commits", b, ["v1", json.dumps({"nextBatchWatermarkMs": 0})]
            )
        if b != drop_source:
            lines = ["v1"]
            for _ in range(files_per_batch[b]):
                name = 0 if dup_file else fid
                lines.append(json.dumps(
                    {"path": f"file:///src/part-{name:04d}.parquet",
                     "timestamp": 0, "batchId": b}
                ))
                fid += 1
            _write_log(d, "sources/0", b, lines)


def test_offset_ledger_accepts_clean_run(tmp_path):
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 3)
    ledger = read_stream_ledger(str(tmp_path))
    assert ledger["batches"] == [0, 1, 2]
    assert ledger["commits"] == [0, 1, 2]
    assert sorted(ledger["files"].values()) == [0, 1, 2]


def test_offset_ledger_rejects_uncommitted_batch(tmp_path):
    """An offsets entry without a matching commit is an in-flight or
    crashed batch — the drained-run audit must refuse it, exactly the
    condition the reference's sink-then-ZK-commit ordering guarded."""
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 2, drop_commit=1)
    with pytest.raises(RuntimeError, match="uncommitted"):
        read_stream_ledger(str(tmp_path))


def test_offset_ledger_rejects_hole_in_batch_ids(tmp_path):
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 3, drop_offset=1, drop_commit=1)
    with pytest.raises(RuntimeError, match="holes"):
        read_stream_ledger(str(tmp_path))


def test_offset_ledger_rejects_double_assignment(tmp_path):
    """The same input file claimed by two batches IS double-processing;
    the audit must name the file and both batches."""
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 2, dup_file=True)
    with pytest.raises(RuntimeError, match="double-processing"):
        read_stream_ledger(str(tmp_path))


def test_offset_ledger_rejects_unknown_log_version(tmp_path):
    """A version header this parser doesn't know must fail loudly, not
    parse as garbage."""
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 1)
    (tmp_path / "offsets" / "0").write_text(
        "v9\n{}\n" + json.dumps({"logOffset": 0}) + "\n"
    )
    with pytest.raises(RuntimeError, match="v1"):
        read_stream_ledger(str(tmp_path))


def test_offset_ledger_rejects_offset_index_mismatch(tmp_path):
    """The file source's offset IS the metadata-log index; a recorded
    logOffset that disagrees with the batch id means the ledger and
    the source state have diverged."""
    import json as _json

    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 1)
    meta = _json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": 0, "conf": {}})
    (tmp_path / "offsets" / "0").write_text(
        "v1\n" + meta + "\n" + _json.dumps({"logOffset": 7}) + "\n"
    )
    with pytest.raises(RuntimeError, match="logOffset"):
        read_stream_ledger(str(tmp_path))


def test_state_reader_time_travel_matches_batch0_inputs(spark, tmp_path):
    """State TIME TRAVEL: `option("batchId", 0)` reads the store as of
    the FIRST micro-batch, and the offset ledger pins exactly which
    input files that batch consumed — so the time-traveled state must
    equal the aggregate of those files alone. This is the audit a
    production incident needs: 'what did the state hold before batch N
    went wrong', answered without replaying the stream (the capability
    the reference's ZooKeeper offset history only gestured at)."""
    from direct_kafka_stream_spark.sources.files import (
        event_type_totals,
        events_schema,
        file_stream,
        stage_events,
    )
    from direct_kafka_stream_spark.streaming.checkpoint import (
        read_state,
        read_stream_ledger,
    )
    from direct_kafka_stream_spark.streaming.pipeline import drain
    from pyspark.sql import functions as F

    scratch = str(tmp_path / "tt")
    src = stage_events(spark, SF_DIR, n_files=2)
    ckpt = f"{scratch}/ckpt"
    agg = event_type_totals(
        file_stream(spark, src, events_schema(), max_files_per_trigger=1)
    )
    drain(agg.writeStream.format("noop").outputMode("update"), ckpt)

    ledger = read_stream_ledger(ckpt)
    assert ledger["batches"] == [0, 1]
    batch0_files = [p for p, b in ledger["files"].items() if b == 0]
    assert len(batch0_files) == 1

    got = read_state(spark, ckpt, "event_type", batch_id=0)
    want = {
        r.event_type: (r.n, r.s)
        for r in spark.read.schema(events_schema())
        .parquet(*batch0_files)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,10)")).alias("s"),
        )
        .collect()
    }
    assert got == want
    # and the final state strictly extends batch 0's: counts only grow
    final = read_state(spark, ckpt, "event_type")
    assert all(final[k][0] >= n for k, (n, _) in got.items())


def test_file_sink_manifest_accounts_every_published_row(spark, tmp_path):
    """The SINK half of exactly-once: the parquet streaming sink's
    `_spark_metadata/<batchId>` manifest lists exactly the files each
    batch published ("add" actions) — a batch reader of the directory
    trusts the manifest, not the directory listing, which is how
    half-written or orphaned part files stay invisible. Reading back
    ONLY the manifested files must reproduce the source exactly
    (row-count conservation per batch and in total), mirroring the
    source-side ledger audit in q_stream_offset_log."""
    from direct_kafka_stream_spark.io import load_table
    from direct_kafka_stream_spark.sources.files import (
        events_schema,
        file_stream,
        stage_events,
    )
    from direct_kafka_stream_spark.streaming.checkpoint import log_ids, log_lines
    from direct_kafka_stream_spark.streaming.pipeline import drain

    scratch = str(tmp_path / "sink")
    src = stage_events(spark, SF_DIR, n_files=2)
    out = f"{scratch}/out"
    rows = file_stream(
        spark, src, events_schema(), max_files_per_trigger=1
    ).select("event_id", "event_type")
    drain(
        rows.writeStream.format("parquet").option("path", out),
        f"{scratch}/ckpt",
    )

    meta = f"{out}/_spark_metadata"
    batch_ids = log_ids(meta)
    assert batch_ids == [0, 1]
    manifested: list[str] = []
    for b in batch_ids:
        # log_lines raises unless the entry carries the v1 header
        for line in log_lines(meta, b):
            entry = json.loads(line)
            assert entry["action"] == "add"
            manifested.append(entry["path"])
    assert len(set(manifested)) == len(manifested), "file published twice"

    src_n = load_table(spark, SF_DIR, "events").count()
    # manifest-driven read == directory read == source count
    by_manifest = spark.read.schema(
        "event_id long, event_type string"
    ).parquet(*manifested)
    assert by_manifest.count() == src_n
    # and Spark's own batch reader of a sink dir honors the manifest
    assert spark.read.parquet(out).count() == src_n


def test_restarted_stream_ledger_and_state_stay_consistent(spark, tmp_path):
    """Recovery capstone: run a STATEFUL aggregation over file A, then
    add file B and restart from the same checkpoint. Afterwards the
    combined checkpoint must satisfy every exactly-once invariant at
    once — the offset ledger accepts (contiguous, fully committed,
    A→batch 0 and B→batch 1, nothing reprocessed), the LIVE state
    equals the batch aggregate of A∪B (state carried across the
    restart), and time-traveled batch-0 state equals A alone. This is
    the reference's restart-recovery acceptance narrative (reference
    README.md:160-176) with the audit the reference never had."""
    import pandas as pd

    from direct_kafka_stream_spark.streaming.checkpoint import (
        read_state,
        read_stream_ledger,
    )
    from direct_kafka_stream_spark.streaming.pipeline import drain
    from direct_kafka_stream_spark.sources.files import file_stream
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    ckpt = f"{tmp_path}/ckpt"
    schema = "k string, v long"

    def run_once():
        agg = (
            file_stream(spark, str(src), schema)
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        )
        drain(agg.writeStream.format("noop").outputMode("update"), ckpt)

    a = pd.DataFrame({"k": ["x", "y", "x"], "v": [1, 2, 3]})
    b = pd.DataFrame({"k": ["x", "z"], "v": [10, 20]})
    a.to_parquet(src / "a.parquet")
    run_once()
    b.to_parquet(src / "b.parquet")
    run_once()

    ledger = read_stream_ledger(ckpt)
    assert ledger["batches"] == [0, 1]
    by_file = {p.rsplit("/", 1)[-1]: b for p, b in ledger["files"].items()}
    assert by_file == {"a.parquet": 0, "b.parquet": 1}

    assert read_state(spark, ckpt, "k") == {"x": (3, 14), "y": (1, 2), "z": (1, 20)}
    assert read_state(spark, ckpt, "k", batch_id=0) == {"x": (2, 4), "y": (1, 2)}


def test_offset_ledger_rejects_missing_source_entry(tmp_path):
    """A batch whose sources/0 entry is gone (corruption, or log
    compaction past the parser's documented scope) must be an AUDIT
    error — RuntimeError like every other violation — not a stray
    FileNotFoundError escaping the contract."""
    from direct_kafka_stream_spark.streaming.checkpoint import read_stream_ledger

    _ledger_fixture(tmp_path, 2, drop_source=1)
    with pytest.raises(RuntimeError, match="missing"):
        read_stream_ledger(str(tmp_path))


def test_state_reader_join_side_buffers_full_inputs(spark, tmp_path):
    """The state source's JOINSIDE option reads a stream-stream join's
    buffered rows — the join's working set, which at 100 TB is the
    thing you need to SEE when a join's state balloons. With a
    watermark delay (1 h) far beyond the data span (3 s), nothing is
    evicted, so each side's buffered state must equal its entire
    input, row for row (deterministic, no timing window)."""
    import pandas as pd

    from direct_kafka_stream_spark.streaming.pipeline import drain
    from direct_kafka_stream_spark.sources.files import file_stream
    from pyspark.sql import functions as F

    d = tmp_path
    (d / "l").mkdir()
    (d / "r").mkdir()
    left_rows = {(1, 10), (2, 20), (3, 30)}
    right_rows = {(2, 200), (3, 300), (4, 400)}
    pd.DataFrame(
        {
            "k": [k for k, _ in sorted(left_rows)],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02",
                 "2024-01-01 00:00:03"]
            ),
            "lv": [v for _, v in sorted(left_rows)],
        }
    ).to_parquet(d / "l" / "a.parquet", coerce_timestamps="us")
    pd.DataFrame(
        {
            "k": [k for k, _ in sorted(right_rows)],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:02", "2024-01-01 00:00:03",
                 "2024-01-01 00:00:04"]
            ),
            "rv": [v for _, v in sorted(right_rows)],
        }
    ).to_parquet(d / "r" / "a.parquet", coerce_timestamps="us")

    L = file_stream(
        spark, str(d / "l"), "k long, ts timestamp, lv long"
    ).withWatermark("ts", "1 hour")
    R = file_stream(
        spark, str(d / "r"), "k long, ts timestamp, rv long"
    ).withWatermark("ts", "1 hour")
    joined = L.alias("l").join(
        R.alias("r"),
        (F.col("l.k") == F.col("r.k"))
        & (
            F.col("r.ts").between(
                F.col("l.ts") - F.expr("interval 10 seconds"),
                F.col("l.ts") + F.expr("interval 10 seconds"),
            )
        ),
    )
    ckpt = f"{d}/ckpt"
    drain(joined.writeStream.format("noop"), ckpt)

    def buffered(side, val_col):
        st = spark.read.format("statestore").option("joinSide", side).load(ckpt)
        return {
            (r["value"]["k"], r["value"][val_col]) for r in st.collect()
        }

    assert buffered("left", "lv") == left_rows
    assert buffered("right", "rv") == right_rows


def test_watermark_evicts_join_state(spark, tmp_path):
    """The BOUNDED-STATE guarantee for stream-stream joins: three
    waves of rows a minute apart on each side, 5 s watermark delay,
    ±10 s join window — as the watermark advances past each wave's
    join window, its buffered rows are EVICTED, so the final state
    holds only the last wave (k=21), not the stream's history. This
    is the property that keeps a 100 TB stream-stream join's state
    size proportional to the watermark horizon instead of the stream
    length (availableNow appends a final no-data batch precisely to
    advance the watermark and flush evictions)."""
    import pandas as pd

    from direct_kafka_stream_spark.streaming.pipeline import drain
    from direct_kafka_stream_spark.sources.files import file_stream
    from pyspark.sql import functions as F

    (tmp_path / "l").mkdir()
    (tmp_path / "r").mkdir()

    def wave(p, k, ts, col, v):
        pd.DataFrame({"k": [k], "ts": pd.to_datetime([ts]), col: [v]}).to_parquet(
            p, coerce_timestamps="us"
        )

    times = ["2024-01-01 00:00:00", "2024-01-01 00:01:00", "2024-01-01 00:02:00"]
    for i, t in enumerate(times):
        wave(tmp_path / "l" / f"{i}.parquet", i * 10 + 1, t, "lv", i)
        wave(tmp_path / "r" / f"{i}.parquet", i * 10 + 1, t, "rv", i * 100)

    L = file_stream(
        spark, str(tmp_path / "l"), "k long, ts timestamp, lv long",
        max_files_per_trigger=1,
    ).withWatermark("ts", "5 seconds")
    R = file_stream(
        spark, str(tmp_path / "r"), "k long, ts timestamp, rv long",
        max_files_per_trigger=1,
    ).withWatermark("ts", "5 seconds")
    joined = L.alias("l").join(
        R.alias("r"),
        (F.col("l.k") == F.col("r.k"))
        & (
            F.col("r.ts").between(
                F.col("l.ts") - F.expr("interval 10 seconds"),
                F.col("l.ts") + F.expr("interval 10 seconds"),
            )
        ),
    )
    ckpt = f"{tmp_path}/ckpt"
    drain(joined.writeStream.format("noop"), ckpt)

    for side in ("left", "right"):
        st = spark.read.format("statestore").option("joinSide", side).load(ckpt)
        assert sorted(r["value"]["k"] for r in st.collect()) == [21], (
            f"{side} state must hold only the last wave after eviction"
        )


def test_state_change_feed_replays_to_final_state(spark, tmp_path):
    """The state source's CHANGE FEED (readChangeFeed=true) completes
    the introspection trilogy — current state, time travel, and now
    per-batch deltas: batch 0 emits updates for exactly file A's keys,
    batch 1 only for the keys file B touched (with cumulative values,
    untouched keys silent), and replaying the feed (last change per
    key) reconstructs the final state read exactly. At 100 TB this is
    the state-store audit log: what changed, when, without replaying
    the source."""
    import pandas as pd

    from direct_kafka_stream_spark.streaming.pipeline import drain
    from direct_kafka_stream_spark.sources.files import file_stream
    from pyspark.sql import functions as F

    (tmp_path / "src").mkdir()
    pd.DataFrame({"k": ["x", "y", "x"], "v": [1, 2, 3]}).to_parquet(
        tmp_path / "src" / "a.parquet"
    )
    pd.DataFrame({"k": ["x", "z"], "v": [10, 20]}).to_parquet(
        tmp_path / "src" / "b.parquet"
    )
    agg = (
        file_stream(
            spark, str(tmp_path / "src"), "k string, v long",
            max_files_per_trigger=1,
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    ckpt = f"{tmp_path}/ckpt"
    drain(agg.writeStream.format("noop").outputMode("update"), ckpt)

    feed = [
        (r.batch_id, r.change_type, r["key"]["k"],
         (r["value"]["count"], r["value"]["sum"]))
        for r in spark.read.format("statestore")
        .option("readChangeFeed", "true")
        .option("changeStartBatchId", 0)
        .load(ckpt)
        .collect()
    ]
    by_batch = {}
    for b, op, k, v in feed:
        assert op == "update"
        by_batch.setdefault(b, {})[k] = v
    # batch 0: exactly file A's aggregate; batch 1: only touched keys,
    # cumulative values, y silent
    assert by_batch[0] == {"x": (2, 4), "y": (1, 2)}
    assert by_batch[1] == {"x": (3, 14), "z": (1, 20)}

    # replay (last write per key) == the final state read
    replay = {}
    for b in sorted(by_batch):
        replay.update(by_batch[b])
    final = {
        r["key"]["k"]: (r["value"]["count"], r["value"]["sum"])
        for r in spark.read.format("statestore").load(ckpt).collect()
    }
    assert replay == final == {"x": (3, 14), "y": (1, 2), "z": (1, 20)}
