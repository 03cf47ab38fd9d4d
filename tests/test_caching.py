"""Query scopes (``caching``): every persist, local checkpoint, scratch
directory and catalog table the package leaves behind belongs to the
calling thread's scope, which closes — releasing all of them — when that
thread starts its next registered query, calls ``clear_materialized()``,
or finishes a ``run_foreach_batch`` micro-batch. Threads sharing one
session never free each other's state, and nothing stays pinned once
every scope is closed.

One reuse rule decides what a query caches: it persists a frame only
when its plan reads that frame two or more times, and building a query
runs no Spark job, outside a named allow-list."""

from __future__ import annotations

import ast
import os
import pathlib
import re
import subprocess
import sys
import threading
import time

from pyspark import StorageLevel
from pyspark.sql import functions as F

from direct_kafka_stream_spark import QUERIES, caching, load_table
from direct_kafka_stream_spark.caching import clear_materialized
from direct_kafka_stream_spark.registry import BUILD_RUNS_JOBS
from scripts.check_oracle import normalize

from tests.conftest import SF_DIR

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "direct_kafka_stream_spark"


def _untracked_persists(src: str) -> list[int]:
    """Line numbers of ``.persist()`` and ``.localCheckpoint()`` calls
    not wrapped in ``track(...)``."""
    tree = ast.parse(src)
    tracked = {
        id(arg)
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "track"
        for arg in node.args
    }
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("persist", "localCheckpoint")
        and id(node) not in tracked
    ]


def test_detector_flags_untracked_persist():
    src = (
        "x = df.persist()\n"
        "y = track(df.persist())\n"
        "z = df.localCheckpoint(eager=False)\n"
        "w = track(df.localCheckpoint())\n"
    )
    assert _untracked_persists(src) == [1, 3]


def test_every_operator_persist_is_tracked():
    untracked = {
        f"{p.relative_to(PACKAGE)}:{line}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "caching.py"
        for line in _untracked_persists(p.read_text())
    }
    assert not untracked, sorted(untracked)


def _is_call(node, attr: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
        and bool(node.args)
    )


def test_shared_helpers_are_public_and_tokenize_in_one_place():
    """No package module imports a ``_``-name from an operator module:
    helpers shared across modules are public (the text and similarity
    primitives live in ``operators/text.py`` and ``operators/similarity.py``).
    The only Spark-side split on a space is ``text.space_split``, and the
    only md5-prefix integer is ``exprs.md5_int``. Modules are named by
    the family they hold, never by the round that added them."""
    private, splits, md5_ints = [], [], []
    for p in sorted(PACKAGE.rglob("*.py")):
        rel = p.relative_to(PACKAGE)
        for node in ast.walk(ast.parse(p.read_text())):
            if (
                _is_call(node, "conv")
                and _is_call(node.args[0], "substring")
                and _is_call(node.args[0].args[0], "md5")
                and str(rel) != "exprs.py"
            ):
                md5_ints.append(f"{rel}:{node.lineno}")
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith(f"{PACKAGE.name}.operators")
            ):
                private += [
                    f"{rel}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "split"
                and len(node.args) > 1
                and isinstance(node.args[1], ast.Constant)
                and node.args[1].value == " "
                and str(rel) != "operators/text.py"
            ):
                splits.append(f"{rel}:{node.lineno}")
    assert not private, private
    assert not splits, splits
    assert not md5_ints, md5_ints
    round_named = re.compile(r"analytics\d+|llm\d|sweep\d")
    assert not [
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if round_named.fullmatch(p.stem)
    ]


def _persistent_rdd_ids(spark) -> set[int]:
    """RDDs pinned by ``persist`` or ``localCheckpoint``."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _still_held(spark, df) -> bool:
    """``df`` is still in the session's cache, or the RDD its local
    checkpoint reads is still pinned. A lazy persist counts from the
    ``persist()`` call, before any job has built its RDD."""
    if df.storageLevel != StorageLevel.NONE:
        return True
    try:
        rdd_id = df._jdf.queryExecution().logical().rdd().id()
    except Exception:
        return False  # neither cached nor a local checkpoint
    return rdd_id in _persistent_rdd_ids(spark)


class _Frame:
    freed = False

    def unpersist(self):
        self.freed = True


def test_scopes_stay_per_thread_under_contention():
    """More threads than cores track and close scopes with a tiny switch
    interval: every close frees exactly what its own thread tracked."""
    errors, idents = [], []

    def run():
        idents.append(threading.get_ident())
        try:
            for _ in range(200):
                frames = [caching.track(_Frame()) for _ in range(3)]
                assert clear_materialized() == 3
                assert all(f.freed for f in frames)
        except Exception as e:
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        n_threads = 4 * (os.cpu_count() or 1)
        threads = [threading.Thread(target=run) for _ in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert not errors, errors[:3]
    assert not set(idents) & set(caching._LIVE)


def test_clear_materialized_frees_setsim_prefix_persists(spark):
    clear_materialized()
    before = _persistent_rdd_ids(spark)
    QUERIES["q_setsim_prefix"].spark(spark, SF_DIR).collect()
    assert _persistent_rdd_ids(spark) - before, "the query persisted nothing"
    clear_materialized()
    assert _persistent_rdd_ids(spark) <= before


# Two queries per thread. Two threads run the same scratch-directory
# queries, so each must keep its own directories and catalog tables;
# every other query tracks frames.
_SCRATCH_QUERIES = {"q_partition_prune", "q_bucket_join"}
_THREAD_QUERIES = (
    ("q_setsim_prefix", "q_textrank"),
    ("q_containment_dedup", "q_tfidf_cosine"),
    ("q_ctfidf_terms", "q_link_predict"),
    ("q_dedup_components", "q_kcore"),
    ("q_partition_prune", "q_bucket_join"),
    ("q_partition_prune", "q_bucket_join"),
)


def test_concurrent_queries_keep_their_own_caches(spark):
    """Threads on one session build in turn, each after the previous
    thread has built, then all consume: each thread's tracked frames,
    and every RDD its build pinned, are still held when it consumes,
    each result equals the sequential one (so no scratch directory or
    table was removed under it), and nothing stays pinned once every
    thread has closed its scope."""
    want = {}
    for names in _THREAD_QUERIES:
        for name in names:
            if name not in want:
                want[name] = normalize(QUERIES[name].spark(spark, SF_DIR).toPandas())
    clear_materialized()
    baseline = _persistent_rdd_ids(spark)

    n = len(_THREAD_QUERIES)
    turns = [threading.Semaphore(0) for _ in range(n)]
    built, consumed = threading.Barrier(n), threading.Barrier(n)
    got, errors = {}, []

    def run(k, names):
        try:
            for name in names:
                assert turns[k].acquire(timeout=300), "turn never came"
                try:
                    before = _persistent_rdd_ids(spark)
                    df = QUERIES[name].spark(spark, SF_DIR)
                    pinned = _persistent_rdd_ids(spark) - before
                    scope = caching._LIVE.get(threading.get_ident())
                    own = scope.frames if scope else []
                finally:
                    turns[(k + 1) % n].release()
                built.wait(timeout=300)
                assert own or name in _SCRATCH_QUERIES, name
                assert all(_still_held(spark, f) for f in own), name
                assert pinned <= _persistent_rdd_ids(spark), name
                got[k, name] = normalize(df.toPandas())
                consumed.wait(timeout=300)
        except Exception as e:
            built.abort()
            consumed.abort()
            errors.append(e)
        finally:
            clear_materialized()

    threads = [
        threading.Thread(target=run, args=(k, names))
        for k, names in enumerate(_THREAD_QUERIES)
    ]
    for t in threads:
        t.start()
    turns[0].release()
    for t in threads:
        t.join(timeout=900)
        assert not t.is_alive()
    assert not errors, errors
    assert got == {
        (k, name): want[name]
        for k, names in enumerate(_THREAD_QUERIES)
        for name in names
    }
    assert not caching._LIVE
    assert _persistent_rdd_ids(spark) <= baseline


def test_scope_removes_scratch_dirs_and_tables(spark):
    """Once consumed and closed, the scratch-directory queries leave
    no directory under the process's scratch root and no table in the
    session catalog."""
    clear_materialized()
    root = caching.scratch_root()
    made = set()
    for name in ("q_partition_prune", "q_bucket_join"):
        before = set(root.glob("*"))
        QUERIES[name].spark(spark, SF_DIR).collect()
        new = set(root.glob("*")) - before
        assert new, name
        made |= new
    clear_materialized()
    assert not [p for p in made if p.exists()]
    assert not [
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("dks_bucket_")
    ]


def test_first_scratch_dir_call_removes_dead_roots(tmp_path, monkeypatch):
    """The first ``scratch_dir`` call under a scratch base removes the
    roots of dead processes and keeps those of live ones and any entry
    not named by a pid."""
    dead = subprocess.Popen(["true"])
    dead.wait()
    live = subprocess.Popen(["sleep", "60"])
    try:
        for name in (str(dead.pid), str(live.pid), "bucket_123_0a1b2c"):
            (tmp_path / name / "part").mkdir(parents=True)
        monkeypatch.setattr(caching, "_SCRATCH", tmp_path)
        clear_materialized()
        path = pathlib.Path(caching.scratch_dir("t"))
        assert path.is_dir() and path.parent == tmp_path / str(os.getpid())
        assert not (tmp_path / str(dead.pid)).exists()
        assert (tmp_path / str(live.pid) / "part").exists()
        assert (tmp_path / "bucket_123_0a1b2c" / "part").exists()
        clear_materialized()
        assert not path.exists()
    finally:
        live.kill()
        live.wait()


def test_foreach_batch_frees_each_batch_persists(spark, tmp_path):
    """curation_apply_batch persists three frames and local-checkpoints
    two per micro-batch; run_foreach_batch closes the batch's scope once
    the batch is done, so a drained stream leaves nothing pinned."""
    from direct_kafka_stream_spark.streaming.pipeline import (
        await_all,
        run_foreach_batch,
    )
    from direct_kafka_stream_spark.streaming.transforms import (
        CURATION_BANDS_SCHEMA,
        CURATION_SEEN_SCHEMA,
        CURATION_WARR_SCHEMA,
        curation_apply_batch,
    )

    docs = load_table(spark, SF_DIR, "documents")
    src = tmp_path / "src"
    src.mkdir()
    now = time.time()
    for i in range(3):
        dest = src / f"b{i}.parquet"
        docs.filter(F.col("doc_id") % 3 == i).toPandas().to_parquet(dest)
        os.utime(dest, (now - (3 - i) * 60, now - (3 - i) * 60))
    stores = {
        "seen": CURATION_SEEN_SCHEMA,
        "bands": CURATION_BANDS_SCHEMA,
        "warr": CURATION_WARR_SCHEMA,
    }

    def store(key):
        path = str(tmp_path / key)
        try:
            return spark.read.parquet(path)
        except Exception:
            return spark.createDataFrame([], stores[key])

    clear_materialized()
    baseline = _persistent_rdd_ids(spark)
    pinned_in_batch = []

    def process(batch_df, batch_id):
        out = curation_apply_batch(
            batch_df, store("seen"), store("bands"), store("warr")
        )
        for key in stores:
            out[f"{key}_delta"].write.mode("append").parquet(str(tmp_path / key))
        pinned_in_batch.append(len(_persistent_rdd_ids(spark) - baseline))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    await_all(run_foreach_batch(stream, process, str(tmp_path / "ckpt")))
    assert len(pinned_in_batch) == 3 and all(pinned_in_batch), pinned_in_batch
    assert _persistent_rdd_ids(spark) <= baseline


def test_query_builds_run_no_spark_job(registry_pass):
    """Building a query plans it and runs nothing: the work happens when
    the caller consumes the result. Only the builds in
    ``BUILD_RUNS_JOBS`` run jobs."""
    assert list(registry_pass) == list(QUERIES)
    assert set(BUILD_RUNS_JOBS) <= set(QUERIES)
    ran = {n: r.build_jobs for n, r in registry_pass.items() if r.build_jobs}
    assert not {n: j for n, j in ran.items() if n not in BUILD_RUNS_JOBS}


def test_each_tracked_persist_is_read_twice(registry_pass):
    """A query persists a frame only when its plan reads the frame at
    least twice. Reads are counted in the executed result's final plan
    and in the cached plans of the query's other persisted frames; a
    reused exchange is one read, not two."""
    reads = {
        (name, cols): n
        for name, r in registry_pass.items()
        for cols, n in (r.reads or {}).items()
    }
    assert reads
    assert not {k: n for k, n in reads.items() if n < 2}
