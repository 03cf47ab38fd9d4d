"""Query scopes (``caching``): every eager persist the package makes is
tracked in the calling thread's scope, which closes — unpersisting what
it tracked — when that thread starts its next registered query, calls
``clear_materialized()``, or finishes a ``run_foreach_batch``
micro-batch. Threads sharing one session never free each other's
caches, and nothing stays pinned once every scope is closed."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
import threading
import time

from pyspark.sql import functions as F

from direct_kafka_stream_spark import QUERIES, caching, load_table
from direct_kafka_stream_spark.caching import clear_materialized
from scripts.check_oracle import normalize

from tests.conftest import SF_DIR

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "direct_kafka_stream_spark"


def _untracked_persists(src: str) -> list[int]:
    """Line numbers of ``.persist()`` calls not wrapped in ``track(...)``."""
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
        and node.func.attr == "persist"
        and id(node) not in tracked
    ]


def test_detector_flags_untracked_persist():
    assert _untracked_persists("x = df.persist()\ny = track(df.persist())\n") == [1]


def test_every_operator_persist_is_tracked():
    untracked = {
        f"{p.relative_to(PACKAGE)}:{line}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "caching.py"
        for line in _untracked_persists(p.read_text())
    }
    assert not untracked, sorted(untracked)


def _persistent_rdd_ids(spark) -> set[int]:
    """RDDs pinned by ``persist``. Local checkpoints are left out: they
    are not tracked, and Spark frees them when their RDD is collected."""
    return {
        i
        for i, rdd in spark.sparkContext._jsc.getPersistentRDDs().items()
        if not rdd.rdd().isLocallyCheckpointed()
    }


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


# Two persist-using queries per thread. q_dedup_components is left out:
# it unpersists its own edges before returning.
_THREAD_QUERIES = (
    ("q_setsim_prefix", "q_textrank"),
    ("q_containment_dedup", "q_tfidf_cosine"),
    ("q_ctfidf_terms", "q_link_predict"),
)


def test_concurrent_queries_keep_their_own_caches(spark):
    """Three threads on one session: every thread builds before any
    consumes, yet each thread's tracked frames are still cached when it
    consumes, its results equal the sequential ones, and nothing stays
    pinned once every thread has closed its scope."""
    want = {}
    for names in _THREAD_QUERIES:
        for name in names:
            want[name] = normalize(QUERIES[name].spark(spark, SF_DIR).toPandas())
    clear_materialized()
    baseline = _persistent_rdd_ids(spark)

    barrier = threading.Barrier(len(_THREAD_QUERIES))
    got, errors = {}, []

    def run(names):
        try:
            for name in names:
                df = QUERIES[name].spark(spark, SF_DIR)
                own = caching._LIVE[threading.get_ident()].frames
                barrier.wait(timeout=300)
                assert own and all(f.is_cached for f in own), name
                got[name] = normalize(df.toPandas())
        except Exception as e:
            barrier.abort()
            errors.append(e)
        finally:
            clear_materialized()

    threads = [threading.Thread(target=run, args=(n,)) for n in _THREAD_QUERIES]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors
    assert got == want
    assert not caching._LIVE
    assert _persistent_rdd_ids(spark) <= baseline


def test_foreach_batch_frees_each_batch_persists(spark, tmp_path):
    """curation_apply_batch persists three frames per micro-batch;
    run_foreach_batch closes the batch's scope once the batch is done,
    so a drained stream leaves nothing pinned."""
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
