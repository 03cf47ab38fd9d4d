"""Session sizing: the ``SPARK_GRAFT_CPUS`` parser, the JVM option
builder, the default driver heap, a JVM built with fewer slots than
the host has, and the checkpoint file manager of local streams."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import textwrap

import pytest

from direct_kafka_stream_spark.session import (
    CHECKPOINT_MANAGER_CONF,
    FS_CHECKPOINT_MANAGER,
    _usable_cpus,
    checkpoint_manager,
    default_parallelism,
    driver_memory,
    java_options,
    tune_session,
)

ROOT = pathlib.Path(__file__).resolve().parent.parent
TZ = "-Duser.timezone=UTC"


def test_empty_cpus_env_means_host_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert default_parallelism() == (os.cpu_count() or 8)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", " 3 ")
    assert default_parallelism() == 3


@pytest.mark.parametrize("raw", ["0", "-2", "two", "1.5"])
def test_bad_cpus_env_names_the_variable(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        default_parallelism()


@pytest.mark.parametrize(
    "gib, heap",
    [
        (16, "4096m"),  # a quarter of physical memory
        (15.7, "4019m"),
        (2, "512m"),
        (128, "32768m"),  # capped at 32g
        (512, "32768m"),
    ],
)
def test_driver_heap_defaults_to_a_quarter_of_memory(gib, heap):
    assert driver_memory(int(gib * 2**30)) == heap


@pytest.mark.parametrize(
    "master, usable, n",
    [
        ("local[2]", 4, 2),
        ("local[3]", 8, 3),
        ("local[64]", 4, 4),  # clamped: never more than the process may use
        ("local[4, 2]", 16, 4),
        ("local", 4, 1),
    ],
)
def test_local_master_tells_the_jvm_its_slots(master, usable, n):
    opts = java_options(master, usable)
    assert opts["spark.driver.extraJavaOptions"] == f"{TZ} -XX:ActiveProcessorCount={n}"
    assert opts["spark.executor.extraJavaOptions"] == TZ


@pytest.mark.parametrize("master", ["local[*]", "spark://host:7077", "yarn", "local-cluster[2,1,1024]"])
def test_other_masters_get_no_processor_count(master):
    assert java_options(master, 4) == {
        "spark.driver.extraJavaOptions": TZ,
        "spark.executor.extraJavaOptions": TZ,
    }


def test_jvm_processor_count_matches_session_slots(tmp_path):
    """A session on half the host's CPUs: the JVM (which sizes its JIT
    and GC threads from its processor count) sees the session's slots,
    not the host's."""
    host = _usable_cpus()
    if host < 4:
        pytest.skip("needs at least 4 CPUs to run on half of them")
    script = textwrap.dedent(
        """
        import json
        from direct_kafka_stream_spark.session import get_session, jvm_cpus
        spark = get_session("jvm-cpus")
        print(json.dumps([jvm_cpus(spark), spark.sparkContext.defaultParallelism]))
        spark.stop()
        """
    )
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(host // 2),
        SPARK_GRAFT_DRIVER_MEM="512m",
        SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    )
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    jvm, slots = json.loads(out.stdout.strip().splitlines()[-1])
    assert slots == host // 2
    assert jvm == slots


def test_python_workers_import_the_package(tmp_path):
    """A plain session started elsewhere, with the package on the
    driver's ``sys.path`` only: a pandas-UDF query's Python workers
    still import the package."""
    from tests.conftest import SF_DIR

    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.warehouse.dir", {str(tmp_path / "warehouse")!r})
            .getOrCreate()
        )
        from direct_kafka_stream_spark import QUERIES
        print(len(QUERIES["q_udaf_weighted"].spark(spark, {SF_DIR!r}).collect()))
        spark.stop()
        """
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.strip().splitlines()[-1]) > 0


_CHECKPOINTING = "org.apache.spark.sql.execution.streaming.checkpointing."
_FILE_CONTEXT_MANAGER = _CHECKPOINTING + "FileContextBasedCheckpointFileManager"


def _manager_for(spark, path: str) -> str:
    """The class a stream started now would write ``path``'s checkpoint
    with."""
    jvm = spark._jvm
    cfm = getattr(jvm, _CHECKPOINTING + "CheckpointFileManager")
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return cfm.create(jvm.org.apache.hadoop.fs.Path(path), conf).getClass().getName()


@pytest.fixture
def manager_conf(spark):
    """The session's checkpoint manager conf, restored after the test."""
    saved = spark.conf.get(CHECKPOINT_MANAGER_CONF, None)
    yield
    if saved is None:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)
    else:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, saved)


def test_file_stream_gives_local_checkpoints_the_filesystem_manager(
    spark, manager_conf, tmp_path
):
    """A session built elsewhere, without the key, writes a ``file:``
    checkpoint through ``FileContext`` until a stream is defined;
    ``file_stream`` tunes it to the manager that renames in the JVM."""
    from direct_kafka_stream_spark.sources.files import events_schema, file_stream

    ckpt = (tmp_path / "ckpt").as_uri()
    spark.conf.unset(CHECKPOINT_MANAGER_CONF)
    assert _manager_for(spark, ckpt) == _FILE_CONTEXT_MANAGER
    file_stream(spark, str(tmp_path), events_schema())
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER
    assert _manager_for(spark, ckpt) == FS_CHECKPOINT_MANAGER


def test_configured_checkpoint_manager_survives_tuning(spark, manager_conf, tmp_path):
    spark.conf.set(CHECKPOINT_MANAGER_CONF, _FILE_CONTEXT_MANAGER)
    tune_session(spark)
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == _FILE_CONTEXT_MANAGER
    assert _manager_for(spark, (tmp_path / "ckpt").as_uri()) == _FILE_CONTEXT_MANAGER


@pytest.mark.parametrize(
    "default_fs, configured, manager",
    [
        ("file:///", None, FS_CHECKPOINT_MANAGER),
        ("file:/", None, FS_CHECKPOINT_MANAGER),
        ("hdfs://namenode:8020", None, None),  # cluster file systems keep
        ("s3a://bucket", None, None),  # Spark's fail-if-exists rename
        ("viewfs://cluster/", None, None),
        (None, None, None),  # no SparkContext (Spark Connect)
        ("file:///", "com.example.Manager", None),  # set on purpose
    ],
)
def test_checkpoint_manager_only_for_unset_local_file_systems(
    default_fs, configured, manager
):
    assert checkpoint_manager(default_fs, configured) == manager
