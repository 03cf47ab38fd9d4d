"""SparkSession construction and runtime tuning.

The reference hardcodes ``local[*]`` and a 5 s batch interval
(KafkaDirectStream.scala:39-41); here the session is parameterized and
tuned for the Spark-SQL engine: AQE on (runtime coalesce + skew-join),
Arrow for the Python boundary, UTC session timezone so timestamp maths
is engine-portable, and shuffle partitions sized to the machine rather
than the 200 default (which would produce hundreds of tiny partitions
at test scale and too few at 100 TB — at cluster scale this knob is
expected to be set per-deployment, or left to AQE's
``coalescePartitions`` with a high initial partition number).

Under the reference's ``local[*]`` the JVM and the task slots always
had the same cores. ``get_session`` builds ``local[SPARK_GRAFT_CPUS]``
instead, so it also tells the driver JVM that budget
(``-XX:ActiveProcessorCount``, see ``java_options``): the JVM then
sizes its JIT-compiler and GC threads to the session, not to the host.
The count is derived, not a knob.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Confs that are runtime-settable (spark.conf.set) — applied defensively
# at query time too, because the verify driver may hand us a session it
# built itself (tune_session).
_RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType
    # (session-tz) not TimestampNTZType: with UTC session tz the two are
    # value-identical and LTZ keeps epoch casts / window maths portable
    # with the DuckDB oracle.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Spark 4 refuses parquet TIMESTAMP(NANOS) outright; read the raw
    # int64 nanos as LongType and convert in the loader (io.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Derived per session in tune_session, not a fixed value.
_LISTING_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"

# Which class writes the offset and commit logs, the file-source log and
# the state-store files of a stream (see checkpoint_manager).
CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def default_parallelism() -> int:
    """Task slots of the ``local[N]`` master: ``SPARK_GRAFT_CPUS``, or
    the host's CPUs when it is unset or empty."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    if not raw:
        return os.cpu_count() or 8
    if not raw.isdecimal() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def _usable_cpus() -> int:
    """CPUs this process may run on (its affinity mask), which a
    container or ``taskset`` can make smaller than the host's."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


_LOCAL_MASTER = re.compile(r"local(?:\[(\d+)(?:,\s*\d+)?\])?")


def java_options(master: str, usable_cpus: int) -> dict[str, str]:
    """JVM options for a session on ``master``.

    A local master's JVM is told its processor budget: the task slots,
    clamped to the CPUs the process may run on. HotSpot sizes its JIT
    compiler and GC thread pools from that count, and otherwise sizes
    them for the whole host while the session uses only some of its
    cores. ``local[*]`` already spans the host, and a cluster's
    executors size themselves, so neither gets the flag.
    """
    tz = "-Duser.timezone=UTC"
    driver = tz
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if m:
        slots = int(m.group(1) or 1)
        driver += f" -XX:ActiveProcessorCount={min(slots, usable_cpus)}"
    return {
        "spark.driver.extraJavaOptions": driver,
        "spark.executor.extraJavaOptions": tz,
    }


def jvm_cpus(spark: SparkSession) -> int | None:
    """The session JVM's own processor count
    (``Runtime.availableProcessors``); None where no JVM is reachable
    (Spark Connect)."""
    try:
        return spark.sparkContext._jvm.java.lang.Runtime.getRuntime().availableProcessors()
    except Exception:
        return None


def driver_memory(physical_bytes: int) -> str:
    """Default driver heap: a quarter of physical memory (the JVM's own
    default heap fraction), at most 32g. A heap near or above physical
    memory is never forced to collect before the host runs out."""
    return f"{min(physical_bytes // 4 >> 20, 32 << 10)}m"


def session_cores(spark: SparkSession) -> int:
    """The session's real task slots (``defaultParallelism``) — a
    driver may hand us a local[4] session on a 32-CPU host. Falls back
    to ``default_parallelism()`` where no SparkContext is reachable
    (Spark Connect)."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return default_parallelism()


def _env_flag(name: str) -> bool:
    """Conventional boolean env flag: unset/''/'0'/'false'/'no'/'off'
    (any case) are OFF, anything else is ON. One parser for every flag
    env var here — 'off' MUST read as off (an operator exporting
    SPARK_GRAFT_SCALE=off to disable the scale path would otherwise
    silently get the 1024-partition/256 MB-broadcast confs applied)."""
    return os.environ.get(name, "").lower() not in ("", "0", "false", "no", "off")


def scale_flag_set() -> bool:
    """Whether the scale path is active (SPARK_GRAFT_SCALE env): when
    true, the registry wrapper applies each query's probe-passed
    ``scale_confs`` (SCALE.md / docs/TUNING.md knobs) before building
    its plan. Deliberately OFF by default — the sf0.1 bench and the
    correctness driver never set it, so small-scale plans and numbers
    are untouched; scripts/scale_probe.py `run` sets it, and a cluster
    job sets it in its submit environment."""
    return _env_flag("SPARK_GRAFT_SCALE")


def checkpoint_manager(default_fs: str | None, configured: str | None) -> str | None:
    """The checkpoint file manager ``tune_session`` sets, or None to
    leave the session as it is.

    Spark's default manager renames through Hadoop's ``FileContext``,
    which on the local file system forks a ``readlink`` per rename:
    several processes for every committed micro-batch. On a ``file:``
    default file system the ``FileSystem`` manager does the same
    temp-file-then-rename commit in the JVM (docs/TUNING.md): a
    POSIX rename is atomic, and ``LocalFileSystem`` still writes and
    verifies the ``.crc`` of each file. What it gives up is the
    fail-if-exists rename, which only two concurrent writers of one
    checkpoint would need, and Spark runs one. A cluster file system
    (``hdfs://``, ``s3a://``) and a manager set on purpose are kept.
    """
    if configured or not (default_fs or "").startswith("file:"):
        return None
    return FS_CHECKPOINT_MANAGER


def _default_fs(spark: SparkSession) -> str | None:
    """``fs.defaultFS`` of the session's Hadoop configuration; None
    where no SparkContext is reachable (Spark Connect)."""
    try:
        return spark.sparkContext._jsc.hadoopConfiguration().get("fs.defaultFS")
    except Exception:
        return None


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Safe to call repeatedly; used at the top of every registered query
    so correctness does not depend on who built the SparkSession.

    File-listing width follows the session's cores: past Spark's
    32-path threshold a listing job (a file-stream batch over many new
    files, or a multi-path read) runs one task per path under the
    10,000 default, each task deserializing a full Hadoop
    Configuration. Capping it at the task slots keeps listing
    distributed — on a cluster it is still as wide as the cluster —
    without paying one task per path.

    Python workers (pandas UDFs, Python data sources) import this
    package, so its parent directory joins their ``PYTHONPATH`` once
    and stays: a changed path would start new workers. That covers
    workers that see the driver's filesystem; others use ``--py-files``.

    Local checkpoints rename in the JVM, not by forking a ``readlink``
    (``checkpoint_manager``).
    """
    try:
        env = spark.sparkContext.environment
    except Exception:
        env = {}  # no SparkContext (Spark Connect)
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if root not in paths:
        env["PYTHONPATH"] = os.pathsep.join([*paths, root])
    confs = dict(_RUNTIME_CONF)
    confs[_LISTING_PARALLELISM] = str(session_cores(spark))
    manager = checkpoint_manager(
        _default_fs(spark), spark.conf.get(CHECKPOINT_MANAGER_CONF, None)
    )
    if manager:
        confs[CHECKPOINT_MANAGER_CONF] = manager
    for k, v in confs.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Some confs may be static in exotic builds; never fail a
            # query over tuning.
            pass
    return spark


def get_session(
    app_name: str = "direct-kafka-stream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    # Post-shuffle parallelism: AQE coalesces downward anyway, so cap
    # the initial number at 16 for the local bench scales (BASELINE.md);
    # a cluster deployment overrides via env or argument.
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", min(cpus, 16))
    )
    heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"),
        )
    )
    for k, v in {**java_options(master, _usable_cpus()), **_RUNTIME_CONF}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune_session(spark)
