"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); production
target is a multi-executor cluster reading ~100 TB, so every default here is
chosen to survive that scale-up:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — at
  cluster scale the static partition count is always wrong for some stage.
- Arrow on for every pandas interop (the reference explicitly disabled it,
  services/stream-processing/app/consumer.py:163 — a 10-100x slow path).
- Session timezone pinned UTC so timestamps compare bit-for-bit with
  DuckDB/parquet naive timestamps (the reference keeps naive Asia/Tehran
  local times end-to-end; see functions/timeutil.py for the tz helpers).
- The local core count is ``$SPARK_GRAFT_CPUS`` when set, else the CPUs
  this process may run on (``os.sched_getaffinity``), and
  shuffle.partitions defaults to it.  A stream's state-partition count is
  fixed at its first start, and on a 4-core host 8 state partitions
  instead of 4 raised ``stream_live``'s lag p50 from 1.8 to 2.9 s.  On a
  real cluster AQE coalescing makes the initial number mostly irrelevant
  as long as it is not too small.
- The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` when set, else a quarter
  of the host's physical RAM capped at 48 GB: in local mode the driver
  JVM is the whole engine, and it shares the host with the Python
  workers, so a fixed 48g default gets the JVM OOM-killed on a 16 GB
  host.
- Python workers fork from ``worker_daemon`` instead of
  ``pyspark.daemon``: it is the same daemon, except that a task's
  ``importlib.invalidate_caches()`` no longer makes every zipimporter
  into Spark's own archives (pyspark.zip, py4j, the spark-core jar)
  re-read their directories.  That re-read cost 120-300 ms of every
  Python task on a 4-core host, and a ``stream_live`` micro-batch runs 8
  such tasks.  The JVM starts the daemon with ``python -m``, so the
  session puts the package's root on the workers' ``PYTHONPATH``; without
  it every Python task of a Spark driver started outside the checkout
  would fail.
- The ``file:`` file system is ``localfs/``'s fork-free copy of Hadoop's
  local one.  Without the native ``libhadoop`` (Spark's distribution has
  none; the JVM logs "Unable to load native-hadoop library"), Hadoop's
  local file system forks ``chmod`` for every file it creates and for its
  ``.crc``, and ``readlink`` two or more times for every ``FileContext``
  rename: about 110 process starts per ``stream_live`` micro-batch, from
  the state store's delta files and the offset, commit and source logs.
  The copy makes the same calls through ``java.nio`` and writes the same
  files, checksums and modes.  On a 4-core host it cut a traced
  ``stream_live`` run's ``state.commit_ms`` from 724 to 46 ms and
  ``stream.commit_ms`` from 72 to 4 ms, and the lag p50 median over ten
  seeds from 1,053 to 670 ms.  It is registered only on a JVM that this
  builder launches with the jar on its class path, or one that already
  has it: a JVM that a vanilla session or ``spark-submit`` started keeps
  Hadoop's.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "bdefa-spark"


#: Cap of the RAM-derived default driver heap.
MAX_DEFAULT_DRIVER_MB = 48 * 1024


#: The fork-free ``file:`` file system, built from ``localfs/src`` by
#: ``tools/build_localfs_jar.py``.
LOCALFS_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "localfs", "localfs.jar")
LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "bdefa.localfs.NoForkLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "bdefa.localfs.NoForkLocalFs",
}


def _jvm_loads_localfs() -> bool:
    """Whether the driver JVM that the builder will use can load the
    fork-free file system: true for a JVM it launches, which gets the jar
    on its class path, and asked of one already running."""
    if SparkContext._gateway is None:
        if "PYSPARK_GATEWAY_PORT" not in os.environ:
            return True
        SparkContext._ensure_initialized()  # connect to the JVM that launched this process
    jvm = SparkContext._jvm
    try:
        jvm.java.lang.Class.forName(LOCALFS_CONF["spark.hadoop.fs.file.impl"], False, jvm.java.lang.ClassLoader.getSystemClassLoader())
    except Py4JError:
        return False
    return True


def _local_cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def physical_ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1024 * 1024)


def default_driver_mem() -> str:
    """Driver heap used when ``SPARK_GRAFT_DRIVER_MEM`` is unset."""
    return f"{min(physical_ram_mb() // 4, MAX_DEFAULT_DRIVER_MB)}m"


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` only affects a fresh JVM (local mode master string); on an
    existing session only SQL confs are (re)applied.
    """
    # not a module-level import: the daemon's ``python -m`` start imports
    # this package first, and runpy warns when that has already loaded the
    # module it is about to run as __main__
    from big_data_engineering_financial_analysis_spark import worker_daemon

    cpus = cpus or _local_cpus()
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        # the JVM starts that daemon with ``python -m``: put this package's
        # root on the local workers' path, whatever their working directory
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(os.path.dirname(os.path.abspath(worker_daemon.__file__))))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the synthetic events table stores TIMESTAMP(NANOS) which Spark has
        # no native type for; read as long and convert (sources/parquet.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # write timestamps as TIMESTAMP_MICROS: the legacy INT96 default
        # stores NO parquet min/max statistics, which would disable
        # row-group pruning and zone-map skipping on every time column —
        # the dominant at-rest access pattern for this engine
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    conf = dict(extra_conf or {})
    if _jvm_loads_localfs():
        conf = {**LOCALFS_CONF, **conf}
        conf["spark.driver.extraClassPath"] = os.pathsep.join(filter(None, [conf.get("spark.driver.extraClassPath"), LOCALFS_JAR]))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
