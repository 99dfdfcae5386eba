"""SparkSession builders tuned for this engine.

Local mode is the test bed; the configs are chosen so the same code path is
what you would submit to a real multi-executor cluster with
``spark-submit --py-files``:  AQE on (runtime skew-join + partition
coalescing), Arrow on (all pandas UDF traffic), shuffle partitions sized to
the parallelism level instead of the 200 default, and a codegen cache
(``spark.sql.codegen.cache.maxEntries``) big enough that a session's
repeated queries reuse their generated classes instead of recompiling them.

The local sessions (``get_spark``) run their Python workers under the
engine's own daemon, ``worker_daemon``, which stops each task's
``importlib.invalidate_caches()`` from re-reading the unchanged pyspark.zip
(~0.1 CPU-s per task on CPython 3.11) and forks the workers from a frozen
heap with the Arrow-UDF stack pre-imported, so pyspark's per-task
``gc.collect()`` skips those modules.  They put the package root on the
workers' ``PYTHONPATH`` so the daemon and the package UDFs import from any
cwd.  ``get_spark_submit`` sessions keep pyspark's stock daemon: there the
package reaches an executor's Python only as a ``--py-files`` zip, which
each task adds to ``sys.path`` after the daemon has started.

The local sessions also swap the ``file:`` filesystem for
``NioLocalFileSystem`` (``jvm/``, on the driver's and the executors'
classpath).  Without the native Hadoop library, Hadoop's local filesystem
sets permissions by running ``chmod``, once for every file it creates and
every directory it makes: a 16-bucket write forked ~410 processes and a
steady CDC batch ~117.  ``NioLocalFileSystem`` is the stock checksummed
``LocalFileSystem`` (same files, same ``.crc`` sidecars, same modes) whose
permissions are set through java.nio instead.  Two paths keep the stock
classes: ``get_spark_submit``, whose tables live on HDFS or S3 and whose
``--jars`` are a deployment choice, and Structured Streaming checkpoints
(``streaming.replay.stream_journal``), which Spark writes through
``FileContext`` and its ``fs.AbstractFileSystem.file.impl``.  The local
sessions also list a read's files on the driver however many directories it
names: past Spark's 32-path threshold, listing the local disk became a
Spark job of its own.
"""

from __future__ import annotations

import os
import re as _re

from pyspark.sql import SparkSession

# the directory holding the ``activedata_etl_spark`` package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# NioLocalFileSystem, built from jvm/*.java by tools/build_jvm.py
JVM_JAR = os.path.join(PACKAGE_ROOT, "activedata_etl_spark", "jvm",
                       "activedata-fs.jar")


def tuning_conf(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's Spark tuning as plain conf (shared by local test
    sessions and spark-submit deployments)."""
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "zstd",
        # pyspark otherwise captures a DataFrame query context around every
        # Column call: extra py4j round trips (and a failed IPython import)
        # per F.* call, thousands per CDC batch
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # keep the generated classes a session reuses.  Spark's default of
        # 100 entries is split over 4 Guava LRU segments of 25, which
        # query_mix's ~80 classes overfill: 53-57 identical recompiles per
        # timed pass.  The whole registry (69 queries at sf0.001) plus a
        # CDC replay compile ~870 distinct classes, ~218 per segment; 1000
        # (250 per segment) held them with little room for skew, 2000
        # leaves 2x.  Static and per JVM: sized once, at the first codegen.
        "spark.sql.codegen.cache.maxEntries": "2000",
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    return conf


def get_spark_submit(app_name: str, shuffle_partitions: int | None = None) -> SparkSession:
    """Session for `spark-submit --py-files activedata_etl_spark.zip ...`:
    master/executors/memory come from the submit command line (or the
    cluster manager), only the engine's SQL tuning is applied here.  The
    ``file:`` filesystem stays Hadoop's own: a cluster's tables live on
    HDFS or S3, and shipping ``JVM_JAR`` with ``--jars`` is the
    deployment's choice."""
    b = SparkSession.builder.appName(app_name)
    for k, v in tuning_conf(shuffle_partitions).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _mem_mb(mem: str) -> int:
    """Memory string -> MB for the local-cluster master spec.  Accepts
    '4g'/'4G'/'4096m'/'4096M'/'4' (bare number = GB); anything else raises
    (int('4G'.rstrip('g')) used to crash on uppercase and silently mis-size
    bare numbers)."""
    m = _re.fullmatch(r"\s*(\d+)\s*([gGmM]?)\s*", str(mem))
    if not m:
        raise ValueError(f"unsupported memory string: {mem!r}")
    n, unit = int(m.group(1)), m.group(2).lower()
    return n if unit == "m" else n * 1024


def get_spark(
    app_name: str = "activedata_etl_spark",
    parallelism: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    executor_mem: str = "4g",
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: N for ``local[N]``, or "ExC" (e.g. "8x2") for
    ``local-cluster[E, C, mem]`` — E separate executor JVM *processes* with C
    cores each.  local-cluster is the honest stand-in for a multi-executor
    cluster: this sandbox caps CPU per *process*, so thread-based local[N]
    cannot scale past ~8 threads no matter the code, while separate executor
    processes can (measured; see BASELINE.md).
    shuffle_partitions: defaults to max(total cores, 32).
    """
    cpus = parallelism or os.environ.get("SPARK_GRAFT_CPUS")
    total_cores = 32
    executor_java_opts = None
    if cpus and "x" in str(cpus):
        execs, cores = str(cpus).split("x")
        mem_mb = _mem_mb(executor_mem)
        master = f"local-cluster[{execs},{cores},{mem_mb}]"
        total_cores = int(execs) * int(cores)
        # make each executor an honest C-core container: the JVM sizes its
        # GC/JIT/common pools for C cpus instead of the host's 32 (this is
        # exactly what cgroup cpu limits do to the JVM on a real cluster);
        # measured: it both stops small configs bursting past their nominal
        # cores AND speeds up large configs (less thread thrash)
        executor_java_opts = f"-XX:ActiveProcessorCount={cores}"
    elif cpus:
        master = f"local[{cpus}]"
        total_cores = int(cpus)
    else:
        master = "local[*]"
    n_shuffle = shuffle_partitions or max(total_cores, 32)

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.executor.memory", executor_mem)
        .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
        .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "60s")
    )
    if executor_java_opts:
        b = b.config("spark.executor.extraJavaOptions", executor_java_opts)
    for k, v in tuning_conf(n_shuffle).items():
        b = b.config(k, v)
    b = (
        b
        # smaller input splits: keep wide parallelism on modest batch sizes
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        # let AQE turn the LWW join-back into a broadcast join when the
        # winner set is modest (falls back to shuffle join at real scale)
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "activedata_etl_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # set permissions in-process, not with a chmod per file and dir
        .config("spark.hadoop.fs.file.impl", "activedata_etl_spark.NioLocalFileSystem")
        .config("spark.driver.extraClassPath", JVM_JAR)
        .config("spark.executor.extraClassPath", JVM_JAR)
        # list a read's local dirs on the driver: past the default 32
        # paths, listing became its own Spark job (0.3-0.7 s a read)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "100000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
