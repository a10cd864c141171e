"""SparkSession factory tuned for this engine.

Local mode runs one task slot per core: ``cpus`` defaults to
``$SPARK_GRAFT_CPUS``, else to the cores this process may run on; the
driver heap defaults to 8 GiB (``$SPARK_DRIVER_MEMORY``).  On a real
cluster every setting here except master/driver-memory, the checkpoint
file manager and the ``file:`` filesystem carries over unchanged.  AQE
stays on so skewed channel groups and small shuffle partitions get
re-planned at runtime.

Streaming checkpoints go through Spark's ``FileSystem``-based checkpoint
file manager.  The default ``FileContext`` one renames each checkpoint
file through ``AbstractFileSystem.renameInternal``, which calls
``getFileLinkStatus`` on both paths; without Hadoop's native
``libhadoop`` (pip PySpark never ships it) the local filesystem answers
that by forking ``readlink`` — about 3 ms a fork inside the driver JVM,
and ~100 forks per micro-batch of a stateful query.  The ``FileSystem``
manager renames by ``exists`` + ``FileSystem.rename``: on ``file:``
paths the same check-then-rename the ``FileContext`` path does, with no
fork.  The setting is for LOCAL ``file:`` checkpoints.  On HDFS the
``FileContext`` rename is atomic, so a cluster deployment keeps Spark's
default.

For the same reason Hadoop's local filesystem forks ``chmod`` for every
file and directory it creates: each state-store delta and checksum
file, each offset, commit and sink-metadata log entry, each parquet
part file and the ``.crc`` beside each of them (about 36 forks per
micro-batch of a stateful query).  ``spark.hadoop.fs.file.impl`` points
``file:`` at ``jvm/NoForkLocalFileSystem.java``, the stock
``LocalFileSystem`` with a ``setPermission`` that sets the same
(already umasked) mode through ``java.nio``; only a sticky bit or a
non-POSIX filesystem takes the stock path.  Checksums and the files,
contents and modes on disk are the stock ones, so a checkpoint restarts
across the change either way.  Its prebuilt jar goes on
``spark.driver.extraClassPath``, and both settings are LOCAL-mode ones:
the session is always ``local[N]``, so the executors run in the driver
JVM.  A cluster deployment would ship the jar to its executors, or keep
the stock class where ``libhadoop`` is installed.  The ``FileContext``
checkpoint manager builds its own raw filesystem and is not covered;
the manager swap above still stands.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

# The directory holding this package.  Python workers import the package
# (its UDFs pickle by reference, and the worker daemon lives in it), so it
# goes on their path whatever directory the driver runs from.
_PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The fork-free ``file:`` filesystem (see the module); rebuild its jar
# with ``jvm/build.sh`` after editing the source.
_LOCAL_FS = "pandas_sigproc_spark.jvm.NoForkLocalFileSystem"
_LOCAL_FS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFileSystem.jar"
)


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS``, else the number of cores this process may use."""
    if "SPARK_GRAFT_CPUS" in os.environ:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def get_spark(app_name: str = "pandas_sigproc_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = host_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's byte-based partition coalescing misprices compute-bound
        # stages: the default 1 MB minPartitionSize merges a 3 MB
        # exchange feeding an applyInPandas kernel down to ~3 tasks, and
        # the Python kernel (30-300x the per-byte cost of a JVM scan)
        # then runs nearly serial (measured: rainflow 4.6s -> 1.6s,
        # filt_chain 1.0s -> 0.6s at sf0.1 with a 4k floor).  The floor
        # only governs the small-intermediate regime — any exchange
        # whose partitions exceed advisoryPartitionSizeInBytes is
        # untouched, so at production scale (partitions >= 64 MB) the
        # setting is inert; parallelismFirst (default true) still caps
        # the width at the cluster's parallelism.  It governs per-channel
        # kernels and the other hash exchanges; AQE never coalesces the
        # bucketed kernels' id-placed exchange (planner.group_apply).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "4k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Python workers fork from a daemon that keeps pyspark.zip's
        # directory from being re-parsed at the start of every task
        # (a fixed 0.3-0.5 s per task before CPython 3.13; see the module).
        .config("spark.python.daemon.module", "pandas_sigproc_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PKG_ROOT)
        # No forked readlink per checkpoint rename (see the module).
        .config("spark.sql.streaming.checkpointFileManagerClass", _CHECKPOINT_FILE_MANAGER)
        # No forked chmod per local file written (see the module).
        .config("spark.driver.extraClassPath", _LOCAL_FS_JAR)
        .config("spark.hadoop.fs.file.impl", _LOCAL_FS)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
