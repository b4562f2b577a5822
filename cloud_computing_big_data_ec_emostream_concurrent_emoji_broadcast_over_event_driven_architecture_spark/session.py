"""SparkSession builder for the engine.

Design decisions (SURVEY.md §4):
- AQE on (coalesce partitions + skew-join) instead of the reference's
  hardcoded ``spark.sql.shuffle.partitions=200`` (reference
  spark_consumer.py:9) — at 100 TB the right partition count is decided at
  runtime from shuffle statistics, not a constant.
- Arrow on for the few Pandas-UDF extension operators.
- Session timezone pinned to UTC so event-time semantics match the DuckDB
  oracle (naive/UTC timestamps).
- No LEGACY time parser (reference spark_consumer.py:10): the Spark 3+
  parser handles ``yyyy-MM-dd'T'HH:mm:ss.SSSSSS`` natively (tested).
- A ``local[...]`` master never launches a file-listing job. Past
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths (32 by
  default) Spark stats files with a Spark job of one task per path, and
  the streaming file source builds such an index over every micro-batch's
  files. In local mode those tasks run on the driver's own cores, so the
  job lists no faster than the driver and adds only scheduling: on a
  4-core ``local[4]`` driver a 200-file catch-up batch spent about 1 s
  in that job against 40-60 ms of task run time. Local masters
  therefore list on the driver; any other master keeps Spark's default
  so a cluster still fans the listing of a large partitioned table out
  over its executors.
- A ``local[...]`` master commits checkpoint files through Hadoop's
  ``FileSystem`` API, not its ``FileContext`` API. Every micro-batch
  writes an offset-log entry, a commit-log entry, the file source's log
  entry and one state delta per shuffle partition, each as a temp file
  renamed into place. Without Hadoop's native library (``NativeIO``)
  ``FileContext.rename`` on the local file system looks up the link
  status of source and destination, and of their ``.crc`` siblings, and
  each lookup forks a ``readlink`` process: on a 4-core host that put
  ``walCommit`` at about 50 ms and ``commitOffsets`` at about 90 ms per
  trigger. ``FileSystemBasedCheckpointFileManager`` keeps the same
  protocol (write a temp file, check that the destination does not
  exist, ``rename(2)``), so atomicity and the no-overwrite rule the
  offset log relies on are unchanged, as are the checkpoint checksum
  and ``.crc`` files. Other masters keep Spark's default, the
  ``FileContext`` manager, whose no-overwrite rename is one atomic call
  on HDFS.
- ``spark.driver.memory`` defaults to 40% of the host's ``MemTotal``,
  capped at 16g (``SPARK_GRAFT_DRIVER_MEM`` overrides it). The JVM's
  resident size runs about a gigabyte above its heap, and the Python
  workers of pandas UDFs need their own share: a 16g heap on a 16 GiB
  host without swap let the test suite's JVM reach 11 GiB resident and
  leave under 2 GiB of the host free, and one run lost its JVM.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Heap share of the host's physical memory, and its ceiling in MiB.
_DRIVER_MEM_FRACTION = 0.4
_DRIVER_MEM_CAP_MB = 16 * 1024


def _default_driver_memory() -> str:
    """``_DRIVER_MEM_FRACTION`` of the host's ``MemTotal``, capped at 16g;
    16g where ``/proc/meminfo`` does not exist."""
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            total_kb = int(f.readline().split()[1])  # "MemTotal: <n> kB"
    except OSError:
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, int(total_kb * _DRIVER_MEM_FRACTION) // 1024)}m"


def build_session(
    app_name: str = "emostream_spark_engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    rocksdb_state_store: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine's SparkSession.

    ``master=None`` means ``local[$SPARK_GRAFT_CPUS]`` (32 cores when the
    variable is unset); the builder always sets a master, so to run on a
    cluster pass its URL (e.g. ``"yarn"``). ``shuffle_partitions``
    defaults to ``$SPARK_GRAFT_CPUS``. A ``local[...]`` master lists
    files on the driver and commits checkpoint files through the
    ``FileSystem`` API, which renames without forking a ``readlink``
    process per lookup when Hadoop's native library is absent (module
    docstring). ``spark.driver.memory`` is ``$SPARK_GRAFT_DRIVER_MEM``,
    else 40% of the host's memory capped at 16g, so the JVM cannot
    outgrow a host without swap.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.stopGracefullyOnShutdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", _default_driver_memory()
        ))
    )
    # Local mode: size the shuffle to the core count, not the 200 default.
    b = b.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    # Local mode (not ``local-cluster``, which has executor processes):
    # list files on the driver, never via a Spark job, and commit
    # checkpoint files with FileSystem renames (module docstring).
    if master == "local" or master.startswith("local["):
        b = b.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
        ).config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    if rocksdb_state_store:
        # Large streaming keyspaces (high-cardinality groupBy state, long
        # watermarks): keep state off-heap/on-disk instead of in the JVM —
        # the 100 TB path for stateful streams. Default stays the HDFS-
        # backed in-memory provider (faster for the test-scale state).
        b = b.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
