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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    defaults to ``$SPARK_GRAFT_CPUS``, and a ``local[...]`` master lists
    files on the driver (module docstring).
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Local mode: size the shuffle to the core count, not the 200 default.
    b = b.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    # Local mode (not ``local-cluster``, which has executor processes):
    # list files on the driver, never via a Spark job.
    if master == "local" or master.startswith("local["):
        b = b.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(2**31 - 1),
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
