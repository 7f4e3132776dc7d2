"""SparkSession factory with scale-oriented defaults.

Tuned for the driver harness (local[32], 128 GiB) but every setting is the
one you would also want on a 1000-executor cluster reading 100 TB:
AQE on (runtime partition coalescing + skew-join splitting), broadcast
threshold raised so dimension tables never shuffle, Arrow on for every
pandas-UDF exchange.

Python workers fork from the engine's own daemon,
``map_reduce_folds_spark.pyworker`` (``spark.python.daemon.module``, always
set, after ``extra_conf``).  PySpark's default daemon makes every task
re-read the central directory of each zip on the worker's ``sys.path``
(``pyspark.zip``, py4j, the Spark jars): 0.13-0.25 s per task on CPython
3.11 (4-vCPU VM) before a UDF sees a row.  The engine's daemon re-reads an
archive only when it changed.  Workers must be able to import the package
(working directory or ``PYTHONPATH``), as every engine UDF already
requires: if they cannot, every Python stage fails with
``ModuleNotFoundError``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "map-reduce-folds-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core; on a real cluster this
        # would be ~2-3x total cores, and AQE coalesces the rest.
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pushdown: prunes the big side of selective
        # joins before the shuffle (free win on star-schema fact scans)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # fixture events.parquet stores TIMESTAMP(NANOS) which the vectorized
        # reader rejects; read as bigint nanos and convert in sources.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # set last: a fixed part of the engine, not a caller's choice
    builder = builder.config("spark.python.daemon.module",
                             "map_reduce_folds_spark.pyworker")
    return builder.getOrCreate()
