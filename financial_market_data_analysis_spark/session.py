"""SparkSession factory tuned for the engine.

The reference runs ``master("local")`` with 1 thread and
``spark.sql.shuffle.partitions = 5`` "for testing"
(spark_consumer.py:29-43). The engine instead targets a multi-executor
cluster: AQE owns runtime partition coalescing and skew-join splitting,
shuffle partitions default to the local core count, and Arrow is enabled
for every pandas interop path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def host_cpus() -> str:
    """The core count a session is sized to: ``$SPARK_GRAFT_CPUS`` when
    set, else the cores this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "financial-market-data-analysis-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default tuning.

    Defaults are scale-oriented: adaptive query execution (runtime shuffle
    coalescing + skew-join handling), broadcast threshold large enough to
    broadcast dimension tables, Arrow for pandas UDFs, UTC session timezone
    so results compare bit-for-bit against naive-UTC oracles (DuckDB).
    """
    cpus = host_cpus()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
