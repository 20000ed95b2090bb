"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB of
transcript parquet/Iceberg) while remaining correct on local[N]:

- AQE on (runtime coalesce + skew-join splitting — BASELINE requires skew
  handling for hot ``conv_id`` keys).
- Arrow enabled for every pandas-UDF boundary.
- ``spark.sql.shuffle.partitions`` defaults to 2x cores locally; on a real
  cluster AQE coalesces from a high initial number, so we set a high
  ``initialPartitionNum`` instead of hand-tuning.
- 128 MB parquet split size: large enough to amortize task overhead, small
  enough that a 100 TB scan yields ~800k tasks (fine for 1000 executors).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "otelcol-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` pins ``local[cores]`` — used by the dual-parallelism scaling
    benchmark (local[N] vs local[4N] as the executor stand-in). It defaults
    to ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # cached plans lose AQE partition coalescing by default; the one
        # remaining cache, sinks.write_sinks's repartition(conv_id), needs
        # this so AQE coalesces that shuffle and each sink gets few files
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
        .config("spark.sql.session.timeZone", "UTC")
        # streaming state at scale: RocksDB spills keyed state to disk —
        # the default HDFSBackedStateStore keeps it all on-heap and GC-locks
        # under multi-million-key windows
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
