"""Sink writers — fileexporter semantics onto tables.

The reference's fileexporter writes JSON/proto files with rotation and a
``group_by`` attribute fan-out (`exporter/fileexporter/config.go:22-55`,
`grouping_file_exporter.go:116-152`). The table-engine analog:

- primary: **Iceberg tables** (atomic snapshot commits give the
  exactly-once/rotation semantics for free) when an Iceberg catalog is on
  the classpath;
- fallback: parquet directories (this container ships no Iceberg runtime —
  detection is automatic and the API is identical).

``group_by`` -> ``partitionBy``; deterministic row order inside files is the
caller's job (repartition + sortWithinPartitions BEFORE calling, and do not
combine with partitionBy, whose writer re-sorts by partition columns
unstably — see ``write_sinks``, which fans routed rows out that way).

``write_sinks`` builds the cached routed frame once, then runs its writes
concurrently, one thread per write and no pool-size setting, waits for all
of them and re-raises the first failure. It is the package's only place
that runs Spark jobs off the caller's thread (``tests/test_source_rules.py``
enforces this), because its threads carry the caller's job group, tags and
SQL local properties.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "overwrite",
    group_by: list[str] | None = None,
    fmt: str = "auto",
    compression: str | None = None,
) -> None:
    """Write to an Iceberg table (``catalog.db.table`` target) when
    available, else a parquet directory (path target).

    ``mode='overwrite_partitions'`` is the idempotent chunk-commit mode:
    Iceberg ``overwritePartitions()`` replaces exactly the partitions present
    in ``df`` (one dynamic-overwrite snapshot), so re-running a chunk after a
    crash-before-lineage-commit replaces its rows instead of appending
    duplicates. First write creates the table partitioned by ``group_by``.

    ``compression`` is the fileexporter ``compression`` analog
    (`exporter/fileexporter/config.go:45-55`): the parquet codec
    (snappy/zstd/gzip/none) on the file path, a write property on Iceberg.
    """
    spark = df.sparkSession
    use_iceberg = fmt == "iceberg" or (
        fmt == "auto" and "/" not in target and iceberg_available(spark)
    )
    if use_iceberg:
        writer = df.writeTo(target)
        if compression:
            writer = writer.tableProperty("write.parquet.compression-codec", compression)
        # choose create vs dynamic-overwrite by asking the catalog, not by
        # sniffing exception text — unrelated failures on the crash-recovery
        # path (FileNotFoundException, missing metadata file) must surface,
        # not be masked by a create() retry.
        if mode == "overwrite_partitions" and spark.catalog.tableExists(target):
            writer.overwritePartitions()
            return
        if group_by:
            writer = writer.partitionedBy(*[F.col(c) for c in group_by])
        if mode == "overwrite_partitions":
            writer.create()
        elif mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    if mode == "overwrite_partitions":
        # parquet analog: dynamic partition overwrite on the group_by cols
        w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    else:
        w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if group_by:
        w = w.partitionBy(*group_by)
    w.parquet(target)


def write_sinks(
    routed: DataFrame,
    sinks: list[str],
    write: Callable[[DataFrame, str], None],
    *also: Callable[[DataFrame], None],
) -> None:
    """Routing-connector fan-out: ``write(rows, sink)`` once per sink, with
    the ``route`` column dropped, and ``f(ordered)`` for each further write
    ``f`` in ``also`` off the same cached ordered frame.

    Rows are repartitioned by conv_id and sorted (conv_id, turn_idx) within
    partitions: the deterministic per-sink row order contract. A single
    ``partitionBy('route')`` write would re-sort rows by the partition
    column unstably inside FileFormatWriter and lose the secondary order;
    per-sink filtered writes off the cache keep the upstream compute
    single-pass — the reference's group-before-dispatch,
    `routingconnector/logs.go:119-124`. On Iceberg the equivalent is one
    fanout write with a sort order spec.

    The cache is built first, by one ``count()`` job on the caller's
    thread. An ``observe()`` upstream keeps the metrics of the first action
    to finish, and that job is the one that computed every partition, so
    the metrics count every row once; a write that only read blocks built
    by another write's still-running tasks could otherwise finish first
    and report a partial count. The writes then share that one shuffle and
    cache build.

    Every write is then submitted at once, one pool thread per write (there
    is no pool-size knob), like the reference's exporters each draining
    their own queue. Each thread runs under the caller's job group, job
    tags and SQL local properties (``inheritable_thread_target``), so the
    writes' jobs are attributed to the caller. The call returns when every
    write has finished; if any raised, the first error in submission order
    (sinks, then ``also``) is re-raised after all the others have run. The
    cache is dropped on the way out, also when a write raises.
    """
    ordered = (
        routed.repartition(F.col("conv_id"))
        .sortWithinPartitions("conv_id", "turn_idx")
        .persist()
    )
    try:
        ordered.count()
        tasks = [
            partial(write, ordered.filter(F.col("route") == sink).drop("route"), sink)
            for sink in sinks
        ] + [partial(f, ordered) for f in also]
        inherit = inheritable_thread_target(routed.sparkSession)
        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            futures = [pool.submit(inherit(task)) for task in tasks]
        for future in futures:
            future.result()
    finally:
        ordered.unpersist()


def write_with_failover(
    df: DataFrame,
    targets: list[str],
    mode: str = "overwrite",
    group_by: list[str] | None = None,
) -> str:
    """failoverconnector analog (`connector/failoverconnector/`): try sinks
    in priority order, first successful write wins; returns the target that
    accepted the data. The reference retries upstream sinks on an interval —
    at batch granularity every run naturally re-attempts from the top."""
    last_err: Exception | None = None
    for target in targets:
        try:
            write_table(df, target, mode=mode, group_by=group_by)
            return target
        except Exception as e:  # noqa: BLE001 — any sink failure falls over
            last_err = e
    raise RuntimeError(f"all failover sinks failed, last error: {last_err}")


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if "/" not in target and iceberg_available(spark):
        return spark.read.table(target)
    return spark.read.parquet(target)
