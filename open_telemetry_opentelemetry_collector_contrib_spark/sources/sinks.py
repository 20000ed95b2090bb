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
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

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
        if mode == "overwrite_partitions":
            # choose create vs dynamic-overwrite by asking the catalog, not
            # by sniffing exception text — unrelated failures on the
            # crash-recovery path (FileNotFoundException, missing metadata
            # file) must surface, not be masked by a create() retry.
            if spark.catalog.tableExists(target):
                writer = df.writeTo(target)
                if compression:
                    writer = writer.tableProperty(
                        "write.parquet.compression-codec", compression
                    )
                writer.overwritePartitions()
            else:
                writer = df.writeTo(target)
                if compression:
                    writer = writer.tableProperty(
                        "write.parquet.compression-codec", compression
                    )
                if group_by:
                    writer = writer.partitionedBy(*[F.col(c) for c in group_by])
                writer.create()
            return
        writer = df.writeTo(target)
        if compression:
            writer = writer.tableProperty("write.parquet.compression-codec", compression)
        if group_by:
            writer = writer.partitionedBy(*[F.col(c) for c in group_by])
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    if mode == "overwrite_partitions":
        # parquet analog: dynamic partition overwrite on the group_by cols
        w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        if compression:
            w = w.option("compression", compression)
        if group_by:
            w = w.partitionBy(*group_by)
        w.parquet(target)
        return
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if group_by:
        w = w.partitionBy(*group_by)
    w.parquet(target)


@contextmanager
def write_sinks(
    routed: DataFrame, sinks: list[str], write: Callable[[DataFrame, str], None]
) -> Iterator[DataFrame]:
    """Routing-connector fan-out: ``write(rows, sink)`` once per sink, with
    the ``route`` column dropped, then yield the cached ordered frame for
    further writes off the same single pass.

    Rows are repartitioned by conv_id and sorted (conv_id, turn_idx) within
    partitions: the deterministic per-sink row order contract. A single
    ``partitionBy('route')`` write would re-sort rows by the partition
    column unstably inside FileFormatWriter and lose the secondary order;
    per-sink filtered writes off the cache keep the upstream compute
    single-pass — the reference's group-before-dispatch,
    `routingconnector/logs.go:119-124`. On Iceberg the equivalent is one
    fanout write with a sort order spec. The cache is dropped on exit, also
    when a write raises.
    """
    ordered = (
        routed.repartition(F.col("conv_id"))
        .sortWithinPartitions("conv_id", "turn_idx")
        .persist()
    )
    try:
        for sink in sinks:
            write(ordered.filter(F.col("route") == sink).drop("route"), sink)
        yield ordered
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
