"""metricstransform + metricsgeneration + groupbyattrs + roundrobin analogs.

- metricstransformprocessor (`processor/metricstransformprocessor/config.go:147-204`):
  rename metrics/labels, aggregate_labels (collapse dropped dimensions with
  sum/mean/min/max), aggregate_label_values (merge specific label values).
- metricsgenerationprocessor (`processor/metricsgenerationprocessor/config.go:50-71`):
  calculate (add/subtract/multiply/divide/percent across two metrics) and
  scale (multiply by constant).
- groupbyattrsprocessor (`processor/groupbyattrsprocessor/processor.go:63-99`):
  relationally a repartition by the promoted keys (resource identity is just
  columns on a flat table).
- roundrobinconnector: repartition for load spreading.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_AGGS = {
    "sum": F.sum,
    "mean": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(F.lit(1)),
}


def aggregate_labels(
    df: DataFrame,
    keep_labels: list[str],
    value_col: str,
    agg: str = "sum",
    out_col: str | None = None,
) -> DataFrame:
    """aggregate_labels: drop all dimensions except keep_labels and
    re-aggregate the series values across the collapsed dims."""
    fn = _AGGS[agg]
    return df.groupBy(*keep_labels).agg(fn(value_col).alias(out_col or value_col))


def aggregate_label_values(
    df: DataFrame,
    label: str,
    from_values: list[str],
    to_value: str,
    keys: list[str],
    value_col: str,
    agg: str = "sum",
) -> DataFrame:
    """aggregate_label_values: merge several label values into one bucket."""
    fn = _AGGS[agg]
    merged = F.when(F.col(label).isin(*from_values), F.lit(to_value)).otherwise(
        F.col(label)
    )
    return (
        df.withColumn(label, merged)
        .groupBy(label, *keys)
        .agg(fn(value_col).alias(value_col))
    )


def calculate(
    df: DataFrame,
    keys: list[str],
    metric_name_col: str,
    value_col: str,
    metric1: str,
    metric2: str,
    operation: str,
    new_metric: str,
) -> DataFrame:
    """metricsgeneration calculate: pivot the two operand series onto one row
    per key set, apply the arithmetic, emit the derived series."""
    pivoted = (
        df.filter(F.col(metric_name_col).isin(metric1, metric2))
        .groupBy(*keys)
        .pivot(metric_name_col, [metric1, metric2])
        .agg(F.first(value_col))
    )
    a, b = F.col(metric1), F.col(metric2)
    ops = {
        "add": a + b,
        "subtract": a - b,
        "multiply": a * b,
        "divide": F.when(b != 0, a / b),
        "percent": F.when(b != 0, a / b * 100.0),
    }
    return pivoted.select(
        *keys,
        F.lit(new_metric).alias(metric_name_col),
        ops[operation].alias(value_col),
    ).filter(F.col(value_col).isNotNull())


def scale(df: DataFrame, value_col: str, factor: float) -> DataFrame:
    """metricsgeneration scale / experimental_scale_value."""
    return df.withColumn(value_col, F.col(value_col) * factor)


def group_by_attrs(df: DataFrame, keys: list[str], num_partitions: int | None = None) -> DataFrame:
    """groupbyattrs: co-locate rows sharing the promoted attribute values
    (write-time analog: partitionBy(keys))."""
    if num_partitions:
        return df.repartition(num_partitions, *[F.col(k) for k in keys])
    return df.repartition(*[F.col(k) for k in keys])


def round_robin(df: DataFrame, num_partitions: int) -> DataFrame:
    """roundrobinconnector: even load spread, no key affinity."""
    return df.repartition(num_partitions)


def add_label(df: DataFrame, label: str, value: str) -> DataFrame:
    """add_label operation (`metricstransformprocessor/config.go:178`):
    attach a new constant dimension to every data point."""
    return df.withColumn(label, F.lit(value))


def update_label_values(df: DataFrame, label: str, mapping: dict[str, str]) -> DataFrame:
    """update_label value_actions: remap individual label values."""
    col = F.col(label)
    out = col
    for old, new in mapping.items():
        out = F.when(col == old, F.lit(new)).otherwise(out)
    return df.withColumn(label, out)


def delete_label_value(df: DataFrame, label: str, value: str) -> DataFrame:
    """delete_label_value (`config.go:186`): drop data points carrying the
    label value."""
    return df.filter(~F.coalesce(F.col(label) == value, F.lit(False)))


def toggle_scalar_data_type(df: DataFrame, value_col: str) -> DataFrame:
    """toggle_scalar_data_type (`config.go:188-189`): int64 <-> double."""
    from pyspark.sql import types as T

    dt = dict(df.dtypes)[value_col]
    target = "double" if dt in ("bigint", "int", "long") else "bigint"
    return df.withColumn(value_col, F.col(value_col).cast(target))


def combine_metrics(
    dfs: dict[str, DataFrame], new_name: str, label_for_original: str = "metric"
) -> DataFrame:
    """combine action (`config.go:152-153`): merge matching metrics into one
    series set, recording the original metric name as a new label. Spark:
    unionByName with the source name stamped — no shuffle; downstream aggs
    see one metric."""
    out = None
    for name, df in dfs.items():
        cur = df.withColumn(label_for_original, F.lit(name)).withColumn(
            "metric_name", F.lit(new_name)
        )
        out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
    return out
