"""signaltometricsconnector + countconnector multi-metric-def semantics.

- countconnector config carries a *list* of metric definitions, each with
  OTTL conditions (OR), grouping attributes with optional default_value, and
  a metric name (`connector/countconnector/config.go:34-52`);
- signaltometricsconnector generalizes: OTTL conditions select rows, keys
  define dimensions, and the value is count / sum(attribute) / histogram.

Here ALL definitions compile into ONE pass over the input: each row emits an
array of per-definition (name, matched, dims, weight) structs, which is
exploded and aggregated by (name, window, dims) in a single groupBy — K
metric definitions cost one scan + one shuffle, not K scans (the map-side
partial aggregate collapses the exploded rows before the exchange).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ottl import LogContext, compile_conditions_or
from .aggregate import tumbling_window_id


@dataclass
class MetricDef:
    name: str
    kind: str = "count"  # 'count' | 'sum'
    conditions: list[str] = field(default_factory=list)  # OTTL, OR-composed
    keys: list[str] = field(default_factory=list)
    defaults: dict[str, str] = field(default_factory=dict)
    source: str | None = None  # value column for 'sum'


def signal_to_metrics(
    df: DataFrame,
    defs: list[MetricDef],
    window_s: int = 3600,
    ts_col: str = "ts",
) -> DataFrame:
    """Long-format metric frame: (metric_name, window_id, dims, value).

    One scan, one shuffle for any number of definitions: rows emit a
    per-definition struct array, exploded and grouped once. Grouping uses
    the dim ENTRIES array (map types are not orderable grouping keys in
    Spark); entry order is fixed by each definition's key list, so equal
    dims always collide.
    """
    ctx = LogContext(df)
    per_def = []
    for d in defs:
        matched = (
            compile_conditions_or(d.conditions, ctx) if d.conditions else F.lit(True)
        )
        entries = []
        for k in d.keys:
            c = F.col(k).cast("string")
            if k in d.defaults:
                c = F.coalesce(c, F.lit(d.defaults[k]))
            else:
                # required key missing -> row skipped for THIS def only
                # (countconnector counter.go:70-73)
                matched = matched & F.col(k).isNotNull()
            entries.append(F.struct(F.lit(k).alias("key"), c.alias("value")))
        dim_entries = (
            F.array(*entries)
            if entries
            else F.array().cast("array<struct<key:string,value:string>>")
        )
        weight = F.lit(1.0) if d.kind == "count" else F.col(d.source).cast("double")
        per_def.append(
            F.struct(
                F.lit(d.name).alias("name"),
                matched.alias("matched"),
                dim_entries.alias("dims"),
                weight.alias("weight"),
            )
        )
    exploded = (
        df.withColumn("window_id", tumbling_window_id(F.col(ts_col), window_s))
        .select("window_id", F.explode(F.array(*per_def)).alias("m"))
        .filter(F.col("m.matched"))
    )
    return (
        exploded.groupBy(
            F.col("m.name").alias("metric_name"), "window_id", F.col("m.dims").alias("dim_entries")
        )
        .agg(F.sum("m.weight").alias("value"))
        .select(
            "metric_name",
            "window_id",
            F.map_from_entries("dim_entries").alias("dims"),
            "value",
        )
    )
