"""Aggregate stage — count/sum connector semantics over tumbling windows.

Reference semantics:
- countconnector (`connector/countconnector/counter.go:38-128`): per metric
  definition, optional OR-composed conditions select rows; counts are grouped
  by configured attribute keys; a row missing a keyed attribute uses the
  key's ``default_value`` if configured, else the row is **skipped**
  (`counter.go:70-73`). Emission is a delta count per consumed batch
  (`connector.go:164-194`).
- sumconnector: identical but sums a numeric source attribute.
- The reference's "batch" is an arrival-time unit; the BASELINE maps it to a
  data-time tumbling window, so counts here are keyed by
  ``floor(epoch(ts) / window_s)`` — deterministic and reproducible, unlike
  arrival batching.

Spark mapping: `groupBy(...).agg(...)` — Catalyst performs partial (map-side)
aggregation before the shuffle, so the shuffle carries one row per
(window × key-combination) per input partition, not per event. At 10^12 rows
with bounded key cardinality this is the only aggregation shape that works.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, GroupedData
from pyspark.sql import functions as F


def tumbling_window_id(ts: Column, window_s: int) -> Column:
    """Integer tumbling-window id (epoch-seconds floor-div window).

    Engine-portable (DuckDB oracle uses epoch(ts)//window) and avoids
    timezone-sensitive timestamp rendering in compared outputs; callers can
    reconstruct the window start as ``to_timestamp(id * window_s)``.
    """
    return F.floor(F.unix_timestamp(ts) / window_s).cast("bigint")


def _keyed_windows(
    df: DataFrame,
    keys: list[str],
    window_s: int,
    ts_col: str,
    condition: Column | None,
    defaults: dict[str, str] | None,
) -> GroupedData:
    """The count/sum connectors' shared body: conditions -> required-key
    skip/default -> rows grouped by (window_id, *keys)."""
    if condition is not None:
        df = df.filter(condition)
    defaults = defaults or {}
    key_cols = []
    for k in keys:
        c = F.col(k)
        if k in defaults:
            c = F.coalesce(c, F.lit(defaults[k]))
        else:
            # required attribute missing and no default => skip row
            df = df.filter(F.col(k).isNotNull())
        key_cols.append(c.alias(k))
    return df.withColumn(
        "window_id", tumbling_window_id(F.col(ts_col), window_s)
    ).groupBy(F.col("window_id"), *key_cols)


def windowed_count(
    df: DataFrame,
    keys: list[str],
    window_s: int = 3600,
    ts_col: str = "ts",
    condition: Column | None = None,
    defaults: dict[str, str] | None = None,
    count_col: str = "n",
) -> DataFrame:
    """countconnector: conditions -> required-key skip/default -> keyed count."""
    return _keyed_windows(df, keys, window_s, ts_col, condition, defaults).agg(
        F.count(F.lit(1)).alias(count_col)
    )


def windowed_sum(
    df: DataFrame,
    keys: list[str],
    source_col: str,
    window_s: int = 3600,
    ts_col: str = "ts",
    condition: Column | None = None,
    defaults: dict[str, str] | None = None,
    sum_col: str = "total",
) -> DataFrame:
    """sumconnector (`connector/sumconnector/config.go:18-37`)."""
    return _keyed_windows(df, keys, window_s, ts_col, condition, defaults).agg(
        F.sum(source_col).alias(sum_col)
    )
