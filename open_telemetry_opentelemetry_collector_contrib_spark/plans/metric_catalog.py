"""transformprocessor metric-context function queries + DuckDB oracles.

Covers the `processor/transformprocessor/internal/metrics/func_*.go` family:
type conversions (gauge<->sum), sum/count extraction from histograms and
summaries, summary value conversion, copy+scale, and exponential->explicit
histogram conversion under the deterministic distribution algorithms.

Inputs are synthesized from the driver's ``events`` parquet with integer
arithmetic only (counts, floor-scaled sums), so every compared value is
hash-exact across Spark and DuckDB. Exponential bucket bounds go through
``exp``/``ln`` doubles, but the synthetic index grid (powers of 2^(1/4))
keeps every bound at least 5% away from each explicit boundary except the
exactly-representable ``exp(0)=1`` tie, so ulp-level libm differences
cannot flip a bucket assignment.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import metricfns as mf
from ..operators import transform as transform_ops
from ..sources.tables import load_table
from .catalog import _O_HIST_PER, _histogram_deltas

_EXPO_BOUNDS = [0.0, 1.0, 2.5, 5.0, 10.0]


def _window(col: str = "ts"):
    return F.floor(F.unix_timestamp(col) / 86400).cast("bigint")


# ---------------------------------------------------------------------------
# convert_gauge_to_sum / convert_sum_to_gauge (as OTTL statements)
# ---------------------------------------------------------------------------


def _number_points(spark, sf_dir):
    """Two number metrics per (series, day): a gauge and a cumulative
    monotonic sum, both carrying the event count as the value."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy(
        F.col("event_type").alias("series"), _window().alias("window_id")
    ).agg(F.count("*").cast("long").alias("value_int"))

    def named(name: str, mtype: int, temp: int, mono: bool):
        return base.select(
            F.lit(name).alias("metric_name"),
            "series",
            "window_id",
            F.lit(mtype).alias("metric_type"),
            F.lit(temp).alias("temporality"),
            F.lit(mono).alias("is_monotonic"),
            "value_int",
        )

    return named("turns_gauge", mf.GAUGE, 0, False).unionByName(
        named("turns_total", mf.SUM, 2, True)
    )


def q_metric_convert_gauge_sum(spark, sf_dir):
    """convert_gauge_to_sum / convert_sum_to_gauge as metric-context OTTL
    statements with name-scoped where clauses
    (`func_convert_gauge_to_sum.go:52-66`,
    `func_convert_sum_to_gauge.go:25-36`; statement order matters — the
    first statement's converted gauge is shielded from the second by its
    name predicate). Pure projections: no shuffle beyond the input agg."""
    df = _number_points(spark, sf_dir)
    out = transform_ops.transform(
        df,
        [
            transform_ops.StatementGroup(
                context="metric",
                statements=[
                    'convert_gauge_to_sum("delta", true) '
                    'where metric.name == "turns_gauge"',
                    'convert_sum_to_gauge() where metric.name == "turns_total"',
                ],
            )
        ],
    )
    return out.select(
        "metric_name",
        "series",
        "window_id",
        F.col("metric_type").cast("bigint").alias("metric_type"),
        F.col("temporality").cast("bigint").alias("temporality"),
        "is_monotonic",
        "value_int",
    )


O_METRIC_CONVERT_GAUGE_SUM = """
WITH base AS (
  SELECT event_type AS series,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
         CAST(count(*) AS BIGINT) AS value_int
  FROM events GROUP BY 1, 2
)
SELECT 'turns_gauge' AS metric_name, series, window_id,
       CAST(2 AS BIGINT) AS metric_type, CAST(1 AS BIGINT) AS temporality,
       TRUE AS is_monotonic, value_int
FROM base
UNION ALL
SELECT 'turns_total', series, window_id,
       CAST(1 AS BIGINT), CAST(0 AS BIGINT), FALSE, value_int
FROM base
"""


# ---------------------------------------------------------------------------
# extract_sum_metric / extract_count_metric
# ---------------------------------------------------------------------------


def _latency_histogram(spark, sf_dir):
    """Delta explicit-bucket histogram metric frame; every 5th window's sum
    is absent (HasSum false) to exercise the sum-extraction skip branch."""
    d = _histogram_deltas(spark, sf_dir)
    return d.select(
        F.lit("latency").alias("metric_name"),
        F.lit(mf.HISTOGRAM).alias("metric_type"),
        F.lit(1).alias("temporality"),  # delta
        F.lit("ms").alias("unit"),
        "series",
        "window_id",
        F.col("d_cnt").alias("cnt"),
        F.when(F.pmod(F.col("window_id"), F.lit(5)) != 0, F.col("d_sum"))
        .cast("double")
        .alias("hsum"),
    )


def q_extract_histogram_sum_count(spark, sf_dir):
    """extract_sum_metric(false) + extract_count_metric(true) over a delta
    histogram (`func_extract_sum_metric.go:58-96`,
    `func_extract_count_metric.go:55-99`): `<name>_sum` inherits the source
    temporality and unit, `<name>_count` forces unit "1"; windows without a
    sum emit only the count row. The appends are unioned (narrow concat of
    two projections over one shared scan)."""
    h = _latency_histogram(spark, sf_dir)
    sums = mf.extract_sum_metric(h, monotonic=False).select(
        "metric_name",
        "series",
        "window_id",
        F.col("temporality").cast("bigint").alias("temporality"),
        "is_monotonic",
        "unit",
        F.col("value_double").cast("bigint").alias("value"),
    )
    counts = mf.extract_count_metric(h, monotonic=True).select(
        "metric_name",
        "series",
        "window_id",
        F.col("temporality").cast("bigint").alias("temporality"),
        "is_monotonic",
        "unit",
        F.col("value_int").cast("bigint").alias("value"),
    )
    return sums.unionByName(counts)


O_EXTRACT_HISTOGRAM_SUM_COUNT = f"""
WITH per AS ({_O_HIST_PER}
), h AS (
  SELECT series, window_id, d_cnt AS cnt,
         CASE WHEN window_id % 5 <> 0 THEN d_sum END AS hsum
  FROM per
)
SELECT 'latency_sum' AS metric_name, series, window_id,
       CAST(1 AS BIGINT) AS temporality, FALSE AS is_monotonic,
       'ms' AS unit, CAST(hsum AS BIGINT) AS value
FROM h WHERE hsum IS NOT NULL
UNION ALL
SELECT 'latency_count', series, window_id,
       CAST(1 AS BIGINT), TRUE, '1', cnt
FROM h
"""


# ---------------------------------------------------------------------------
# convert_summary_sum_val_to_sum / convert_summary_count_val_to_sum
# ---------------------------------------------------------------------------


def _summary_points(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("vi", F.floor(F.col("value") * 100).cast("bigint"))
        .groupBy(F.col("event_type").alias("series"), _window().alias("window_id"))
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("vi").cast("double").alias("hsum"),
        )
        .select(
            F.lit("rt").alias("metric_name"),
            F.lit(mf.SUMMARY).alias("metric_type"),
            F.lit(0).alias("temporality"),
            "series",
            "window_id",
            "cnt",
            "hsum",
        )
    )


def q_summary_convert_sums(spark, sf_dir):
    """convert_summary_sum_val_to_sum("delta", false) +
    convert_summary_count_val_to_sum("cumulative", true)
    (`func_convert_summary_sum_val_to_sum.go:45-70` and its _count twin):
    unlike extract_*, the CONFIGURED temporality is stamped on the new
    metric and the unit is left alone. Output is the appended rows only."""
    s = _summary_points(spark, sf_dir)
    sums = mf.convert_summary_sum_val_to_sum(s, "delta", False).select(
        "metric_name",
        "series",
        "window_id",
        F.col("temporality").cast("bigint").alias("temporality"),
        "is_monotonic",
        F.col("value_double").cast("bigint").alias("value"),
    )
    counts = mf.convert_summary_count_val_to_sum(s, "cumulative", True).select(
        "metric_name",
        "series",
        "window_id",
        F.col("temporality").cast("bigint").alias("temporality"),
        "is_monotonic",
        F.col("value_int").cast("bigint").alias("value"),
    )
    return sums.unionByName(counts)


O_SUMMARY_CONVERT_SUMS = """
WITH s AS (
  SELECT event_type AS series,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS hsum
  FROM events GROUP BY 1, 2
)
SELECT 'rt_sum' AS metric_name, series, window_id,
       CAST(1 AS BIGINT) AS temporality, FALSE AS is_monotonic, hsum AS value
FROM s
UNION ALL
SELECT 'rt_count', series, window_id, CAST(2 AS BIGINT), TRUE, cnt
FROM s
"""


# ---------------------------------------------------------------------------
# copy_metric + scale_metric
# ---------------------------------------------------------------------------


def q_copy_scale_metric(spark, sf_dir):
    """copy_metric(name=...) then scale_metric(10.0, unit) on the copy
    (`func_copy_metric.go:38-63`, `func_scale.go:44-100`): histogram sum
    and explicit bounds scale, bucket COUNTS don't; the original is
    untouched. Bounds surface as x100 integers for hash portability."""
    d = _histogram_deltas(spark, sf_dir)
    h = d.select(
        F.lit("latency").alias("metric_name"),
        F.lit(mf.HISTOGRAM).alias("metric_type"),
        F.lit("ms").alias("unit"),
        "series",
        "window_id",
        F.col("d_cnt").alias("cnt"),
        F.col("d_sum").cast("double").alias("hsum"),
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)).alias("explicit_bounds"),
    )
    copy = mf.copy_metric(h, name="latency_x10")
    scaled = mf.scale_metric(
        copy, 10.0, unit="100us", bounds_col="explicit_bounds"
    )
    out = h.unionByName(scaled)
    return out.select(
        "metric_name",
        "series",
        "window_id",
        "unit",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("hsum").cast("bigint").alias("hsum"),
        F.posexplode("explicit_bounds").alias("bucket_idx", "_b"),
    ).select(
        "metric_name",
        "series",
        "window_id",
        "unit",
        "cnt",
        "hsum",
        F.col("bucket_idx").cast("bigint").alias("bucket_idx"),
        F.round(F.col("_b") * 100).cast("bigint").alias("bound_x100"),
    )


O_COPY_SCALE_METRIC = f"""
WITH per AS ({_O_HIST_PER}
), b(bucket_idx, bound) AS (VALUES (0, 0.25), (1, 0.5), (2, 0.75))
SELECT 'latency' AS metric_name, series, window_id, 'ms' AS unit,
       d_cnt AS cnt, d_sum AS hsum,
       CAST(bucket_idx AS BIGINT) AS bucket_idx,
       CAST(round(bound * 100) AS BIGINT) AS bound_x100
FROM per CROSS JOIN b
UNION ALL
SELECT 'latency_x10', series, window_id, '100us',
       d_cnt, d_sum * 10,
       CAST(bucket_idx AS BIGINT),
       CAST(round(bound * 10 * 100) AS BIGINT)
FROM per CROSS JOIN b
"""


# ---------------------------------------------------------------------------
# convert_exponential_histogram_to_histogram
# ---------------------------------------------------------------------------


def _expo_points(spark, sf_dir):
    """Long-format positive expo buckets per (series, day) datapoint:
    per-window alternating scale, index grid spanning negatives, overflow,
    exact-fit and multi-boundary spans; zero_count = window_id % 3
    (replicated per row, datapoint-level)."""
    ev = load_table(spark, sf_dir, "events")
    win = _window()
    return (
        ev.select(
            F.col("event_type").alias("series"),
            win.alias("window_id"),
            (F.lit(2) - F.pmod(win, F.lit(2))).cast("bigint").alias("scale"),
            (F.pmod(F.col("event_id") * 7, F.lit(37)) - F.lit(12))
            .cast("bigint")
            .alias("idx"),
        )
        .groupBy("series", "window_id", "scale", "idx")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .withColumn("zero_count", F.pmod(F.col("window_id"), F.lit(3)))
    )


def _q_expo_to_explicit(distribution):
    def q(spark, sf_dir):
        pts = _expo_points(spark, sf_dir)
        out = mf.expo_buckets_to_explicit(
            pts,
            _EXPO_BOUNDS,
            distribution,
            keys=["series", "window_id"],
            zero_count_col="zero_count",
        )
        return out.select(
            "series",
            "window_id",
            F.col("bucket_idx").cast("bigint").alias("bucket_idx"),
            F.col("bucket_count").cast("bigint").alias("bucket_count"),
        )

    q.__doc__ = (
        "convert_exponential_histogram_to_histogram with the "
        f"'{distribution}' distribution algorithm "
        "(`func_convert_exponential_hist_to_explicit_hist.go:108-255`): "
        "scalar-column bucket math + one map-side-combined groupBy."
    )
    return q


q_expo_to_explicit_upper = _q_expo_to_explicit("upper")
q_expo_to_explicit_uniform = _q_expo_to_explicit("uniform")


_O_EXPO_PTS = """
  SELECT event_type AS series,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
         CAST(2 - (CAST(floor(epoch(ts) / 86400) AS BIGINT) % 2) AS BIGINT) AS scale,
         CAST(((event_id * 7) % 37 + 37) % 37 - 12 AS BIGINT) AS idx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3, 4
"""

_O_EXPO_BOUNDS = """
  SELECT series, window_id, cnt, window_id % 3 AS zero_count,
         exp(idx * ln(2) * power(2, -scale)) AS lo,
         exp((idx + 1) * ln(2) * power(2, -scale)) AS hi
  FROM pts
"""

O_EXPO_TO_EXPLICIT_UPPER = f"""
WITH pts AS ({_O_EXPO_PTS}
), d AS ({_O_EXPO_BOUNDS}
), dest AS (
  SELECT series, window_id, cnt, zero_count,
    CASE WHEN lo > 10.0 THEN 4
         WHEN lo > 0.0 AND hi <= 1.0 THEN 0
         WHEN lo > 1.0 AND hi <= 2.5 THEN 1
         WHEN lo > 2.5 AND hi <= 5.0 THEN 2
         WHEN lo > 5.0 AND hi <= 10.0 THEN 3
         WHEN hi <= 0.0 THEN 0
         WHEN hi <= 1.0 THEN 1
         WHEN hi <= 2.5 THEN 2
         WHEN hi <= 5.0 THEN 3
         WHEN hi <= 10.0 THEN 4
         ELSE 4 END AS dst
  FROM d
)
SELECT series, window_id, CAST(i.bucket_idx AS BIGINT) AS bucket_idx,
       CAST(sum(CASE WHEN dst = i.bucket_idx THEN cnt ELSE 0 END)
            + CASE WHEN i.bucket_idx = 0 THEN max(zero_count) ELSE 0 END
            AS BIGINT) AS bucket_count
FROM dest CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS i(bucket_idx)
GROUP BY series, window_id, i.bucket_idx
"""

O_EXPO_TO_EXPLICIT_UNIFORM = f"""
WITH pts AS ({_O_EXPO_PTS}
), d AS ({_O_EXPO_BOUNDS}
), span AS (
  SELECT series, window_id, cnt, zero_count, lo, hi,
    CASE WHEN lo > 10.0 THEN 4
         WHEN lo > 0.0 AND hi <= 1.0 THEN 0
         WHEN lo > 1.0 AND hi <= 2.5 THEN 1
         WHEN lo > 2.5 AND hi <= 5.0 THEN 2
         WHEN lo > 5.0 AND hi <= 10.0 THEN 3
         END AS single,
    CASE WHEN lo <= 0.0 THEN 0 WHEN lo <= 1.0 THEN 1 WHEN lo <= 2.5 THEN 2
         WHEN lo <= 5.0 THEN 3 ELSE 4 END AS s,
    least(CASE WHEN hi <= 0.0 THEN 0 WHEN hi <= 1.0 THEN 1 WHEN hi <= 2.5 THEN 2
               WHEN hi <= 5.0 THEN 3 WHEN hi <= 10.0 THEN 4 ELSE 5 END, 4) AS e
  FROM d
)
SELECT series, window_id, CAST(i.bucket_idx AS BIGINT) AS bucket_idx,
       CAST(sum(
         CASE WHEN single IS NOT NULL THEN
                CASE WHEN i.bucket_idx = single THEN cnt ELSE 0 END
              WHEN e > s THEN
                CASE WHEN i.bucket_idx BETWEEN s AND e THEN
                       cnt // (e - s + 1)
                       + CASE WHEN i.bucket_idx - s < cnt % (e - s + 1)
                              THEN 1 ELSE 0 END
                     ELSE 0 END
              ELSE CASE WHEN i.bucket_idx = s THEN cnt ELSE 0 END
         END)
         + CASE WHEN i.bucket_idx = 0 THEN max(zero_count) ELSE 0 END
         AS BIGINT) AS bucket_count
FROM span CROSS JOIN (VALUES (0), (1), (2), (3), (4)) AS i(bucket_idx)
GROUP BY series, window_id, i.bucket_idx
"""


def q_aggregate_on_attrs_stmt(spark, sf_dir):
    """aggregate_on_attributes + aggregate_on_attribute_value as CHAINED
    metric-context OTTL statements (`func_aggregate_on_attributes_metrics
    .go:39-57`, `func_agregate_on_attribute_value_metrics.go:44-70`): the
    first collapses the `et` attribute (keep list ["shard"]) summing
    across it, the second merges shard values s0,s1 into s01 and re-sums.
    Both lower to map-keyed groupBys on the denormalized datapoint frame;
    the second group runs over the already-collapsed (tiny) frame."""
    ev = load_table(spark, sf_dir, "events")
    base = (
        ev.groupBy(
            _window().alias("window_id"),
            F.col("event_type").alias("et"),
            F.concat(F.lit("s"), F.pmod(F.col("user_id"), F.lit(4))).alias(
                "shard"
            ),
        )
        .agg(F.count("*").cast("long").alias("value_int"))
        .select(
            F.lit("calls").alias("metric_name"),
            F.lit(mf.SUM).alias("metric_type"),
            "window_id",
            F.map_from_arrays(
                F.array(F.lit("et"), F.lit("shard")),
                F.array(F.col("et"), F.col("shard")),
            ).alias("attributes"),
            "value_int",
        )
    )
    out = transform_ops.transform(
        base,
        [
            transform_ops.StatementGroup(
                context="metric",
                statements=[
                    'aggregate_on_attributes("sum", ["shard"])',
                    'aggregate_on_attribute_value("sum", "shard", '
                    '["s0", "s1"], "s01")',
                ],
            )
        ],
    )
    return out.select(
        "metric_name",
        "window_id",
        F.element_at("attributes", "shard").alias("shard"),
        F.col("value_int").cast("bigint").alias("value_int"),
    )


O_AGGREGATE_ON_ATTRS_STMT = """
WITH base AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
         's' || CAST(((user_id % 4) + 4) % 4 AS VARCHAR) AS shard,
         CAST(count(*) AS BIGINT) AS v
  FROM events GROUP BY 1, event_type, 2
), s1 AS (
  SELECT window_id, shard, CAST(sum(v) AS BIGINT) AS v
  FROM base GROUP BY 1, 2
)
SELECT 'calls' AS metric_name, window_id,
       CASE WHEN shard IN ('s0', 's1') THEN 's01' ELSE shard END AS shard,
       CAST(sum(v) AS BIGINT) AS value_int
FROM s1 GROUP BY 1, 2, 3
"""
