"""groupbyattrs / roundrobin partitioning + datagen skew sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts
from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
    metricstransform as mt,
)
from tests.conftest import SF_UNIT


def test_group_by_attrs_colocates_keys(spark):
    t = transcripts(spark, SF_UNIT)
    parted = mt.group_by_attrs(t, ["conv_id"], num_partitions=8)
    assert parted.rdd.getNumPartitions() == 8
    # every conv_id lives in exactly one partition
    per_part = (
        parted.withColumn("pid", F.spark_partition_id())
        .groupBy("conv_id")
        .agg(F.countDistinct("pid").alias("parts"))
        .agg(F.max("parts"))
        .collect()[0][0]
    )
    assert per_part == 1


def test_round_robin_spreads_evenly(spark):
    t = transcripts(spark, SF_UNIT)
    parted = mt.round_robin(t, 10)
    sizes = [
        r.n
        for r in parted.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert len(sizes) == 10
    assert max(sizes) - min(sizes) <= max(2, 0.05 * max(sizes))


def test_datagen_has_hot_conv_skew(spark):
    """FIXTURES.md mandates hot keys (~30% of rows in the hot bucket) so the
    skew-handling paths (partial aggregation, AQE) are actually exercised."""
    t = transcripts(spark, SF_UNIT)
    total = t.count()
    by_conv = t.groupBy("conv_id").count()
    hot = by_conv.filter(F.col("conv_id").endswith("-0")).agg(F.sum("count")).collect()[0][0]
    assert 0.25 <= hot / total <= 0.35


def test_metricstransform_label_operations(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
        metricstransform as mt,
    )

    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], ["env", "value"]
    ).withColumn("value", F.col("value").cast("bigint"))
    out = mt.add_label(df, "cluster", "prod")
    assert {r.cluster for r in out.collect()} == {"prod"}
    out = mt.update_label_values(df, "env", {"a": "alpha", "b": "beta"})
    assert {r.env for r in out.collect()} == {"alpha", "beta", "c"}
    out = mt.delete_label_value(df, "env", "b")
    assert {r.env for r in out.collect()} == {"a", "c"}
    out = mt.toggle_scalar_data_type(df, "value")
    assert dict(out.dtypes)["value"] == "double"
    assert dict(mt.toggle_scalar_data_type(out, "value").dtypes)["value"] == "bigint"
    combined = mt.combine_metrics(
        {"m1": df.limit(1), "m2": df.limit(2)}, "m_all"
    )
    rows = combined.collect()
    assert len(rows) == 3 and {r.metric for r in rows} == {"m1", "m2"}
    assert {r.metric_name for r in rows} == {"m_all"}


def test_expo_cumulative_collapse_semantics(spark):
    """data/expo Collapse parity: downscaling by one scale step merges
    bucket pairs aligned to index 0, absolute index i -> floor(i/2) — for
    NEGATIVE indices too (i=-1,-2 -> -1). A later lower-scale delta forces
    the earlier higher-scale buckets down (running-min reconciliation),
    and cumulative counts are bucket-wise sums."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.metrics import (
        expo_cumulative,
    )

    rows = [
        # window 0 at scale 1: one count in each of idx -2, -1, 0, 1
        ("s", 0, 1, -2, 1), ("s", 0, 1, -1, 1), ("s", 0, 1, 0, 1), ("s", 0, 1, 1, 1),
        # window 1 arrives at scale 0 -> everything reconciles to scale 0
        ("s", 1, 0, 0, 5),
    ]
    df = spark.createDataFrame(rows, ["series", "window_id", "scale", "idx", "cnt"])
    out = {(r.window_id, r.scale, r.idx): r.cum_cnt
           for r in expo_cumulative(df, ["series"]).collect()}
    # window 0: no reconciliation yet, buckets pass through at scale 1
    assert out[(0, 1, -2)] == 1 and out[(0, 1, -1)] == 1
    assert out[(0, 1, 0)] == 1 and out[(0, 1, 1)] == 1
    # window 1: scale 0 -> {-2,-1} -> -1 (cnt 2), {0,1} -> 0 (cnt 2) plus
    # the new delta's 5 at idx 0
    assert out[(1, 0, -1)] == 2
    assert out[(1, 0, 0)] == 2 + 5
    assert (1, 0, 1) not in out and (1, 0, -2) not in out
