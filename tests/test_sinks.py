"""The fan-out contract of ``sources.sinks.write_sinks``: its concurrent
writes run under the caller's job group, an ``observe()`` upstream counts
every row, and one failing sink neither stops the others nor leaves the
routed frame cached."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.sources.sinks import write_sinks

SINKS = ["a", "b", "c"]


@pytest.fixture()
def routed(spark):
    return spark.range(300).select(
        (F.col("id") % 7).cast("string").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.element_at(F.array(*map(F.lit, SINKS)), (F.col("id") % 3 + 1).cast("int")).alias("route"),
    )


def _parquet_writer(out: str):
    def write(df, sink):
        df.write.mode("overwrite").parquet(os.path.join(out, sink))

    return write


def _wait_for_listeners(spark) -> None:
    # the status tracker is fed by the listener bus, asynchronously
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def test_writes_run_in_the_callers_job_group(spark, routed, tmp_path):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    _wait_for_listeners(spark)
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("fan-out-group", "write_sinks under a job group")
    try:
        write_sinks(
            routed,
            SINKS,
            _parquet_writer(str(tmp_path)),
            lambda ordered: ordered.write.parquet(str(tmp_path / "extra")),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _wait_for_listeners(spark)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    # at least one job per sink write and one for the extra write
    assert len(tracker.getJobIdsForGroup("fan-out-group")) >= len(SINKS) + 1


def test_cache_is_built_before_any_write_starts(spark, routed):
    """An Observation keeps the metrics of the first action to finish. Every
    cached partition is built before any write starts, so that action is
    the one job that computed them all, not a write that only read blocks
    another write's still-running tasks had built."""
    storage = spark.sparkContext._jsc.sc()

    def cached_rdds():
        return {i.id(): (i.numCachedPartitions(), i.numPartitions()) for i in storage.getRDDStorageInfo()}

    before = set(cached_rdds())
    seen = []

    def write(df, sink):
        seen.append([n for rdd, (cached, n) in cached_rdds().items() if rdd not in before and cached == n > 0])

    obs = Observation("fan-out")
    write_sinks(routed.observe(obs, F.count(F.lit(1)).alias("rows")), SINKS, write)
    assert len(seen) == len(SINKS) and all(seen), seen
    assert obs.get["rows"] == 300


def test_failing_sink_lets_the_others_finish(spark, routed, tmp_path):
    write_ok = _parquet_writer(str(tmp_path))

    def write(df, sink):
        if sink == "a":
            raise RuntimeError("sink a is down")
        write_ok(df, sink)

    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="sink a is down"):
        write_sinks(routed, SINKS, write)
    assert not (tmp_path / "a").exists()
    for sink in ["b", "c"]:
        assert spark.read.parquet(str(tmp_path / sink)).count() == 100, sink
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_first_error_in_submission_order_is_raised(spark, routed):
    def write(df, sink):
        if sink == "a":
            time.sleep(0.5)  # fails last, but was submitted first
        raise RuntimeError(f"sink {sink} failed")

    def extra(ordered):
        raise ValueError("extra write failed")

    with pytest.raises(RuntimeError, match="sink a failed"):
        write_sinks(routed, SINKS, write, extra)
