"""applyInPandasWithState: streaming delta->cumulative must match the batch
window-function implementation, including state carry-over across
micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from open_telemetry_opentelemetry_collector_contrib_spark.operators import metrics as m
from open_telemetry_opentelemetry_collector_contrib_spark.streaming import stateful
from tests.conftest import SF_UNIT

SRC_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("vi", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


@pytest.fixture(scope="module")
def events_vi_dir(spark, tmp_path_factory):
    out = os.path.join(str(tmp_path_factory.mktemp("events_vi")), "data")
    ev = spark.read.parquet(f"{SF_UNIT}/events.parquet").select(
        "user_id",
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000).cast("bigint").alias("vi"),
        "ts",
    )
    # several files => several potential micro-batches
    ev.repartition(4, "user_id").write.parquet(out)
    return out


def test_stateful_d2c_matches_batch(spark, events_vi_dir):
    stream = (
        spark.readStream.schema(SRC_SCHEMA)
        .option("maxFilesPerTrigger", 1)  # force multiple micro-batches
        .parquet(events_vi_dir)
    )
    out = stateful.delta_to_cumulative_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("d2c_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.event_type, r.event_id): r.cumulative
        for r in spark.sql("select * from d2c_stream").collect()
    }
    batch = m.delta_to_cumulative(
        spark.read.parquet(events_vi_dir),
        ["user_id", "event_type"],
        "vi",
        order_cols=["event_id"],
    )
    exp = {
        (r.user_id, r.event_type, r.event_id): r.cumulative for r in batch.collect()
    }
    assert len(got) == len(exp)
    # NB: streaming micro-batch order may process files out of event-time
    # order within a stream; with user_id-partitioned files each stream's
    # rows arrive in one batch, so results must match exactly
    assert got == exp


class _FakeState:
    """Minimal GroupState double for driver-side parity tests."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v, self.removed = None, True

    def setTimeoutDuration(self, ms):
        pass


def _pdf(user_id, etype, n=2):
    import pandas as pd

    return pd.DataFrame(
        {
            "user_id": [user_id] * n,
            "event_type": [etype] * n,
            "event_id": list(range(n)),
            "vi": [1] * n,
            "ts": pd.to_datetime(["2024-01-01"] * n),
        }
    )


def test_max_streams_cap_rejects_new_streams():
    """Reference parity (`deltatocumulativeprocessor/processor.go:88-93`):
    a NEW stream is rejected (its datapoints drop) once the tracked-stream
    count reaches max_streams; EXISTING streams keep flowing; a stale-evicted
    stream frees capacity for a new one."""
    stateful._ADMITTED.clear()
    fn = stateful._d2c_guarded(max_stale_ms=60000, max_streams_per_partition=2)

    s1, s2, s3 = _FakeState(), _FakeState(), _FakeState()
    assert len(list(fn((1, "a"), iter([_pdf(1, "a")]), s1))) == 1  # admitted
    assert len(list(fn((2, "a"), iter([_pdf(2, "a")]), s2))) == 1  # admitted
    # capacity reached: stream 3 rejected, no state written
    assert list(fn((3, "a"), iter([_pdf(3, "a")]), s3)) == []
    assert not s3.exists
    # existing stream 1 still flows and accumulates
    out = list(fn((1, "a"), iter([_pdf(1, "a")]), s1))
    assert out[0]["cumulative"].iloc[-1] == 4
    # stream 2 goes stale -> evicted -> capacity frees for stream 3
    s2.hasTimedOut = True
    assert list(fn((2, "a"), iter([]), s2)) == [] and s2.removed
    assert len(list(fn((3, "a"), iter([_pdf(3, "a")]), s3))) == 1
    stateful._ADMITTED.clear()


def test_max_streams_registry_is_per_query():
    """Admission registries are namespaced by a per-query token: stale keys
    left behind by a previous query in the same long-lived Python worker
    must not consume a later query's capacity."""
    stateful._ADMITTED.clear()
    fn_q1 = stateful._d2c_guarded(
        max_stale_ms=60000, max_streams_per_partition=1, query_token="q1"
    )
    fn_q2 = stateful._d2c_guarded(
        max_stale_ms=60000, max_streams_per_partition=1, query_token="q2"
    )
    s1, s2 = _FakeState(), _FakeState()
    # q1 fills its single slot
    assert len(list(fn_q1((1, "a"), iter([_pdf(1, "a")]), s1))) == 1
    # a fresh query with its own token starts at zero occupancy
    assert len(list(fn_q2((2, "a"), iter([_pdf(2, "a")]), s2))) == 1
    # but q1 itself is still at capacity
    s3 = _FakeState()
    assert list(fn_q1((3, "a"), iter([_pdf(3, "a")]), s3)) == []
    stateful._ADMITTED.clear()


def test_stateful_d2c_with_cap_matches_batch(spark, events_vi_dir):
    """A cap far above the per-partition stream count must not change
    results (the guarded path is exercised end-to-end in a real query)."""
    stream = (
        spark.readStream.schema(SRC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_vi_dir)
    )
    out = stateful.delta_to_cumulative_stream(
        stream, max_streams_per_partition=10_000_000
    )
    q = (
        out.writeStream.format("memory")
        .queryName("d2c_capped")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n = spark.sql("select count(*) c from d2c_capped").collect()[0].c
    assert n == spark.read.parquet(events_vi_dir).count()


def test_streaming_tail_sampling_matches_batch(spark, tmp_path):
    """Streaming decision-cache tail sampler == batch decision-then-release
    for monotone policies, even with traces split across micro-batches."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.traces import (
        TailPolicy,
        tail_sample_policies,
    )
    from open_telemetry_opentelemetry_collector_contrib_spark.streaming.stateful import (
        TAIL_SPAN_SCHEMA,
        tail_sample_stream,
    )
    from datetime import datetime, timedelta

    rows = []
    base = datetime(2024, 1, 1)
    for t in range(60):
        n = (t % 7) + 1
        for i in range(n):
            rows.append((
                f"tr{t:03d}", f"tr{t:03d}#{i}", f"svc{t % 3}",
                "err" if (t % 11 == 3 and i == n - 1) else "ok",
                5000 + t if t % 13 == 5 else 10 + i,
                base + timedelta(seconds=t, milliseconds=i),
            ))
    # longest span exactly at the threshold: kept (latency.go:53-54, >=)
    for i, dur in enumerate([10, 4000]):
        rows.append((
            "tr060", f"tr060#{i}", "svc0", "ok", dur,
            base + timedelta(seconds=60, milliseconds=i),
        ))
    src = str(tmp_path / "spans_src")
    # 6 files -> spans of one trace may land in different micro-batches
    spark.createDataFrame(rows, TAIL_SPAN_SCHEMA).repartition(6).write.parquet(src)

    batch_kept = {
        (r.trace_id, r.span_id)
        for r in tail_sample_policies(
            spark.read.parquet(src),
            [
                TailPolicy("status_code", status_codes=["err"]),
                TailPolicy("latency", threshold_ms=4000),
                TailPolicy("span_count", min_spans=6),
            ],
        ).collect()
    }

    stream = spark.readStream.schema(TAIL_SPAN_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = tail_sample_stream(
        stream, latency_threshold_ms=4000, min_spans=6
    )
    q = (
        out.writeStream.format("memory")
        .queryName("tail_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.trace_id, r.span_id)
        for r in spark.sql("select * from tail_stream").collect()
    }
    assert got == batch_kept and len(got) > 50
    assert ("tr060", "tr060#1") in got


# ---------------------------------------------------------------------------
# streaming expo-histogram d2c parity
# ---------------------------------------------------------------------------

EXPO_SRC_SCHEMA = T.StructType(
    [
        T.StructField("series", T.StringType()),
        T.StructField("window_id", T.LongType()),
        T.StructField("scale", T.LongType()),
        T.StructField("idx", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def _expo_deltas(spark):
    """The q_expo_cumulative synthetic delta construction (alternating
    per-window scales, negative+positive bucket indices) over sf-unit
    events."""
    ev = spark.read.parquet(f"{SF_UNIT}/events.parquet")
    win = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
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
    )


def test_streaming_expo_matches_batch(spark, tmp_path):
    """The applyInPandasWithState expo merge must equal the batch range-join
    twin row-for-row on a drained availableNow stream (the production path
    operators/metrics.py:62-66 promises)."""
    deltas = _expo_deltas(spark)
    src = os.path.join(str(tmp_path), "expo_deltas")
    # series-partitioned files: every series' windows arrive within one
    # micro-batch, so the per-batch window sort establishes order
    deltas.repartition(4, "series").write.parquet(src)

    stream = (
        spark.readStream.schema(EXPO_SRC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stateful.expo_cumulative_stream(stream, series_cols=["series"])
    q = (
        out.writeStream.format("memory")
        .queryName("expo_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.series, r.window_id, r.scale, r.idx): r.cum_cnt
        for r in spark.sql("select * from expo_stream").collect()
    }
    exp = {
        (r.series, r.window_id, r.scale, r.idx): r.cum_cnt
        for r in m.expo_cumulative(
            spark.read.parquet(src), series_cols=["series"]
        ).collect()
    }
    assert len(got) == len(exp) > 0
    assert got == exp


def test_expo_state_carryover_across_batches(spark):
    """State (scale + buckets) must survive micro-batch boundaries: feed two
    successive batches through the state fn with a FakeState double — the
    second batch's lower scale forces a Collapse of buckets accumulated by
    the first — and pin the emissions to the batch twin over the union."""
    import pandas as pd

    fn = stateful._expo_fn_factory(["series"])
    b1 = pd.DataFrame(
        {
            "series": ["s"] * 3,
            "window_id": [0, 0, 1],
            "scale": [2, 2, 2],
            "idx": [-3, 4, 5],
            "cnt": [7, 1, 2],
        }
    )
    b2 = pd.DataFrame(
        {
            "series": ["s"] * 2,
            "window_id": [2, 2],
            "scale": [0, 0],  # scale drop: state buckets collapse by 2 steps
            "idx": [-1, 1],
            "cnt": [3, 4],
        }
    )
    st = _FakeState()
    out1 = pd.concat(list(fn(("s",), iter([b1]), st)), ignore_index=True)
    out2 = pd.concat(list(fn(("s",), iter([b2]), st)), ignore_index=True)
    got = {
        (r.series, r.window_id, r.scale, r.idx): r.cum_cnt
        for r in pd.concat([out1, out2], ignore_index=True).itertuples()
    }
    union = spark.createDataFrame(pd.concat([b1, b2], ignore_index=True))
    exp = {
        (r.series, r.window_id, r.scale, r.idx): r.cum_cnt
        for r in m.expo_cumulative(union, series_cols=["series"]).collect()
    }
    assert got == exp
    # the collapse really happened: final state scale is the running min
    assert st.get[0] == 0


# ---------------------------------------------------------------------------
# streaming groupbytrace wait_duration release
# ---------------------------------------------------------------------------


def test_streaming_groupbytrace_wait_duration(spark, tmp_path):
    """Reference flow (`groupbytraceprocessor/processor.go:138-190`): a
    trace releases wait_duration after its FIRST span; a trace whose
    release point the watermark has not passed stays buffered. Two
    availableNow drains share one checkpoint (the watermark persists in
    the commit log), modeling continuous operation: the second drain's
    batch fires the matured timeout. The released trace must equal the
    batch group_by_trace row."""
    import datetime as dt

    from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
        traces as trace_ops,
    )

    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)
    late0 = dt.datetime(2024, 6, 1, 10, 10, 0)
    rows = [
        ("early", "e#0", 0, 120, "ok", t0),
        ("early", "e#1", 1, 340, "err", t0 + dt.timedelta(seconds=1)),
        ("early", "e#2", 2, 90, "ok", t0 + dt.timedelta(seconds=2)),
        ("late", "l#0", 0, 55, "ok", late0),
    ]
    schema = (
        "trace_id string, span_id string, turn_idx long, duration_ms long, "
        "status string, ts timestamp"
    )
    src = os.path.join(str(tmp_path), "gbt_spans")
    ckpt = os.path.join(str(tmp_path), "gbt_ckpt")
    # two files with DETERMINISTIC mtime order (file source processes
    # oldest-first): the early trace must enter state before the late
    # file advances the watermark, else its timer is clamped above the
    # final watermark and the release would nondeterministically not
    # mature within the drains
    import time as _time

    early_rows = [r for r in rows if r[0] == "early"]
    late_rows = [r for r in rows if r[0] == "late"]
    spark.createDataFrame(early_rows, schema).coalesce(1).write.parquet(src)
    _time.sleep(1.1)
    spark.createDataFrame(late_rows, schema).coalesce(1).write.mode("append").parquet(src)

    sink = os.path.join(str(tmp_path), "gbt_out")

    def drain():
        stream = (
            spark.readStream.schema(T._parse_datatype_string(schema))
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "0 seconds")
        )
        out = stateful.group_by_trace_stream(stream, wait_duration_ms=60_000)
        q = (
            out.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    # a later flush batch (its own trace buffers too) matures the early
    # trace's timer: the persisted watermark is already 10:10
    flush = [("flush", "f#0", 0, 10, "ok", dt.datetime(2024, 6, 1, 10, 5, 0))]
    spark.createDataFrame(flush, schema).write.mode("append").parquet(src)
    drain()
    got = {r.trace_id: r for r in spark.read.parquet(sink).collect()}

    # 'early' released (10:01 release point < watermark 10:10); 'late'
    # (10:11) and 'flush' (10:06 but timer clamped above the 10:10
    # watermark) still held
    assert set(got) == {"early"}
    batch = {
        r.trace_id: r
        for r in trace_ops.group_by_trace(
            spark.createDataFrame(rows, schema).filter(F.col("trace_id") == "early")
        ).collect()
    }
    g, b = got["early"], batch["early"]
    assert (g.span_count, g.span_ids, g.max_duration_ms, g.error_spans) == (
        b.span_count,
        b.span_ids,
        b.max_duration_ms,
        b.error_spans,
    )
