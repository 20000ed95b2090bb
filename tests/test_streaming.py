"""Structured Streaming parity tests: the streaming pipeline over a file
source must reproduce the batch pipeline's routed counts."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline
from open_telemetry_opentelemetry_collector_contrib_spark.plans.runner import (
    materialize_transcripts,
)
from open_telemetry_opentelemetry_collector_contrib_spark.streaming import stream as st
from tests.conftest import SF_UNIT
from tests.test_runner import SINK_SCHEMA


@pytest.fixture(scope="module")
def transcripts_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream_src"))
    return materialize_transcripts(spark, SF_UNIT, out, num_files=6)


def test_streaming_counts_match_batch(spark, transcripts_dir):
    routed = pipeline.route_transcripts(st.stream_source(spark, transcripts_dir))
    counts = st.windowed_sink_counts(routed)
    q = (
        counts.writeStream.format("memory")
        .queryName("stream_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start_s // 86400, r.route, r.conv_id, r.role, r.tool): r.n
        for r in spark.sql("select * from stream_counts").collect()
    }
    exp = {
        (r.window_id, r.route, r.conv_id, r.role, r.tool): r.n
        for r in pipeline.sink_counts(spark, SF_UNIT).collect()
    }
    assert got == exp


def test_streaming_checkpoint_no_reprocessing(spark, transcripts_dir, tmp_path):
    out = str(tmp_path / "counts_out")
    ckpt = str(tmp_path / "ckpt")
    st.run_available_now(spark, transcripts_dir, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # restart with the same checkpoint and no new files: nothing reprocessed
    st.run_available_now(spark, transcripts_dir, out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n2 == n1


def test_streaming_route_fan_out(spark, transcripts_dir, tmp_path):
    out = str(tmp_path / "fanout")
    ckpt = str(tmp_path / "fanout_ckpt")
    st.route_fan_out_stream(spark, transcripts_dir, out, ckpt)
    total = 0
    for sink in pipeline.SINKS:
        got = spark.read.parquet(f"{out}/route={sink}")
        exp = pipeline.routed(spark, SF_UNIT).filter(F.col("route") == sink)
        assert got.count() == exp.count(), sink
        total += got.count()
    assert total == 1000
    # the same columns as the runner's sink files, in the same
    # (conv_id, turn_idx) order within each file. The one difference is the
    # event time: the stream source declares ts as timestamp (with local
    # time zone), because watermarks do not accept timestamp_ntz.
    expected = [("ts", "timestamp", True) if c[0] == "ts" else c for c in SINK_SCHEMA]
    files = [
        os.path.join(dp, f) for dp, _, fs in os.walk(out) for f in fs if f.endswith(".parquet")
    ]
    assert files
    for f in files:
        meta = pq.read_schema(f).metadata
        spark_schema = json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
        got = [(c["name"], c["type"], c["nullable"]) for c in spark_schema["fields"]]
        assert got == expected, f
        t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pandas()
        key = list(zip(t.conv_id, t.turn_idx))
        assert key == sorted(key), f"unordered rows in {f}"


def test_streaming_dedup_bounded_output(spark, transcripts_dir):
    routed = pipeline.route_transcripts(st.stream_source(spark, transcripts_dir))
    deduped = st.streaming_dedup(routed)
    q = (
        deduped.writeStream.format("memory")
        .queryName("stream_dedup")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "select role, tool, action, status, level, count(*) c "
        "from stream_dedup group by all having count(*) > 1"
    ).collect()
    assert rows == []  # every surviving key combination is unique


def test_streaming_round2_stateless_operators_parity(spark, tmp_path):
    """Round-2 stateless operators lift onto readStream unchanged:
    OTLP-JSON explode, OTEP-235 sampler, RFC5424 parse produce identical
    results in streaming and batch over the same files."""
    from pyspark.sql import types as T

    from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
        parse as parse_ops,
        sample as sample_ops,
    )
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.otlpjson import (
        explode_otlp_logs,
    )

    src = str(tmp_path / "otlp_src")
    body_tpl = (
        '{{"resourceLogs":[{{"resource":{{}},"scopeLogs":[{{"scope":{{"name":"s"}},'
        '"logRecords":[{{"severityNumber":{sev},"body":{{"stringValue":"m{i}"}}}}]}}]}}]}}'
    )
    import hashlib

    rows = [
        (i, hashlib.md5(str(i).encode()).hexdigest(),  # spread randomness bits
         body_tpl.format(sev=(i % 24) + 1, i=i),
         f"<{i % 192}>1 2024-01-01T00:00:{i % 60:02d}Z h a {i} ID{i % 9} - msg{i}")
        for i in range(512)
    ]
    schema = T.StructType([
        T.StructField("rid", T.LongType()),
        T.StructField("trace_id", T.StringType()),
        T.StructField("body", T.StringType()),
        T.StructField("syslog_line", T.StringType()),
    ])
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(src)

    def program(df):
        df = sample_ops.otep235_sample(df, 50.0, "equalizing", trace_id_col="trace_id")
        df = parse_ops.parse_syslog_rfc5424(df, "syslog_line")
        out = explode_otlp_logs(df, keep_cols=["rid", "syslog_pid", "syslog_severity"])
        return out.select("rid", "syslog_pid", "syslog_severity", "severity_number", "body")

    batch = {tuple(r) for r in program(spark.read.parquet(src)).collect()}

    q = (
        program(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("r2_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from r2_stream").collect()}
    assert got == batch and len(got) > 100


def test_streaming_span_context_transform_parity(spark, tmp_path):
    """The first-class span/datapoint contexts are stateless Catalyst
    projections, so transformprocessor statement groups lift onto
    readStream unchanged (SURVEY §2.12 parity for the round-3 contexts)."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from open_telemetry_opentelemetry_collector_contrib_spark.operators.transform import (
        StatementGroup,
        transform,
    )

    src = str(tmp_path / "span_src")
    rows = [
        (f"t{i % 7}", f"t{i % 7}#{i}", None if i % 3 == 0 else f"t{i % 7}#0",
         f"op{i % 4}", (i % 5) + 1, ["ok", "err", None][i % 3],
         (i * 13) % 900, datetime(2024, 3, 1, 12, 0, i % 60))
        for i in range(256)
    ]
    schema = T.StructType([
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
        T.StructField("parent_span_id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("kind", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ])
    spark.createDataFrame(rows, schema).repartition(4).write.parquet(src)

    def program(df):
        out = transform(
            df,
            [
                StatementGroup(
                    context="span",
                    statements=[
                        'set(attributes["root"], span_id) where IsRootSpan()',
                        'set(attributes["k"], kind.string)',
                        'set(attributes["kd"], kind.deprecated_string)',
                        'set(attributes["code"], status.code)',
                    ],
                )
            ],
        )
        # no attributes map on the frame -> attributes["x"] are flat columns
        return out.select(
            "span_id",
            F.col("root"),
            F.col("k"),
            F.col("kd"),
            F.col("code"),
        )

    batch = {tuple(r) for r in program(spark.read.parquet(src)).collect()}
    q = (
        program(spark.readStream.schema(schema).parquet(src))
        .writeStream.format("memory")
        .queryName("span_ctx_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from span_ctx_stream").collect()}
    assert got == batch and len(got) == 256
    ks = {r[2] for r in got}
    assert ks == {"Internal", "Server", "Client", "Producer", "Consumer"}


def test_streaming_session_window_matches_batch_split(spark, tmp_path):
    """The native Structured Streaming session window (the 100 TB unbounded
    path for inactivity-gap sessionization) produces the same sessions as
    the batch session_split twin: same (conv, n_turns, start_s) tuples for
    a 1-hour gap over bursty synthetic conversations."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from open_telemetry_opentelemetry_collector_contrib_spark.operators.recombine import (
        session_split,
    )

    base = datetime(2024, 4, 1, 0, 0, 0)
    rows = []
    for c in range(6):
        t = base + timedelta(minutes=7 * c)
        for i in range(20):
            # bursts of 4-6 turns minutes apart, then a multi-hour gap
            step = timedelta(minutes=3) if i % 5 else timedelta(hours=2 + c % 3)
            t = t + step
            rows.append((f"c{c}", i, t))
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(src)

    batch = {
        (r.conv_id, r.n_turns, r.start_s)
        for r in session_split(
            spark.read.parquet(src), gap_s=3600
        ).collect()
    }

    q = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "30 days")
        .groupBy(F.session_window("ts", "1 hour"), F.col("conv_id"))
        .agg(F.count("*").alias("n_turns"))
        .select(
            "conv_id",
            F.col("n_turns").cast("bigint").alias("n_turns"),
            F.unix_timestamp(F.col("session_window.start")).alias("start_s"),
        )
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.sql("select * from sess_stream").collect()}
    assert got == batch and len(got) > 20


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Late-data contract of the watermarked windowed counts (SURVEY
    §2.12): in APPEND mode, a window only emits once the watermark passes
    its end, and rows arriving in a later micro-batch with event times
    older than the advanced watermark are dropped — the state bound that
    makes unbounded windowed aggregation feasible. Two Spark subtleties
    this test pins: the watermark lags one micro-batch (computed from the
    PREVIOUS batch's max event time), and it is a LOWER-BOUND contract —
    a late row is only guaranteed dropped once the window's state has been
    evicted, which happens in the batch where the (lagged) watermark first
    exceeds the window end. Hence four batches: on-time data, two
    advancing batches (the second evicts + emits day-1), then the
    straggler — which must be dropped, leaving day-1 at exactly the 5
    on-time rows."""
    from datetime import datetime

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = tmp_path / "late_src"
    src.mkdir()
    day1 = [("a", datetime(2024, 6, 1, 10, 0, 0)) for _ in range(5)]
    spark.createDataFrame(day1, schema).coalesce(1).write.parquet(str(src / "b1"))
    # batches 2-3: event time advances -> batch 3 runs with watermark past
    # day-1's window end, evicting and emitting it
    day11 = [("a", datetime(2024, 6, 11, 10, 0, 0)) for _ in range(3)]
    spark.createDataFrame(day11, schema).coalesce(1).write.parquet(str(src / "b2"))
    day12 = [("a", datetime(2024, 6, 12, 10, 0, 0)) for _ in range(2)]
    spark.createDataFrame(day12, schema).coalesce(1).write.parquet(str(src / "b3"))
    # batch 4: a day-1 straggler against evicted state -> dropped
    late = [("a", datetime(2024, 6, 1, 11, 0, 0))]
    spark.createDataFrame(late, schema).coalesce(1).write.parquet(str(src / "b4"))

    counts = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("ws"), "k", "n")
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.ws: r.n for r in spark.sql("select * from late_counts").collect()}
    day1_ws = int(datetime(2024, 6, 1).timestamp())
    day11_ws = int(datetime(2024, 6, 11).timestamp())
    # straggler dropped: day-1 window closed with exactly the 5 on-time rows
    assert got.get(day1_ws) == 5
    assert got.get(day11_ws) == 3


def test_streaming_logdedup_matches_batch(spark, transcripts_dir):
    """The full logdedup aggregate (representative + log_count +
    first/last observed) drained through the watermarked tumbling-window
    path must equal the batch twin row-for-row."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
        dedup as dedup_ops,
    )

    routed = pipeline.route_transcripts(st.stream_source(spark, transcripts_dir))
    cols = ["conv_id", "turn_idx", "role", "tool", "level", "status", "ts"]
    out = st.logdedup_stream(
        routed.select(*cols),
        interval_s=86400,
        exclude_fields=["conv_id", "turn_idx"],
        order_col="turn_idx",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("logdedup_stream_full")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def keyset(rows):
        return {
            (r.window_id, r.role, r.tool, r.level, r.status): (
                r.log_count,
                r.first_observed_s,
                r.last_observed_s,
                r.conv_id,
                r.turn_idx,
            )
            for r in rows
        }

    got = keyset(spark.sql("select * from logdedup_stream_full").collect())
    batch_routed = __import__(
        "open_telemetry_opentelemetry_collector_contrib_spark.plans.pipeline",
        fromlist=["routed"],
    ).routed(spark, SF_UNIT)
    exp_df = dedup_ops.logdedup(
        batch_routed.select(*cols),
        interval_s=86400,
        exclude_fields=["conv_id", "turn_idx"],
        order_col="turn_idx",
    )
    exp = keyset(exp_df.collect())
    assert len(got) == len(exp) > 0
    assert got == exp


def test_streaming_span_metrics_matches_batch(spark, transcripts_dir):
    """spanmetrics drained through the watermarked streaming window must
    equal the batch operators/metrics.py span_metrics aggregate."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
        metrics as metric_ops,
    )

    routed = pipeline.route_transcripts(st.stream_source(spark, transcripts_dir))
    spans = routed.filter(F.col("latency_ms").isNotNull()).select(
        "route", "role", "latency_ms", "ts"
    )
    out = st.span_metrics_stream(
        spans, dims=["route", "role"], duration_col="latency_ms",
        window="1 day", watermark="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("span_metrics_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    def keyset(rows):
        return {
            (r.window_start_s, r.route, r.role): (
                r.calls, r.duration_sum, r.duration_min, r.duration_max,
                tuple(r.bucket_counts),
            )
            for r in rows
        }

    got = keyset(spark.sql("select * from span_metrics_stream").collect())
    batch_routed = __import__(
        "open_telemetry_opentelemetry_collector_contrib_spark.plans.pipeline",
        fromlist=["routed"],
    ).routed(spark, SF_UNIT)
    exp_rows = metric_ops.span_metrics(
        batch_routed.filter(F.col("latency_ms").isNotNull()),
        dims=["route", "role"],
        duration_col="latency_ms",
        window_s=86400,
    ).collect()
    exp = {
        (r.window_id * 86400, r.route, r.role): (
            r.calls, r.duration_sum, r.duration_min, r.duration_max,
            tuple(r.bucket_counts),
        )
        for r in exp_rows
    }
    assert got == exp and len(got) > 0
