"""Structured Streaming parity for the transcript pipeline.

The reference is a streaming system (receivers push batches through the
processor chain). Our batch stage functions are stateless DF -> DF programs,
so they lift unchanged onto ``readStream``: a stream runs the identical code
path, ``pipeline.route_transcripts``, and fans out through the same
``sinks.write_sinks`` as the batch runner:

    readStream(parquet dir) -> parse -> enrich(broadcast dims) -> route
        -> watermarked windowed counts -> sink (foreachBatch / parquet)

Mapping of the reference's streaming-only concepts (SURVEY.md §2.12):
- batch-unit aggregation  -> event-time tumbling window + watermark
- interval flush timers   -> trigger(processingTime=...) / availableNow
- staleness eviction      -> watermark-driven state GC
- offset checkpointing    -> Structured Streaming checkpointLocation
- logdedup interval       -> dropDuplicatesWithinWatermark on the dedup key
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans import pipeline as flagship
from ..sources.sinks import write_sinks

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_source(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over a transcripts parquet directory (the filelog
    receiver analog: new files are discovered per trigger and offsets live in
    the streaming checkpoint — `receiver/filelogreceiver/filelog.go:17-60`)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def windowed_sink_counts(
    routed: DataFrame, window: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """countconnector under streaming: watermarked tumbling-window counts
    keyed (route, conv_id, role, tool); late rows beyond the watermark are
    dropped (the reference has no event-time lateness concept — arrival
    order wins there; here the watermark bounds state)."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("w"),
            "route",
            "conv_id",
            "role",
            "tool",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            "route",
            "conv_id",
            "role",
            "tool",
            "n",
        )
    )


def streaming_dedup(routed: DataFrame, watermark: str = "1 day") -> DataFrame:
    """logdedup under streaming: exact-duplicate suppression within the
    watermark horizon (state GC'd automatically)."""
    return routed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["role", "tool", "action", "status", "level"]
    )


def logdedup_stream(
    df: DataFrame,
    interval_s: int,
    exclude_fields: list[str] | None = None,
    ts_col: str = "ts",
    count_col: str = "log_count",
    watermark: str = "1 hour",
    order_col: str | None = None,
) -> DataFrame:
    """The FULL logdedupprocessor under streaming — representative record +
    ``log_count`` + first/last observed per (interval window, dedup key),
    emitted when the watermark closes the window: Spark's event-time analog
    of the reference's flush-interval timer
    (`logdedupprocessor/processor.go:85-157` — it buffers per key and
    flushes one aggregated record per interval tick; the watermark is the
    tick, state GC is free). Same ``dedup_key`` and aggregates as the
    batch twin (operators/dedup.py logdedup), so a drained stream matches
    the batch output row-for-row — pinned in tests/test_streaming.py."""
    from ..operators.dedup import dedup_key

    exclude = list(exclude_fields or []) + [ts_col]
    if order_col:
        exclude.append(order_col)
    key = dedup_key(df, exclude)
    data_cols = list(df.columns)
    order = F.struct(F.col(ts_col), *([F.col(order_col)] if order_col else []))
    return (
        df.withWatermark(ts_col, watermark)
        .withColumn("__dedup_key", key)
        .groupBy(
            F.window(ts_col, f"{interval_s} seconds").alias("__w"),
            F.col("__dedup_key"),
        )
        .agg(
            F.min_by(F.struct(*data_cols), order).alias("__rep"),
            F.count(F.lit(1)).alias(count_col),
            F.min(F.unix_timestamp(F.col(ts_col))).alias("first_observed_s"),
            F.max(F.unix_timestamp(F.col(ts_col))).alias("last_observed_s"),
        )
        .select(
            (F.unix_timestamp(F.col("__w.start")) / interval_s)
            .cast("long")
            .alias("window_id"),
            "__rep.*",
            count_col,
            "first_observed_s",
            "last_observed_s",
        )
    )


def route_fan_out_stream(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
) -> None:
    """Streaming routing-connector fan-out: every micro-batch is routed once
    and written per sink (the full exporter fan-out under streaming).

    foreachBatch is the streaming analog of a runner chunk: one routed
    frame per batch, fanned out by ``sinks.write_sinks`` (concurrent
    per-sink filtered writes off one cache), batch id recorded for
    idempotent replay.
    """
    import os

    routed_stream = flagship.route_transcripts(stream_source(spark, src_dir))

    def write_batch(batch_df, batch_id: int) -> None:
        def write(df: DataFrame, sink: str) -> None:
            dst = os.path.join(out_dir, f"route={sink}", f"batch={batch_id:05d}")
            df.write.mode("overwrite").parquet(dst)

        write_sinks(batch_df, flagship.SINKS, write)

    q = (
        routed_stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_available_now(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    window: str = "1 day",
) -> None:
    """Drain everything currently in src_dir through the full pipeline into
    parquet, then stop (the batch-parity execution mode; restart with the
    same checkpoint to process only new files)."""
    routed = flagship.route_transcripts(stream_source(spark, src_dir))
    counts = windowed_sink_counts(routed, window=window)
    q = (
        counts.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def span_metrics_stream(
    spans: DataFrame,
    dims: list[str],
    duration_col: str,
    window: str = "1 hour",
    watermark: str = "1 hour",
    ts_col: str = "ts",
    buckets: list[float] | None = None,
) -> DataFrame:
    """spanmetrics under streaming: the RED-metrics aggregate (calls,
    duration sum/min/max, explicit-bucket histogram) as a watermarked
    tumbling-window aggregation — the continuous form of
    operators/metrics.py span_metrics, with the same scalar-bucket-index +
    conditional-sum formulation so the histogram partials fold map-side
    inside the streaming state store. The reference connector
    (`connector/spanmetricsconnector/connector.go:170-220`) flushes on a
    wall-clock ticker; here window close is event-time (watermark), the
    same trade documented for windowed_sink_counts. Output matches the
    batch twin row-for-row on a drained stream (parity-pinned)."""
    from ..operators.metrics import DEFAULT_BUCKETS_MS, explicit_bucket_index

    bounds = buckets or DEFAULT_BUCKETS_MS
    n = len(bounds) + 1
    idx = explicit_bucket_index(F.col(duration_col).cast("double"), bounds)
    return (
        spans.withWatermark(ts_col, watermark)
        .withColumn("__bucket_idx", idx)
        .groupBy(F.window(ts_col, window).alias("w"), *dims)
        .agg(
            F.count(F.lit(1)).alias("calls"),
            F.sum(F.col(duration_col).cast("double")).alias("duration_sum"),
            F.min(F.col(duration_col).cast("double")).alias("duration_min"),
            F.max(F.col(duration_col).cast("double")).alias("duration_max"),
            F.array(
                *[
                    F.sum(
                        F.when(F.col("__bucket_idx") == i, F.lit(1)).otherwise(
                            F.lit(0)
                        )
                    ).alias(f"b{i}")
                    for i in range(n)
                ]
            ).alias("bucket_counts"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_s"),
            *dims,
            "calls",
            "duration_sum",
            "duration_min",
            "duration_max",
            "bucket_counts",
        )
    )
