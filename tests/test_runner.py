"""Golden end-to-end pipeline tests: routed-row equality per sink, aggregate
count parity, lineage metrics, and mid-run resume."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline
from open_telemetry_opentelemetry_collector_contrib_spark.plans.runner import (
    PipelineRunner,
    materialize_transcripts,
)
from tests.conftest import SF_UNIT


@pytest.fixture(scope="module")
def run_out(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipeline_out"))
    src = materialize_transcripts(spark, SF_UNIT, os.path.join(out, "src"), num_files=8)
    runner = PipelineRunner(spark, src, out, num_chunks=4)
    results = runner.run(resume=False)
    return runner, results


def test_all_chunks_committed(run_out):
    runner, results = run_out
    assert len(results) == 4
    assert runner.completed_chunks() == {0, 1, 2, 3}


def test_metrics_accounting(run_out):
    runner, results = run_out
    total_in = sum(r.metrics["rows_in"] for r in results)
    assert total_in == 1000  # sf0.001 events rows
    for r in results:
        assert r.metrics["rows_in"] == r.metrics["rows_parsed"] + r.metrics["rows_malformed"]
        assert r.metrics["rows_in"] == sum(
            r.metrics[f"route_{s}"] for s in pipeline.SINKS
        )


def test_chunk_metrics_count_every_row_on_every_run(spark, tmp_path):
    """The lineage metrics come from an Observation on the fan-out's cached
    frame, whose writes run concurrently: every run of the same chunk must
    still count every row once and route each of them to one sink."""
    src = str(tmp_path / "src")
    materialize_transcripts(spark, SF_UNIT, src, num_files=1)
    runner = PipelineRunner(spark, src, str(tmp_path / "out"), num_chunks=1)
    for _ in range(5):
        (res,) = runner.run(resume=False)
        assert res.metrics["rows_in"] == 1000
        assert res.metrics["rows_in"] == sum(res.metrics[f"route_{s}"] for s in pipeline.SINKS)


def test_routed_row_equality_per_sink(run_out, spark):
    """Per-sink rows byte-equal to the flagship (unchunked) route stage,
    under the canonical (conv_id, turn_idx) ordering."""
    runner, _ = run_out
    expected = pipeline.routed(spark, SF_UNIT)
    for sink in pipeline.SINKS:
        exp = sorted(
            (r.conv_id, r.turn_idx, r.text)
            for r in expected.filter(F.col("route") == sink)
            .select("conv_id", "turn_idx", "text")
            .collect()
        )
        got = sorted(
            (r.conv_id, r.turn_idx, r.text)
            for r in runner.read_sink(sink).select("conv_id", "turn_idx", "text").collect()
        )
        assert got == exp, f"sink {sink}: routed rows differ"


def test_sink_files_are_ordered_within_partitions(run_out):
    """The written parquet preserves (conv_id, turn_idx) order within each
    file — the stable-ordering contract for byte-equal text comparison."""
    import pyarrow.parquet as pq

    runner, _ = run_out
    sink_dir = os.path.join(runner.out_dir, "sinks", "route=human")
    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(sink_dir)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert files
    for f in files:
        t = pq.read_table(f, columns=["conv_id", "turn_idx"]).to_pandas()
        key = list(zip(t.conv_id, t.turn_idx))
        assert key == sorted(key), f"unordered rows in {f}"


# the Spark schema every sink file records, pinned before the enrich dims
# moved from createDataFrame to tables.local_frame: the dim columns keep
# their types and nullability. pipeline_tag is the flagship enrich's insert,
# which runner and stream sinks carry since they share its stages.
SINK_SCHEMA = [
    ("tool", "string", True),
    ("role", "string", True),
    ("conv_id", "string", True),
    ("turn_idx", "integer", True),
    ("text", "string", True),
    ("ts", "timestamp_ntz", True),
    ("level", "string", True),
    ("action", "string", True),
    ("latency_ms", "long", True),
    ("status", "string", True),
    ("msg", "string", True),
    ("prop_k", "long", True),
    ("parse_ok", "boolean", False),
    ("role_kind", "string", True),
    ("is_human", "boolean", True),
    ("priority", "long", True),
    ("tool_category", "string", False),
    ("tool_owner", "string", False),
    ("pipeline_tag", "string", False),
]


def test_sink_parquet_schema_pinned(run_out):
    import pyarrow.parquet as pq

    runner, _ = run_out
    for sink in pipeline.SINKS:
        sink_dir = os.path.join(runner.out_dir, "sinks", f"route={sink}", "chunk=00000")
        part = next(f for f in sorted(os.listdir(sink_dir)) if f.endswith(".parquet"))
        meta = pq.read_schema(os.path.join(sink_dir, part)).metadata
        spark_schema = json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
        got = [(f["name"], f["type"], f["nullable"]) for f in spark_schema["fields"]]
        assert got == SINK_SCHEMA, sink


def test_merged_counts_equal_unchunked(run_out, spark):
    """Sum of per-chunk delta counts == the single-pass (unchunked) counts:
    delta temporality rolls up losslessly across chunk boundaries because
    transcripts were laid out conv-complete."""
    runner, _ = run_out
    got = {
        (r.window_id, r.route, r.conv_id, r.role, r.tool): r.n
        for r in runner.merged_counts().collect()
    }
    exp = {
        (r.window_id, r.route, r.conv_id, r.role, r.tool): r.n
        for r in pipeline.sink_counts(spark, SF_UNIT).collect()
    }
    assert got == exp


def test_aggregate_count_parity(run_out, spark):
    runner, _ = run_out
    got = {
        (r.window_id, r.route, r.conv_id, r.role, r.tool): r.n
        for r in runner.read_counts().collect()
    }
    exp = {
        (r.window_id, r.route, r.conv_id, r.role, r.tool): r.n
        for r in pipeline.sink_counts(spark, SF_UNIT).collect()
    }
    assert got == exp


def test_chunk_counts_skip_rows_missing_a_key(spark, tmp_path):
    """The runner's counts are the flagship aggregate: a row with a null
    ``tool`` is skipped (countconnector's required-key rule,
    `counter.go:70-73`), not counted under a null key."""
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts

    t = transcripts(spark, SF_UNIT)
    first = t.agg(F.min("conv_id")).first()[0]
    src = str(tmp_path / "src")
    t.withColumn(
        "tool",
        F.when(
            (F.col("conv_id") == first) & (F.col("turn_idx") == 0),
            F.lit(None).cast("string"),
        ).otherwise(F.col("tool")),
    ).coalesce(1).write.parquet(src)
    source = spark.read.parquet(src)
    assert source.filter(F.col("tool").isNull()).count() == 1
    runner = PipelineRunner(spark, src, str(tmp_path / "out"), num_chunks=1)
    runner.run(resume=False)

    def counts(df):
        return {
            (r.window_id, r.route, r.conv_id, r.role, r.tool): r.n
            for r in df.collect()
        }

    got = counts(runner.read_counts())
    assert got == counts(pipeline.count_routes(pipeline.route_transcripts(source)))
    assert all(k[4] is not None for k in got)


def test_resume_skips_completed_and_reruns_failed(run_out, spark):
    runner, _ = run_out
    # simulate a crash after chunk 2's data write but before its lineage
    # commit: delete the lineage record and corrupt the chunk's sink output
    os.remove(runner._lineage_path(2))
    results = runner.run(resume=True)
    assert [r.chunk_id for r in results] == [2]
    assert runner.completed_chunks() == {0, 1, 2, 3}
    # full outputs still match the golden expectation after the re-run
    expected = pipeline.routed(spark, SF_UNIT).count()
    got = sum(runner.read_sink(s).count() for s in pipeline.SINKS)
    assert got == expected


def test_lineage_records_are_json_with_files(run_out):
    runner, _ = run_out
    recs = [
        json.load(open(os.path.join(runner.lineage_dir, f)))
        for f in sorted(os.listdir(runner.lineage_dir))
    ]
    assert all(r["status"] == "committed" for r in recs)
    all_files = [f for r in recs for f in r["files"]]
    assert len(all_files) == len(set(all_files))  # disjoint chunk lineage


def test_write_table_iceberg_writer_chain():
    """The Iceberg branch of write_table must build the v2 writer chain
    (writeTo -> partitionedBy -> createOrReplace/append) — exercised via a
    recording stub since the sandbox ships no Iceberg runtime."""
    from unittest.mock import MagicMock

    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    df = MagicMock()
    sinks.write_table(df, "cat.db.t", mode="overwrite", group_by=["route"], fmt="iceberg")
    df.writeTo.assert_called_once_with("cat.db.t")
    writer = df.writeTo.return_value
    writer.partitionedBy.assert_called_once()
    writer.partitionedBy.return_value.createOrReplace.assert_called_once()

    df2 = MagicMock()
    sinks.write_table(df2, "cat.db.t2", mode="append", fmt="iceberg")
    df2.writeTo.return_value.append.assert_called_once()
    df2.writeTo.return_value.partitionedBy.assert_not_called()


def test_write_table_iceberg_overwrite_partitions_idempotent():
    """mode='overwrite_partitions': existing table (catalog.tableExists) ->
    overwritePartitions() (dynamic-overwrite snapshot, idempotent chunk
    re-run); missing table -> create() partitioned by the chunk key. Never
    append (would duplicate a crashed chunk's rows on resume). The
    create/overwrite choice asks the catalog — it must NOT be inferred from
    exception text, so unrelated failures propagate."""
    from unittest.mock import MagicMock

    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    df = MagicMock()
    df.sparkSession.catalog.tableExists.return_value = True
    sinks.write_table(
        df, "cat.db.t", mode="overwrite_partitions", group_by=["chunk_id"], fmt="iceberg"
    )
    df.sparkSession.catalog.tableExists.assert_called_once_with("cat.db.t")
    df.writeTo.return_value.overwritePartitions.assert_called_once()
    df.writeTo.return_value.append.assert_not_called()

    # first-write path: catalog says the table is missing -> create()
    df2 = MagicMock()
    df2.sparkSession.catalog.tableExists.return_value = False
    sinks.write_table(
        df2, "cat.db.t", mode="overwrite_partitions", group_by=["chunk_id"], fmt="iceberg"
    )
    created = df2.writeTo.return_value
    created.partitionedBy.assert_called_once()
    created.partitionedBy.return_value.create.assert_called_once()
    created.overwritePartitions.assert_not_called()

    # write failures on an EXISTING table must propagate, never be
    # misclassified as "table missing" and rerouted to create()
    df3 = MagicMock()
    df3.sparkSession.catalog.tableExists.return_value = True
    df3.writeTo.return_value.overwritePartitions.side_effect = Exception(
        "FileNotFoundException: metadata/v3.json not found"
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="not found"):
        sinks.write_table(df3, "cat.db.t", mode="overwrite_partitions", fmt="iceberg")
    df3.writeTo.return_value.create.assert_not_called()


def test_write_table_iceberg_overwrite_partitions_compression():
    """The fileexporter compression analog must reach BOTH
    overwrite_partitions branches (tableProperty on overwrite and create),
    not just append/overwrite."""
    from unittest.mock import MagicMock

    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    df = MagicMock()
    df.sparkSession.catalog.tableExists.return_value = True
    sinks.write_table(
        df, "cat.db.t", mode="overwrite_partitions", fmt="iceberg",
        compression="zstd",
    )
    df.writeTo.return_value.tableProperty.assert_called_once_with(
        "write.parquet.compression-codec", "zstd"
    )
    df.writeTo.return_value.tableProperty.return_value.overwritePartitions.assert_called_once()

    df2 = MagicMock()
    df2.sparkSession.catalog.tableExists.return_value = False
    sinks.write_table(
        df2, "cat.db.t", mode="overwrite_partitions", group_by=["chunk_id"],
        fmt="iceberg", compression="zstd",
    )
    w2 = df2.writeTo.return_value
    w2.tableProperty.assert_called_once_with(
        "write.parquet.compression-codec", "zstd"
    )
    w2.tableProperty.return_value.partitionedBy.return_value.create.assert_called_once()


def test_runner_iceberg_crash_resume_idempotent(spark, tmp_path, monkeypatch):
    """Crash AFTER some Iceberg sink writes but BEFORE the lineage commit:
    --resume re-runs the whole chunk, and because every write is an
    overwrite_partitions on chunk_id, the re-run REPLACES the partial
    chunk's partitions instead of appending duplicates."""
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import (
        pipeline as flagship,
        runner as runner_mod,
    )
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts
    from tests.conftest import SF_UNIT

    src = str(tmp_path / "src")
    transcripts(spark, SF_UNIT).limit(1000).write.parquet(src)

    calls = []
    # crash on one named sink of the first attempt (the writes run
    # concurrently, so there is no n-th write to crash on)
    fail_on = {"target": "cat.db.route_human"}

    def fake_write_table(df, target, mode="overwrite", group_by=None, fmt="auto"):
        if target == fail_on["target"]:
            raise RuntimeError("simulated crash mid-chunk")
        df.count()  # a real write executes the plan (feeds the Observation)
        calls.append({"target": target, "mode": mode})

    monkeypatch.setattr(runner_mod.sinks_io, "write_table", fake_write_table)
    r = runner_mod.PipelineRunner(
        spark, src, str(tmp_path / "out"), num_chunks=1,
        fmt="iceberg", table_prefix="cat.db",
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="simulated crash"):
        r.run(resume=False)
    assert r.completed_chunks() == set()  # lineage never committed
    partial = len(calls)
    assert 0 < partial < len(flagship.SINKS) + 1

    fail_on["target"] = None  # recovery run
    results = r.run(resume=True)
    assert len(results) == 1 and r.completed_chunks() == {0}
    # every write (partial-attempt AND re-run) is an idempotent partition
    # overwrite — an append here would mean duplicated rows after resume
    assert all(c["mode"] == "overwrite_partitions" for c in calls)
    # the re-run covered every sink + counts exactly once
    rerun = calls[partial:]
    assert len(rerun) == len(flagship.SINKS) + 1


def test_failed_sink_write_drops_the_cache(spark, tmp_path, monkeypatch):
    """A sink write that raises still unpersists the routed frame the fan-out
    cached: nothing is left in the session's cache manager."""
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import runner as runner_mod

    src = str(tmp_path / "src")
    transcripts(spark, SF_UNIT).limit(1000).write.parquet(src)

    def failing_write_table(df, target, mode="overwrite", group_by=None, fmt="auto"):
        df.count()  # the write ran far enough to fill the cache
        raise RuntimeError("simulated sink failure")

    monkeypatch.setattr(runner_mod.sinks_io, "write_table", failing_write_table)
    r = runner_mod.PipelineRunner(
        spark, src, str(tmp_path / "out"), num_chunks=1,
        fmt="iceberg", table_prefix="cat.db",
    )
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="simulated sink failure"):
        r.run(resume=False)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_write_table_compression(spark, tmp_path):
    """fileexporter `compression` analog (config.go:45-55): codec reaches
    the parquet files on the file path."""
    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    df = spark.range(100).withColumnRenamed("id", "v")
    dst = str(tmp_path / "zstd_out")
    sinks.write_table(df, dst, compression="zstd")
    import os as _os

    files = [f for f in _os.listdir(dst) if f.endswith(".parquet")]
    assert files and all(".zstd." in f for f in files)
    assert spark.read.parquet(dst).count() == 100


def test_runner_iceberg_format_path(spark, tmp_path, monkeypatch):
    """format='iceberg' config: every sink + counts write flows through
    write_table with per-sink table targets and append (snapshot-per-chunk)
    mode, and the lineage/resume protocol still commits."""
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import runner as runner_mod
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline as flagship
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts
    from tests.conftest import SF_UNIT

    src = str(tmp_path / "src")
    transcripts(spark, SF_UNIT).limit(2000).write.parquet(src)

    calls = []

    def fake_write_table(df, target, mode="overwrite", group_by=None, fmt="auto"):
        calls.append({"target": target, "mode": mode, "fmt": fmt, "rows": df.count()})

    monkeypatch.setattr(runner_mod.sinks_io, "write_table", fake_write_table)
    r = runner_mod.PipelineRunner(
        spark, src, str(tmp_path / "out"), num_chunks=1,
        fmt="iceberg", table_prefix="cat.db",
    )
    results = r.run(resume=False)
    assert len(results) == 1 and r.completed_chunks() == {0}
    targets = {c["target"] for c in calls}
    assert targets == {f"cat.db.route_{s}" for s in flagship.SINKS} | {"cat.db.counts"}
    assert all(
        c["mode"] == "overwrite_partitions" and c["fmt"] == "iceberg" for c in calls
    )
    # routed-row conservation: per-sink appended rows sum to the chunk input
    sink_rows = sum(c["rows"] for c in calls if c["target"] != "cat.db.counts")
    assert sink_rows == results[0].metrics["rows_in"]
