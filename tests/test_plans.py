"""Physical-plan regression tests: the plan shapes that make this engine
viable at 100 TB must not silently regress."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline
from tests.conftest import SF_CORRECT, SF_UNIT


def explain(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_flagship_counts_plan_shape(spark):
    plan = explain(pipeline.sink_counts(spark, SF_UNIT))
    tree = plan.split("\n\n")[0]  # the operator tree (details repeat names)
    # single scan of the fact table
    assert tree.count("Scan parquet") == 1
    # enrichment joins broadcast; never a sort-merge join
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in tree
    # exactly one shuffle: the partial->final hash aggregate
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1
    assert tree.count("HashAggregate") == 2


def test_counts_over_the_fan_out_cache_do_not_shuffle(spark):
    """The runner's counts aggregate the cache ``write_sinks`` builds,
    already hash-partitioned by conv_id (a grouping key): partial and final
    aggregate, and no Exchange above the cache scan."""
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts
    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    trees = []
    sinks.write_sinks(
        pipeline.route_transcripts(transcripts(spark, SF_UNIT)),
        [],
        lambda rows, sink: None,
        lambda ordered: trees.append(
            explain(pipeline.count_routes(ordered)).split("\n\n")[0]
        ),
    )
    (tree,) = trees
    above_cache = tree.split("InMemoryTableScan")[0]
    assert "InMemoryTableScan" in tree
    assert tree.count("HashAggregate") == 2
    assert "Exchange" not in above_cache


def test_enrich_dims_plan_as_local_relations(spark):
    """Both enrich dimensions are rows in the plan (LocalTableScan), never a
    pickled Python RDD (Scan ExistingRDD), and both joins still broadcast —
    in the counts and in the routed rows the runner and stream write."""
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts

    for df in (
        pipeline.sink_counts(spark, SF_UNIT),
        pipeline.route_transcripts(transcripts(spark, SF_UNIT)),
    ):
        tree = explain(df).split("\n\n")[0]
        assert tree.count("LocalTableScan") == 2
        assert "ExistingRDD" not in tree
        assert tree.count("BroadcastHashJoin") == 2


def test_enrich_dim_schemas_pinned(spark):
    """The dims keep the schema createDataFrame(rows, cols) inferred for
    them, read back from the JVM plan."""
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import (
        role_dim,
        tool_dim,
    )

    def fields(df):
        return [
            (f.name, f.dataType.simpleString(), f.nullable)
            for f in df.select("*").schema
        ]

    assert fields(role_dim(spark)) == [
        ("role", "string", True),
        ("role_kind", "string", True),
        ("is_human", "boolean", True),
        ("priority", "bigint", True),
    ]
    assert fields(tool_dim(spark)) == [
        ("tool", "string", True),
        ("tool_category", "string", True),
        ("tool_owner", "string", True),
    ]


def test_parse_stage_stays_one_projection_no_shuffle(spark, tmp_path):
    # over a materialized transcripts table (the production input shape);
    # the synthetic derivation itself needs a row_number window, which is
    # datagen, not pipeline
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    path = str(tmp_path / "t0")
    transcripts(spark, SF_UNIT).write.parquet(path)
    plan = explain(p.parse_transcripts(spark.read.parquet(path)))
    assert "Exchange" not in plan
    assert "SortMergeJoin" not in plan


def test_column_pruning_reaches_scan(spark, tmp_path):
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts

    path = str(tmp_path / "t")
    transcripts(spark, SF_UNIT).write.parquet(path)
    df = spark.read.parquet(path).select("conv_id", "turn_idx")
    plan = explain(df)
    assert "ReadSchema: struct<conv_id:string,turn_idx:int>" in plan
    assert "text" not in plan.split("ReadSchema:")[1].splitlines()[0]


def test_filter_pushdown_reaches_scan(spark, tmp_path):
    from open_telemetry_opentelemetry_collector_contrib_spark.datagen import transcripts

    path = str(tmp_path / "t2")
    transcripts(spark, SF_UNIT).write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("role") == "tool")
    plan = explain(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,tool)]" in plan


def test_whole_stage_codegen_covers_parse(spark):
    df = pipeline.parsed(spark, SF_UNIT)
    codegen = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    )
    # at least one generated subtree and it spans the scan+parse projection
    assert "WholeStageCodegen" in codegen


def test_sinks_fallback_roundtrip(spark, tmp_path):
    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    df = pipeline.routed(spark, SF_UNIT).select("conv_id", "turn_idx", "route")
    target = str(tmp_path / "sink_out")
    sinks.write_table(df, target, group_by=["route"])
    back = sinks.read_table(spark, target)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)


def test_signal_to_metrics_single_scan(spark, tmp_path):
    """K metric definitions must cost ONE scan of the fact table, not K
    (operators/signaltometrics.py one-pass explode design)."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.signaltometrics import (
        MetricDef,
        signal_to_metrics,
    )

    path = str(tmp_path / "ev")
    spark.createDataFrame(
        [(i, f"t{i % 3}", float(i), "2024-01-01 00:00:00") for i in range(100)],
        ["event_id", "event_type", "value", "ts_s"],
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).drop("ts_s").write.parquet(path)
    df = spark.read.parquet(path)
    defs = [
        MetricDef(name="all_count", kind="count"),
        MetricDef(name="by_type", kind="count", keys=["event_type"]),
        MetricDef(name="val_sum", kind="sum", source="value", keys=["event_type"]),
    ]
    out = signal_to_metrics(df, defs)
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert tree.count("Exchange") - tree.count("BroadcastExchange") == 1
    assert "SortMergeJoin" not in tree
    # semantics: per-def totals survive the one-pass rewrite
    rows = {(r.metric_name, tuple(sorted(r.dims.items()))): r.value for r in out.collect()}
    assert rows[("all_count", ())] == 100.0
    assert rows[("by_type", (("event_type", "t0"),))] == 34.0
    assert abs(rows[("val_sum", (("event_type", "t1"),))] - sum(i for i in range(100) if i % 3 == 1)) < 1e-9


def test_otlpjson_explode_single_scan_no_shuffle(spark, tmp_path):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.otlpjson import (
        explode_otlp_logs,
    )

    path = str(tmp_path / "bodies")
    body = (
        '{"resourceLogs":[{"resource":{},"scopeLogs":[{"scope":{"name":"s"},'
        '"logRecords":[{"severityNumber":5,"body":{"stringValue":"hi"}}]}]}]}'
    )
    spark.createDataFrame([(i, body) for i in range(100)], ["rid", "body"]).write.parquet(path)
    plan = explain(explode_otlp_logs(spark.read.parquet(path), keep_cols=["rid"]))
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in tree  # pure project + generate, no shuffle
    assert "Generate" in tree


def test_otep235_sampler_no_shuffle(spark, tmp_path):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import sample as s

    path = str(tmp_path / "ev2")
    spark.createDataFrame(
        [(i, f"{i:032x}") for i in range(100)], ["event_id", "trace_id"]
    ).write.parquet(path)
    df = spark.read.parquet(path)
    out = s.otep235_sample(df, 25.0, "equalizing", trace_id_col="trace_id")
    plan = explain(out)
    tree = plan.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1
    assert "Exchange" not in tree  # stateless filter: embarrassingly parallel


def test_tail_sampling_decides_in_a_window_without_a_join(spark):
    """The registered tail_sampling query decides per trace in a Window over
    the one span scan and filters inline; no semi-join re-reads the spans."""
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import catalog2

    tree = explain(catalog2.q_tail_sampling(spark, SF_UNIT)).split("\n\n")[0]
    assert "Window" in tree
    assert "Join" not in tree
    assert tree.count("Scan parquet") == 1


def test_decontamination_broadcasts_benchmark_side(spark, tmp_path):
    """The benchmark gram set must broadcast — corpus grams never shuffle."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions.text import (
        contamination_hits,
    )

    path = str(tmp_path / "docs")
    spark.createDataFrame(
        [(i, "w%d x y z a b c d e f" % i) for i in range(200)], ["doc_id", "text"]
    ).write.parquet(path)
    docs = spark.read.parquet(path)
    out = contamination_hits(
        docs.filter(F.col("doc_id") % 7 != 0), docs.filter(F.col("doc_id") % 7 == 0)
    )
    tree = explain(out).split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    assert "SortMergeJoin" not in tree


def test_bucketed_table_aggregation_is_exchange_free(spark, tmp_path):
    """The 100 TB storage layout claim: a table bucketed by conv_id
    satisfies the distribution requirement of any aggregate whose grouping
    keys contain conv_id — the whole parse->...->count plan runs without a
    single shuffle Exchange (bench.py stores the scaled input this way; on
    a real cluster it is an Iceberg bucket(conv_id) partition transform)."""
    path = str(tmp_path / "bkt")
    name = "t_bkt_plan_test"
    df = spark.createDataFrame(
        [(f"c{i%50}", i, f"role{i%3}", i % 7) for i in range(2000)],
        ["conv_id", "turn_idx", "role", "v"],
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.repartition(8, F.col("conv_id"))
        .write.bucketBy(8, "conv_id")
        .sortBy("conv_id", "turn_idx")
        .option("path", path)
        .format("parquet")
        .saveAsTable(name)
    )
    t = spark.table(name)
    agg = t.groupBy("conv_id", "role").agg(F.count("*").alias("n"))
    tree = explain(agg).split("\n\n")[0]
    assert "Exchange" not in tree
    # control: the same files read WITHOUT bucket metadata must shuffle
    plain = spark.read.parquet(path).groupBy("conv_id", "role").agg(
        F.count("*").alias("n")
    )
    assert "Exchange" in explain(plain).split("\n\n")[0]
    spark.sql(f"DROP TABLE IF EXISTS {name}")


# Queries whose scan spread_scan widens: each ran faster widened in at least
# nine tenths of alternating widened/plain pairs at sf0.1 on local[4] (see
# tables.spread_scan).
WIDENED = (
    "winnow_fingerprints",
    "syslog_rfc5424_parse",
    "otlpjson_explode",
    "decontaminate_bloom",
    "doc_repetition",
    "syslog_parse",
    "container_parse",
    "decontaminate_docs",
    "uri_parse",
)
# Queries once widened that measured no faster that way, so they scan plainly.
PLAIN = (
    "metric_context_transform",
    "schema_translate",
    "resource_detect",
    "asof_join_scd",
    "range_lookup_geoip",
    "metrics_calculate",
    "aggregate_labels",
    "aggregate_label_values",
)


@pytest.mark.parametrize("name", WIDENED + PLAIN)
def test_scans_widened_only_where_measured_faster(spark, name):
    """At sf0.01 every table is one row group, so on the tests' local[8] a
    widened scan shows as one round-robin repartition and a plain one as none."""
    import __spark_entry__ as entry_mod

    plan = explain(entry_mod.queries()[name](spark, SF_CORRECT))
    assert plan.count("RoundRobinPartitioning") == (name in WIDENED)
