"""stanza transformer / schema / resourcedetection unit tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.operators import stanza as st


def _df(spark):
    return spark.createDataFrame(
        [(1, '"quoted"', "a,b,c"), (2, "plain", "x,y,z")], ["id", "v", "csvish"]
    )


def test_add_copy_move_remove_retain(spark):
    df = _df(spark)
    df = st.add(df, "env", "prod")
    df = st.copy_field(df, "v", "v2")
    df = st.move(df, "v2", "v3")
    assert "v2" not in df.columns and "v3" in df.columns
    df = st.remove(df, ["csvish"])
    df = st.retain(df, ["id", "v3", "env"])
    row = df.orderBy("id").collect()[0]
    assert row.env == "prod" and row.v3 == '"quoted"'


def test_conditional_add(spark):
    df = st.add(_df(spark), "flag", F.lit("yes"), condition=F.col("id") == 1)
    rows = {r.id: r.flag for r in df.collect()}
    assert rows == {1: "yes", 2: None}


def test_assign_keys(spark):
    df = _df(spark).withColumn("arr", F.split("csvish", ","))
    out = st.assign_keys(df, "arr", ["f1", "f2", "f3"])
    row = out.filter(F.col("id") == 1).collect()[0]
    assert (row.f1, row.f2, row.f3) == ("a", "b", "c")


def test_unquote(spark):
    out = {r.id: r.v for r in st.unquote(_df(spark), "v").collect()}
    assert out == {1: "quoted", 2: "plain"}


def test_schema_rename(spark):
    out = st.schema_rename(_df(spark), {"v": "body", "missing": "x"})
    assert "body" in out.columns and "v" not in out.columns


def test_detect_resource(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ENV", "staging")
    out = st.detect_resource(_df(spark)).collect()[0]
    assert out.deployment_environment == "staging"
    assert out.os_type == "linux"
    assert out.host_name


def test_trace_parser_best_effort_hex(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    df = spark.createDataFrame(
        [
            ("0102030405060708090A0B0C0D0E0F10", "0102030405060708", "01"),
            ("nothex", "0102", "1"),  # bad trace id; odd-length flags
            (None, None, None),
        ],
        ["trace_id", "span_id", "trace_flags"],
    )
    rows = p.parse_trace(df).collect()
    assert rows[0].trace_id == "0102030405060708090a0b0c0d0e0f10"  # lowercased
    assert rows[0].span_id == "0102030405060708"
    assert rows[0].trace_flags == "01"
    assert rows[1].trace_id is None  # invalid hex -> nil (trace.go:78-88)
    assert rows[1].span_id == "0102"
    assert rows[1].trace_flags is None  # odd length
    assert rows[2].trace_id is None


def test_scope_parser(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    df = spark.createDataFrame([("my.logger", 1)], ["logger_name", "x"])
    out = p.parse_scope(df, "logger_name").collect()[0]
    assert out.scope_name == "my.logger"


def test_request_condition_grammar():
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.route import (
        parse_request_condition,
    )
    import pytest as _pytest

    assert parse_request_condition('request["X-Tenant"] == "acme"') == ("X-Tenant", "==", "acme")
    assert parse_request_condition('request["k"] != "v"') == ("k", "!=", "v")
    for bad in (
        "",
        'request["k"] "v"',            # no comparator
        'request["k"] == "v" != "w"',  # multiple comparators
        'notrequest == "v"',           # lhs format
        'request["k"] == v',           # rhs not quoted
    ):
        with _pytest.raises(ValueError):
            parse_request_condition(bad)


def test_request_context_routing(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.route import (
        Route,
        request_condition,
        with_route_first_match,
    )

    df = spark.createDataFrame([(i, "a" if i % 2 else "b") for i in range(10)], ["i", "k"])
    md = {"x-tenant": ["acme"]}
    # matching request route claims the whole batch ahead of resource routes
    routes = [
        Route("tenant_sink", request_condition('request["X-Tenant"] == "acme"', md)),
        Route("a_sink", F.col("k") == "a"),
    ]
    out = with_route_first_match(df, routes)
    assert {r.route for r in out.collect()} == {"tenant_sink"}
    # non-matching request metadata falls through per-record
    routes2 = [
        Route("tenant_sink", request_condition('request["X-Tenant"] == "other"', md)),
        Route("a_sink", F.col("k") == "a"),
    ]
    out2 = with_route_first_match(df, routes2)
    got = {(r.i, r.route) for r in out2.collect()}
    assert all(route == ("a_sink" if i % 2 else "default") for i, route in got)
    # missing metadata key never matches, even for != (request.go:84-96)
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.route import (
        request_condition as rc,
    )
    df1 = spark.createDataFrame([(1,)], ["i"])
    assert df1.filter(rc('request["absent"] != "v"', md)).count() == 0


def test_otlpjson_signal_routing(spark):
    """Metric/trace payloads and invalid bodies are skipped (logs.go:58-74)."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.otlpjson import (
        explode_otlp_logs,
    )

    logs_body = (
        '{"resourceLogs":[{"resource":{},"scopeLogs":[{"scope":{"name":"s"},'
        '"logRecords":[{"severityNumber":5,"body":{"stringValue":"hi"},'
        '"attributes":[{"key":"n","value":{"intValue":"42"}}]}]}]}]}'
    )
    df = spark.createDataFrame(
        [
            (1, logs_body),
            (2, '{"resourceMetrics":[{}]}'),
            (3, '{"resourceSpans":[{}]}'),
            (4, "not json at all"),
        ],
        ["rid", "body"],
    )
    out = explode_otlp_logs(df, keep_cols=["rid"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r.rid == 1 and r.body == "hi" and r.severity_number == 5
    assert r.attributes["n"] == "42"  # intValue surfaces via AnyValue coalesce
    assert r.scope_name == "s"


def test_container_cri_parse_and_partial_recombine(spark):
    """crio/containerd CRI format + P/F partial-line recombine
    (pkg/stanza/operator/parser/container/parser.go:25-42,61)."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    path = "/var/log/pods/ns1_pod-a_0000aaaa-1111-2222-3333-444444444444/app/3.log"
    rows = [
        (path, 1, "2024-01-01T00:00:00.000000000Z stdout P part1-"),
        (path, 2, "2024-01-01T00:00:00.100000000Z stdout P part2-"),
        (path, 3, "2024-01-01T00:00:00.200000000Z stdout F end"),
        (path, 4, "2024-01-01T00:00:01.000000000Z stderr F whole"),
    ]
    df = spark.createDataFrame(rows, ["path", "line_no", "text"])
    parsed = p.parse_container_cri(df, path_col="path")
    r1 = parsed.orderBy("line_no").collect()[0]
    assert r1.container_stream == "stdout" and r1.container_logtag == "P"
    assert r1.container_log == "part1-"
    assert r1.k8s_namespace == "ns1" and r1.k8s_pod_name == "pod-a"
    assert r1.k8s_container_name == "app" and r1.k8s_restart_count == 3
    assert r1.container_time is not None

    logs = [r.container_log for r in _cri_recombine(parsed).collect()]
    assert logs == ["part1-part2-end", "whole"]


def _cri_recombine(parsed):
    """CRI P/F joining through the one recombine operator (parser.go:61)."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.recombine import (
        recombine,
    )

    return recombine(
        parsed, ["path", "container_stream"], "line_no", "container_log",
        is_last_entry=F.col("container_logtag") == "F",
        combine_with="", out_col="container_log",
    ).orderBy("line_no")


def test_container_cri_recombine_interleaved_streams(spark):
    """stdout and stderr interleaved in one file recombine per stream; a
    trailing P run with no F still emits its partial record."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    path = "/var/log/pods/ns1_pod-a_0000aaaa-1111-2222-3333-444444444444/app/3.log"
    rows = [
        (path, 1, "2024-01-01T00:00:00.000000000Z stdout P a1-"),
        (path, 2, "2024-01-01T00:00:00.050000000Z stderr P e1-"),
        (path, 3, "2024-01-01T00:00:00.100000000Z stdout F a2"),
        (path, 4, "2024-01-01T00:00:00.150000000Z stderr F e2"),
        (path, 5, "2024-01-01T00:00:00.200000000Z stdout P b1-"),
        (path, 6, "2024-01-01T00:00:00.250000000Z stderr F whole"),
        (path, 7, "2024-01-01T00:00:00.300000000Z stdout P b2-"),
    ]
    parsed = p.parse_container_cri(spark.createDataFrame(rows, ["path", "line_no", "text"]))
    got = [
        (r.container_stream, r.line_no, r.container_log)
        for r in _cri_recombine(parsed).collect()
    ]
    assert got == [
        ("stdout", 1, "a1-a2"),
        ("stderr", 2, "e1-e2"),
        ("stdout", 5, "b1-b2-"),
        ("stderr", 6, "whole"),
    ]


def test_severity_presets_and_custom_ranges(spark):
    """severity_builder.go presets, numeric aliases, HTTP ranges, min/max."""
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.parse import (
        severity_mapping,
        severity_number,
    )

    m = severity_mapping(custom={"error": "4xx", "fatal": [{"min": 500, "max": 501}]})
    df = spark.createDataFrame(
        [("info",), ("WARNING3",), ("err",), ("12",), ("404",), ("500",), ("nope",)],
        ["lvl"],
    )
    out = df.select("lvl", severity_number(F.col("lvl"), m).alias("n")).collect()
    got = {r.lvl: r.n for r in out}
    assert got == {
        "info": 9, "WARNING3": 15, "err": 17, "12": 12,
        "404": 17, "500": 21, "nope": 0,
    }
    assert severity_mapping("none") == {}
    assert "err" not in severity_mapping("otel")  # aliases preset has no extras


def test_jsonarray_parser(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    df = spark.createDataFrame(
        [('["1","debug",true,{"a":1}]',), ("not json",)], ["text"]
    )
    out = p.parse_json_array(df).collect()
    assert out[0].parsed == ["1", "debug", "true", '{"a":1}']
    assert out[1].parsed is None
    out2 = p.parse_json_array(df, header="id,level,ok,extra").collect()[0]
    assert out2.parsed["id"] == "1" and out2.parsed["level"] == "debug"
    assert out2.parsed["ok"] == "true"


def test_time_parser_gotime_and_epoch(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import parse as p

    assert p.gotime_to_java("2006-01-02 15:04:05") == "yyyy-MM-dd HH:mm:ss"
    assert p.gotime_to_java("Jan 2 2006 3:04PM") == "MMM d yyyy h:mma"
    df = spark.createDataFrame(
        [("2024-02-04 06:05:01", "1706997901", "1706997901.5", "not a time")],
        ["g", "es", "esms", "bad"],
    )
    out = p.parse_time(df, "g", "gotime", "2006-01-02 15:04:05", "t1")
    out = p.parse_time(out, "es", "epoch", "s", "t2")
    out = p.parse_time(out, "esms", "epoch", "s.ms", "t3")
    out = p.parse_time(out, "bad", "gotime", "2006-01-02", "t4")
    r = out.collect()[0]
    assert str(r.t1) == "2024-02-04 06:05:01"
    import datetime as dt
    assert r.t2 == dt.datetime(2024, 2, 3, 22, 5, 1)  # UTC epoch
    assert r.t3 - r.t2 == dt.timedelta(milliseconds=500)
    assert r.t4 is None
