"""Config-driven pipeline assembly tests (YAML-shape dict -> DataFrame)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.plans import config as cfg
from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline
from tests.conftest import SF_UNIT

SPEC = {
    "processors": [
        {"type": "filter", "drop_conditions": ['status == "err"']},
        {
            "type": "transform",
            "statements": [
                'set(level_lc, ConvertCase(level, "lower"))',
                'set(is_slow, latency_ms > 500)',
            ],
        },
        {
            "type": "attributes",
            "actions": [
                {"action": "insert", "key": "env", "value": "prod"},
                {"action": "insert", "key": "conv_hash", "from_attribute": "conv_id"},
                {"action": "hash", "key": "conv_hash"},
            ],
        },
        {"type": "sample", "key": "conv_id", "percentage": 100.0},
    ],
    "route": {
        "table": [
            {"name": "errors", "condition": 'level == "ERROR"'},
            {"name": "slow", "condition": "latency_ms > 1000"},
        ],
        "match_once": True,
    },
    "aggregate": {"type": "count", "keys": ["route", "role"], "window_s": 86400},
}


def test_validate_rejects_bad_ottl():
    bad = {"processors": [{"type": "transform", "statements": ["set(x, "]}]}
    with pytest.raises(cfg.ConfigError):
        cfg.validate(bad)


def test_validate_rejects_unknown_stage():
    with pytest.raises(cfg.ConfigError, match="unknown processor"):
        cfg.validate({"processors": [{"type": "nope"}]})


def test_build_end_to_end(spark):
    src = pipeline.parsed(spark, SF_UNIT)
    out = cfg.build(spark, SPEC, src)
    rows = out.collect()
    assert rows
    assert set(out.columns) == {"window_id", "route", "role", "n"}
    # equivalent hand-built program
    hand = (
        src.filter(~F.coalesce(F.col("status") == "err", F.lit(False)))
        .withColumn(
            "route",
            F.coalesce(
                F.when(F.col("level") == "ERROR", F.lit("errors")),
                F.when(F.col("latency_ms") > 1000, F.lit("slow")),
                F.lit("default"),
            ),
        )
        .withColumn("window_id", F.floor(F.unix_timestamp("ts") / 86400).cast("bigint"))
        .groupBy("window_id", "route", "role")
        .count()
    )
    exp = {(r.window_id, r.route, r.role): r["count"] for r in hand.collect()}
    got = {(r.window_id, r.route, r.role): r.n for r in rows}
    assert got == exp


def test_attribute_actions_applied(spark):
    src = pipeline.parsed(spark, SF_UNIT)
    spec = {"processors": SPEC["processors"][:3]}
    out = cfg.build(spark, spec, src)
    row = out.limit(1).collect()[0]
    assert row.env == "prod"
    assert len(row.conv_hash) == 64  # sha2-256 hex


def test_match_all_route_duplicates(spark):
    src = pipeline.parsed(spark, SF_UNIT)
    spec = {
        "route": {
            "table": [
                {"name": "a", "condition": 'role == "tool"'},
                {"name": "b", "condition": "latency_ms > 0"},
            ],
            "match_once": False,
        }
    }
    out = cfg.build(spark, spec, src)
    n_in = src.count()
    n_out = out.count()
    assert n_out > n_in  # duplication happened


def test_config_new_stage_types(spark):
    """Round-2 stage registry additions: logstransform syslog_parser
    (rfc5424) and severity_parser, otep235 sampler, tail_sampling,
    request-context routing."""
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import config as cfg

    line = '<165>1 2024-01-01T00:00:00Z host app 7 ID1 [x@1 k="v"] hello'
    df = spark.createDataFrame(
        [(line, "0102030405060708090a0b0c0d0e0f10")], ["text", "trace_id"]
    )
    spec = {
        "processors": [
            {"type": "logstransform", "operators": [
                {"type": "syslog_parser", "protocol": "rfc5424"},
                {"type": "severity_parser", "parse_from": "syslog_msgid",
                 "preset": "none", "mapping": {"info": ["id1"]}},
            ]},
        ],
        "route": {
            "table": [
                {"name": "tenant", "context": "request",
                 "condition": 'request["X-Tenant"] == "acme"'},
                {"name": "errors", "condition": "syslog_severity >= 4"},
            ],
            "request_metadata": {"x-tenant": "acme"},
            "match_once": True,
        },
    }
    cfg.validate(spec)
    out = cfg.build(spark, spec, df)
    r = out.collect()[0]
    assert r.route == "tenant"  # request route claims the batch
    assert r.severity_number == 9 and r.syslog_host == "host"

    # bad request grammar fails at validate time
    import pytest as _pytest

    bad = {"processors": [], "route": {"table": [
        {"name": "x", "context": "request", "condition": "request[k] = v"}]}}
    with _pytest.raises(cfg.ConfigError):
        cfg.validate(bad)

    # otep sampler + tail sampling stages compile and run
    t1 = "0102030405060708090a0b0c0d0e0f10"
    t2 = "f10203040506070809112233445566ab"
    spans = spark.createDataFrame(
        [(t1, "s1", "err", 100, "2024-01-01 00:00:00"),
         (t2, "s2", "ok", 9000, "2024-01-01 00:00:01")],
        ["trace_id", "span_id", "status", "duration_ms", "ts_s"],
    ).withColumn("ts", F.col("ts_s").cast("timestamp")).withColumn(
        "duration_ms", F.col("duration_ms").cast("long")
    )
    spec2 = {
        "processors": [
            {"type": "tail_sampling", "policies": [
                {"type": "status_code", "status_codes": ["err"]},
                {"type": "latency", "threshold_ms": 5000},
            ]},
            {"type": "sample_otep235", "percentage": 100.0, "mode": "equalizing"},
        ]
    }
    cfg.validate(spec2)
    out2 = cfg.build(spark, spec2, spans)
    assert {r.trace_id for r in out2.collect()} == {t1, t2}


def test_logstransform_stanza_chain(spark):
    """logstransformprocessor analog: ordered stanza operators as one
    config stage — regex_parser named groups + embedded severity, csv and
    key_value parsers, field transformers; validation fails fast on bad
    operator configs."""
    src = spark.createDataFrame(
        [
            (1, 'ERROR action=click latency_ms=42 status=ok msg="hi"',
             "a,b,c", "k1=v1 k2=v2"),
            (2, "MALFORMED junk", "x,y", "solo"),
        ],
        "id long, text string, csv string, kv string",
    )
    spec = {
        "processors": [
            {
                "type": "logstransform",
                "operators": [
                    {
                        "type": "regex_parser",
                        "regex": r"^(?P<level>INFO|ERROR)"
                                 r" action=(?P<action>[a-z_]+)"
                                 r" latency_ms=(?P<latency_ms>[0-9]+)",
                        "severity": {"parse_from": "level"},
                    },
                    {"type": "csv_parser", "parse_from": "csv",
                     "header": ["f1", "f2", "f3"]},
                    {"type": "key_value_parser", "parse_from": "kv",
                     "parse_to": "kvmap"},
                    {"type": "copy", "from": "action", "to": "action2"},
                    {"type": "move", "from": "latency_ms", "to": "lat"},
                    {"type": "add", "field": "tag", "value": "t1"},
                    {"type": "remove", "fields": ["csv"]},
                ],
            }
        ]
    }
    out = cfg.build(spark, spec, src)
    rows = {r.id: r for r in out.collect()}
    r1, r2 = rows[1], rows[2]
    assert (r1.level, r1.action, r1.lat) == ("ERROR", "click", "42")
    assert r1.severity_number == 17
    # row the pattern misses: null fields, severity 0 (on_error=send)
    assert r2.level is None and r2.severity_number == 0
    assert (r1.f1, r1.f2, r1.f3) == ("a", "b", "c")
    assert (r2.f1, r2.f2, r2.f3) == ("x", "y", None)
    assert r1.kvmap == {"k1": "v1", "k2": "v2"}
    assert r1.action2 == "click" and r1.tag == "t1"
    assert "csv" not in out.columns and "latency_ms" not in out.columns

    with pytest.raises(cfg.ConfigError):
        cfg.validate({"processors": [{"type": "logstransform",
                                      "operators": [{"type": "nope"}]}]})
    with pytest.raises(Exception):
        cfg.validate({"processors": [{"type": "logstransform",
                                      "operators": [{"type": "regex_parser",
                                                     "regex": "(?P<bad"}]}]})


def test_regex_parser_reads_both_go_group_forms(spark):
    """Go names a group ``(?P<name>…)`` or ``(?<name>…)``; regex_parser
    takes both, and names with ``_``."""
    src = spark.createDataFrame([("ERROR lat=42",)], ["text"])
    spec = {"processors": [{"type": "logstransform", "operators": [
        {"type": "regex_parser",
         "regex": r"^(?<level>[A-Z]+) lat=(?P<latency_ms>[0-9]+)"},
    ]}]}
    cfg.validate(spec)
    r = cfg.build(spark, spec, src).collect()[0]
    assert (r.level, r.latency_ms) == ("ERROR", "42")


def test_lookup_stage_joins_local_dimension(spark, tmp_path):
    """The ``lookup`` stage left-joins a dimension given as rows in the
    config. The dimension is rows in the plan (LocalTableScan), not a
    pickled Python RDD, and its column types are the ones createDataFrame
    infers from the values (int -> bigint, float -> double)."""
    path = str(tmp_path / "fact")
    spark.range(5).selectExpr(
        "id", "CASE WHEN id = 4 THEN 'c' WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS k"
    ).write.parquet(path)
    spec = {
        "processors": [
            {
                "type": "lookup",
                "on": "k",
                "columns": ["k", "weight", "score", "flag"],
                "rows": [["a", 1, 0.5, True], ["b", 2, 1.5, False]],
            }
        ]
    }
    out = cfg.build(spark, spec, spark.read.parquet(path))
    # the plan before it runs (once run, AQE prints it twice)
    tree = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ).split("\n\n")[0]
    assert tree.count("LocalTableScan") == 1
    assert "ExistingRDD" not in tree
    assert out.dtypes == [
        ("k", "string"),
        ("id", "bigint"),
        ("weight", "bigint"),
        ("score", "double"),
        ("flag", "boolean"),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        ("a", 0, 1, 0.5, True),
        ("a", 2, 1, 0.5, True),
        ("b", 1, 2, 1.5, False),
        ("b", 3, 2, 1.5, False),
        ("c", 4, None, None, None),
    ]


def test_fnv_aggregate_key_crosses_the_python_boundary_once(spark):
    """An OTTL ``FNV`` output used as an aggregate key is evaluated by one
    Arrow UDF node: the aggregate's required-key filter stays above the
    transform instead of being pushed below it as a second copy of the UDF."""
    spec = {
        "processors": [
            {"type": "transform", "statements": ['set(attributes["conv_hash"], FNV(conv_id))']},
        ],
        "aggregate": {"type": "count", "keys": ["conv_hash", "role"], "window_s": 86400},
    }
    src = pipeline.parsed(spark, SF_UNIT)
    out = cfg.build(spark, spec, src)
    tree = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    ).split("\n\n")[0]
    assert tree.count("ArrowEvalPython") == 1
    assert out.agg(F.sum("n")).first()[0] == src.count()
