"""OTTL compiler conformance tests.

Modeled on the reference's table-driven statement e2e corpus
(`pkg/ottl/e2e/e2e_test.go:36,327`): each case applies a statement/condition
to a known row and asserts the exact result.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.ottl import (
    LogContext,
    apply_statement,
    apply_statements,
    compile_condition,
    parse_condition,
    parse_statement,
)
from open_telemetry_opentelemetry_collector_contrib_spark.ottl.ast import (
    Comparison,
    FuncCall,
    Literal,
    Path,
)


@pytest.fixture(scope="module")
def logs(spark):
    rows = [
        {
            "conv_id": "c1",
            "turn_idx": 0,
            "text": "operationA",
            "level": "INFO",
            "severity_number": 9,
            "http_method": "get",
            "http_url": "http://localhost/health",
            "total_count": 1,
            "attributes": {"http.method": "get", "http.path": "/health", "flags": "A|B|C"},
            "ts_str": "2024-02-04 06:05:01.333",
        },
        {
            "conv_id": "c2",
            "turn_idx": 1,
            "text": "operationB",
            "level": "ERROR",
            "severity_number": 17,
            "http_method": "post",
            "http_url": "http://example.com:8080/path?q=1",
            "total_count": 2,
            "attributes": {"http.method": "post", "things": "x"},
            "ts_str": "2024-02-04 06:05:02.456",
        },
    ]
    return spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts_str"))


def one(df, conv="c1"):
    return df.filter(F.col("conv_id") == conv).collect()[0]


# -- parser ------------------------------------------------------------------


def test_parse_statement_shapes():
    s = parse_statement('set(attributes["test"], "pass") where body == "operationA"')
    assert s.editor.name == "set"
    assert isinstance(s.where, Comparison)
    assert s.editor.args[0] == Path(("attributes",), ("test",))

    c = parse_condition('severity_number == SEVERITY_NUMBER_INFO and not (level == "x")')
    assert c is not None

    s2 = parse_statement('set(attributes["i"], Split(attributes["flags"], "|")[1])')
    assert s2.editor.args[1].target.name == "Split"


def test_parser_named_args():
    s = parse_statement('set(cache["x"], ExtractGrokPatterns(body, "%{INT:n}", namedCapturesOnly = true))')
    assert dict(s.editor.args[1].named)["namedCapturesOnly"] == Literal(True, "bool")


def test_negative_number_vs_minus():
    c = parse_condition("total_count - 1 == 0")
    assert isinstance(c, Comparison)
    c2 = parse_condition("total_count == -1")
    assert c2.right == Literal(-1, "int")


# -- comparison semantics (LANGUAGE.md:261-285) --------------------------------


@pytest.mark.parametrize(
    "cond,expected_convs",
    [
        ('body == "operationA"', {"c1"}),
        ('body != "operationA"', {"c2"}),
        ("severity_number == SEVERITY_NUMBER_INFO", {"c1"}),
        ("severity_number >= 17", {"c2"}),
        # int vs float compare as float
        ("total_count == 1.0", {"c1"}),
        ("total_count < 1.5", {"c1"}),
        # mismatched base types: == false, != true, ordering false
        ('total_count == "1"', set()),
        ('total_count != "1"', {"c1", "c2"}),
        ('total_count < "abc"', set()),
        # nil handling: missing map key == nil -> true only for the row lacking it
        ('attributes["things"] == nil', {"c1"}),
        ('attributes["things"] != nil', {"c2"}),
        # boolean grammar + parens + not
        ('level == "INFO" or level == "ERROR"', {"c1", "c2"}),
        ('not (level == "INFO")', {"c2"}),
        ('IsMatch(body, "operation[AC]")', {"c1"}),
        # math in conditions: int arithmetic
        ("total_count * 2 == 4", {"c2"}),
        ("total_count - 1 == 0", {"c1"}),
        # Go int division truncates: c1 (1+1)/2=1, c2 (2+1)/2=1
        ("(total_count + 1) / 2 == 1", {"c1", "c2"}),
    ],
)
def test_condition_semantics(logs, cond, expected_convs):
    ctx = LogContext(logs)
    got = {r.conv_id for r in logs.filter(compile_condition(cond, ctx)).collect()}
    assert got == expected_convs, cond


def test_int_float_math_mix_rejected(logs):
    ctx = LogContext(logs)
    with pytest.raises(Exception, match="mixing"):
        compile_condition("total_count + 1.5 == 2", ctx)


# -- editors -------------------------------------------------------------------


def test_set_with_where(logs):
    df = apply_statement(logs, 'set(attributes["test"], "pass") where body == "operationA"')
    assert one(df).attributes.get("test") == "pass"
    assert one(df, "c2").attributes.get("test") is None


def test_set_typed_column(logs):
    df = apply_statement(logs, 'set(level, "DEBUG") where conv_id == "c2"')
    assert one(df).level == "INFO"
    assert one(df, "c2").level == "DEBUG"


def test_set_nil_is_noop(logs):
    df = apply_statement(logs, 'set(level, attributes["missing"])')
    assert one(df).level == "INFO"


def test_delete_key(logs):
    df = apply_statement(logs, 'delete_key(attributes, "http.method")')
    assert "http.method" not in one(df).attributes


def test_delete_matching_keys(logs):
    df = apply_statement(logs, 'delete_matching_keys(attributes, "http.*")')
    assert set(one(df).attributes) == {"flags"}


def test_keep_keys(logs):
    df = apply_statement(logs, 'keep_keys(attributes, ["http.method", "nope"])')
    assert set(one(df).attributes) == {"http.method"}


def test_keep_matching_keys(logs):
    df = apply_statement(logs, 'keep_matching_keys(attributes, "http.*")')
    assert set(one(df).attributes) == {"http.method", "http.path"}


def test_replace_pattern(logs):
    df = apply_statement(logs, 'replace_pattern(http_method, "get", "GET")')
    assert one(df).http_method == "GET"
    assert one(df, "c2").http_method == "post"


@pytest.mark.parametrize(
    "replacement,expected",
    [
        ("n${num_id}", "n42 n7"),
        ("n$num_id", "n42 n7"),
        ("[$1]", "[42] [7]"),
        # a digit after ${name} is text; $$ is a literal $
        ("${num_id}0", "420 70"),
        ("$$${num_id}", "$42 $7"),
        # an unknown name expands to nothing (Go Regexp.Expand)
        ("$nope-", "- -"),
        # a backslash is text in Go and the escape character in Java
        ("a\\\\b", "a\\b a\\b"),
    ],
)
def test_replace_pattern_group_refs(spark, replacement, expected):
    """Go replacement templates: ``$name``/``${name}`` refer to named
    groups, whose names Java would reject (``_``)."""
    df = spark.createDataFrame([("id=42 id=7",)], ["msg"])
    out = apply_statement(
        df, f'replace_pattern(msg, "id=(?P<num_id>[0-9]+)", "{replacement}")'
    )
    assert out.collect()[0].msg == expected


@pytest.mark.parametrize(
    "pattern,plain,groups",
    [
        (r"lat=(?P<latency_ms>[0-9]+)", r"lat=([0-9]+)", {"latency_ms": 1}),
        (r"(?<a>x)(y)(?P<b>z)", r"(x)(y)(z)", {"a": 1, "b": 3}),
        # escaped parens, parens in a class, non-capturing and lookaround
        # groups are not counted
        (r"\((?:a)[(](?<=b)(?<!c)(?P<d>e)", r"\((?:a)[(](?<=b)(?<!c)(e)", {"d": 1}),
        (r"[\]()](?P<e>f)", r"[\]()](f)", {"e": 1}),
        # grok aliases: any name without '>'; a repeated name keeps its last group
        (r"(?P<url.scheme>a)(?P<x>b)(?P<x>c)", r"(a)(b)(c)", {"url.scheme": 1, "x": 3}),
        (r"no groups", r"no groups", {}),
    ],
)
def test_go_regex(pattern, plain, groups):
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl.functions import go_regex

    assert go_regex(pattern) == (plain, groups)


def test_replace_match_glob(logs):
    df = apply_statement(logs, 'replace_match(http_url, "http://localhost*", "local")')
    assert one(df).http_url == "local"
    assert one(df, "c2").http_url.startswith("http://example")


def test_replace_all_patterns_value_and_key(logs):
    df = apply_statement(logs, 'replace_all_patterns(attributes, "value", "get", "G")')
    assert one(df).attributes["http.method"] == "G"
    df2 = apply_statement(logs, 'replace_all_patterns(attributes, "key", "http\\\\.", "")')
    assert "method" in one(df2).attributes


def test_truncate_all(logs):
    df = apply_statement(logs, "truncate_all(attributes, 2)")
    assert one(df).attributes["http.method"] == "ge"


def test_limit(logs):
    df = apply_statement(logs, 'limit(attributes, 1, ["http.path"])')
    assert set(one(df).attributes) == {"http.path"}


def test_append_and_statement_sequencing(logs):
    df = apply_statements(
        logs,
        [
            'append(tags, "a")',
            'append(tags, "b") where conv_id == "c1"',
        ],
    )
    assert one(df).tags == ["a", "b"]
    assert one(df, "c2").tags == ["a"]


def test_merge_maps_upsert(logs):
    df = apply_statement(
        logs, 'merge_maps(attributes, ParseKeyValue("k1=v1 http.method=put"), "upsert")'
    )
    attrs = one(df).attributes
    assert attrs["k1"] == "v1" and attrs["http.method"] == "put"
    df2 = apply_statement(
        logs, 'merge_maps(attributes, ParseKeyValue("k1=v1 http.method=put"), "insert")'
    )
    attrs2 = one(df2).attributes
    assert attrs2["k1"] == "v1" and attrs2["http.method"] == "get"


# -- converters ---------------------------------------------------------------


@pytest.mark.parametrize(
    "expr,expected",
    [
        ('Int("42")', 42),
        ("Int(2.9)", 2),
        ('Double("1.5")', 1.5),
        ("String(total_count)", "1"),
        ('Concat([level, body], "-")', "INFO-operationA"),
        ('ConvertCase(level, "lower")', "info"),
        ('ConvertCase(body, "snake")', "operation_a"),
        ('ConvertCase("an_example", "camel")', "AnExample"),
        ('Split(attributes["flags"], "|")[1]', "B"),
        ("Substring(body, 2, 3)", "era"),
        ('Format("%s=%d", [level, total_count])', "INFO=1"),
        ("Len(body)", 10),
        ("Len(attributes)", 3),
        ('Hex(total_count)', "0000000000000001"),
        ("MD5(http_method)", "b5eda0a74558a342cf659187f06f746f"),
        ("SHA256(http_method)", "2998b3232d29e8dc5a78d97a32ce83f556f3ed31b057077503df05641dd79158"),
        ('IsMatch(http_url, "^http://localhost")', True),
        ("IsString(body)", True),
        ("IsInt(body)", False),
        ("IsInt(total_count)", True),
        ('UnixSeconds(Time("2024-02-04", "%Y-%m-%d"))', 1707004800),
        ("Year(ts)", 2024),
        ("Hour(ts)", 6),
        ('UnixSeconds(TruncateTime(ts, "1h"))', 1707026400),
        ('Sort(Split(attributes["flags"], "|"), "desc")[0]', "C"),
        ('ParseJSON("{\\"k\\": 87}")["k"]', "87"),
        ('ParseCSV("a,b,c", "f1,f2,f3")["f2"]', "b"),
        ('ExtractPatterns(http_url, "://(?P<host>[^:/]+)")["host"]', "localhost"),
        # Java rejects '_' in group names; groups are read by index
        ('ExtractPatterns("lat=42", "lat=(?P<latency_ms>[0-9]+)")["latency_ms"]', "42"),
        ('IsMatch("lat=42", "lat=(?P<latency_ms>[0-9]+)")', True),
        ('ExtractGrokPatterns("user alice id 42", "user %{WORD:user} id %{INT:id}")["id"]', "42"),
        ('ExtractGrokPatterns("at 10.1.2.3 ok", "at %{IP:ip} ok")["ip"]', "10.1.2.3"),
        ('URL(http_url)["url.domain"]', "localhost"),
        ('URL(http_url)["url.path"]', "/health"),
    ],
)
def test_converters(logs, expr, expected):
    df = apply_statement(logs, f"set(out, {expr})")
    got = one(df).out
    if isinstance(expected, float):
        assert abs(got - expected) < 1e-9
    else:
        assert got == expected, expr


def test_error_mode_ignore_yields_nil_not_job_failure(spark):
    """OTTL error_mode=ignore: per-row conversion failures become nil
    (`pkg/ottl/parser.go:337-356`). Spark 4 runs ANSI mode, where plain
    casts would kill the whole job on one malformed row — the compiler must
    emit try_cast/try_divide/try_to_timestamp."""
    df = spark.createDataFrame([("abc", 5), ("42", 0)], ["v", "d"])
    assert {r.v: r.n for r in apply_statement(df, "set(n, Int(v))").collect()} == {
        "abc": None,
        "42": 42,
    }
    assert {r.v: r.q for r in apply_statement(df, "set(q, 10 / d)").collect()} == {
        "abc": 2,
        "42": None,  # division by zero -> nil
    }
    out = apply_statement(df, 'set(t, Time(v, "%Y-%m-%d"))').collect()
    assert all(r.t is None for r in out)
    assert {r.v: r.x for r in apply_statement(df, "set(x, Double(v))").collect()}[
        "abc"
    ] is None


def test_cache_scratch_sequencing(logs):
    """cache is a per-record scratch map (ottllog/log.go:203-207): written by
    one statement, read by a later one, dropped before write."""
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl.compiler import finish

    df = apply_statements(
        logs,
        [
            'set(cache["orig"], body)',
            'set(body, ConvertCase(body, "upper"))',
            'set(restored, cache["orig"])',
        ],
    )
    row = one(df)
    assert row.text == "OPERATIONA"
    assert row.restored == "operationA"
    assert not [c for c in finish(df).columns if c.startswith("__cache_")]


def test_duration_and_time_math(logs):
    df = apply_statement(logs, 'set(out, Seconds(Duration("1m30s")))')
    assert one(df).out == 90.0
    df2 = apply_statement(logs, 'set(out, Milliseconds(Duration("2s")))')
    assert one(df2).out == 2000.0


@pytest.mark.parametrize(
    "ua,name",
    [
        (
            "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/91.0.4472.124 Safari/537.36",
            "Chrome",
        ),
        ("curl/8.1.2", "curl"),
        (
            "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
            "Firefox",
        ),
    ],
)
def test_user_agent_converter(spark, ua, name):
    # exactly the reference's three semconv keys (func_useragent.go:41-46)
    df = spark.createDataFrame([(ua,)], ["ua"])
    out = apply_statement(df, "set(parsed, UserAgent(ua))").collect()[0].parsed
    assert out["user_agent.name"] == name
    assert out["user_agent.original"] == ua
    assert set(out) <= {"user_agent.name", "user_agent.original", "user_agent.version"}


def test_registry_names_all_dispatchable(spark):
    """Every registered converter name must be accepted by the dispatcher
    (unknown names raise) — guards registry/dispatch drift."""
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl.functions import (
        REGISTERED_CONVERTERS,
        REGISTERED_EDITORS,
        call_converter,
    )
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl.ast import FuncCall
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl.compiler import (
        LogContext,
        OTTLCompileError,
    )

    df = spark.createDataFrame([("x",)], ["v"])
    ctx = LogContext(df)
    for name in REGISTERED_CONVERTERS:
        try:
            call_converter(FuncCall(name, ()), ctx)
        except OTTLCompileError as e:
            assert "unknown converter" not in str(e), name
        except Exception:
            pass  # arg errors are fine; the name resolved
    assert len(REGISTERED_EDITORS) == 14


def test_slice_to_map(spark):
    df = spark.createDataFrame(
        [(1, [{"name": "a", "v": "1"}, {"name": "b", "v": "2"}])],
        "id int, arr array<map<string,string>>",
    )
    out = apply_statement(df, 'set(m, SliceToMap(arr, "name"))').collect()[0]
    assert set(out.m) == {"a", "b"}
    assert '"v":"2"' in out.m["b"]


def test_xml_converters(spark):
    xml = "<log><level>warn</level><msg>disk <b>full</b></msg><tag>a</tag><tag>b</tag></log>"
    df = spark.createDataFrame([(xml,), ("not xml",)], ["x"])
    out = apply_statement(df, "set(m, ParseSimplifiedXML(x))")
    rows = {r.x: r.m for r in out.collect()}
    assert rows[xml]["log.level"] == "warn"
    assert rows[xml]["log.tag[0]"] == "a" and rows[xml]["log.tag[1]"] == "b"
    assert rows["not xml"] is None
    # GetXML serializes matched element nodes (func_get_xml.go:53-60)
    out2 = apply_statement(df, 'set(lvl, GetXML(x, "//level"))')
    assert {r.lvl for r in out2.collect()} == {"<level>warn</level>", ""}


def test_xml_family_e2e_cases(spark):
    """Conformance cases modeled on pkg/ottl/e2e/e2e_test.go:375-393,466,700-721."""
    df = spark.createDataFrame([(1,)], ["row_id"])
    log_xml = '<Log id=\\"1\\"><Message>This is a log message!</Message></Log>'

    out = apply_statement(df, f'set(t, ConvertAttributesToElementsXML("{log_xml}"))')
    assert out.collect()[0].t == "<Log><Message>This is a log message!</Message><id>1</id></Log>"

    out = apply_statement(df, 'set(t, ConvertTextToElementsXML("<a><b/>foo</a>"))')
    assert out.collect()[0].t == "<a><b></b><value>foo</value></a>"

    out = apply_statement(
        df, 'set(t, ConvertTextToElementsXML("<a><b/>foo</a><c><b/>bar</c>", "/a", "custom"))'
    )
    assert out.collect()[0].t == "<a><b></b><custom>foo</custom></a><c><b></b>bar</c>"

    out = apply_statement(df, 'set(t, InsertXML("<a></a>", "/a", "<b></b>"))')
    assert out.collect()[0].t == "<a><b></b></a>"

    out = apply_statement(df, f'set(t, RemoveXML("{log_xml}", "/Log/Message"))')
    assert out.collect()[0].t == '<Log id="1"></Log>'

    # attribute + text() removal modes (func_remove_xml.go:56-69)
    out = apply_statement(df, f'set(t, RemoveXML("{log_xml}", "/Log/@id"))')
    assert out.collect()[0].t == "<Log><Message>This is a log message!</Message></Log>"
    out = apply_statement(
        df, 'set(t, RemoveXML("<a>keep<b>x</b></a>", "/a/b/text()"))'
    )
    assert out.collect()[0].t == "<a>keep<b></b></a>"


def test_parse_xml_structure(spark):
    df = spark.createDataFrame([(1,)], ["row_id"])
    out = apply_statement(
        df,
        'set(m, ParseXML("<Log id=\\"1\\"><Message>This is a log message!</Message></Log>"))',
    )
    m = out.collect()[0].m
    assert m["tag"] == "Log"
    assert m["attributes"] == '{"id":"1"}'
    assert (
        m["children"]
        == '[{"tag":"Message","content":"This is a log message!"}]'
    )
    # malformed / trailing input -> nil (error_mode=ignore)
    df2 = spark.createDataFrame([("<a></a><b></b>",), ("nope",)], ["x"])
    out2 = apply_statement(df2, "set(m, ParseXML(x))")
    assert [r.m for r in out2.collect()] == [None, None]


def test_xml_roundtrip_insert_get_remove(spark):
    """GetXML -> InsertXML -> RemoveXML roundtrip (e2e_test.go:1226-1241)."""
    body = "<Data><From><Test>1</Test><Test>2</Test></From><To></To></Data>"
    df = spark.createDataFrame([(body,)], ["body"])
    out = apply_statement(
        df,
        'set(body, RemoveXML(InsertXML(body, "/Data/To", GetXML(body, "/Data/From/Test")), "/Data/To/Test"))',
    )
    assert out.collect()[0].body == body


def test_to_key_value_string(spark):
    """e2e_test.go:667-690 ToKeyValueString cases."""
    df = spark.createDataFrame([(1,)], ["row_id"])
    cases = [
        ('ToKeyValueString(ParseKeyValue("k1=v1 k2=v2"), "=", " ", true)', "k1=v1 k2=v2"),
        ('ToKeyValueString(ParseKeyValue("k1:v1,k2:v2", ":", ","), ":", ",", true)', "k1:v1,k2:v2"),
        ('ToKeyValueString(ParseKeyValue("k1=v1 k2=v2"), "!", "+", true)', "k1!v1+k2!v2"),
        ('ToKeyValueString(ParseKeyValue("k1=v1 k2=v2=v3"), "=", " ", true)', 'k1=v1 k2="v2=v3"'),
    ]
    for expr, want in cases:
        out = apply_statement(df, f"set(t, {expr})")
        assert out.collect()[0].t == want, expr


def test_span_trace_id_converters(spark):
    df = spark.createDataFrame(
        [("0102030405060708090a0b0c0d0e0f10", "0102030405060708")],
        ["trace_id", "span_id"],
    )
    out = apply_statement(
        df,
        'set(t, "pass") where trace_id == TraceID(0x0102030405060708090a0b0c0d0e0f10)',
    )
    assert out.collect()[0].t == "pass"
    out2 = apply_statement(df, "set(span_id, SpanID(0x0000000000000000))")
    assert out2.collect()[0].span_id == "0000000000000000"
    import pytest as _pytest
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl.compiler import OTTLCompileError

    with _pytest.raises(OTTLCompileError):
        apply_statement(df, "set(span_id, SpanID(0x00))")


def test_string_of_map_and_minutes(logs):
    df = apply_statement(logs, 'set(out, String(ParseJSON("{\\"a\\": 1}")))')
    assert one(df).out == '{"a":"1"}'
    df2 = apply_statement(logs, 'set(out, Minutes(Duration("90s")))')
    assert one(df2).out == 1.5


def test_md5_matches_reference_known_value(spark):
    # e2e corpus asserts MD5("pass") on a known string
    df = spark.createDataFrame([("pass",)], ["v"])
    from open_telemetry_opentelemetry_collector_contrib_spark.ottl import apply_statement as ap

    out = ap(df, "set(h, MD5(v))").collect()[0].h
    import hashlib

    assert out == hashlib.md5(b"pass").hexdigest()


def test_replace_pattern_with_hash_function(spark):
    """pkg/ottl/e2e/e2e_test.go:223-233: optional hash converter + format."""
    df = spark.createDataFrame([("/health",)], ["path"])
    out = apply_statement(df, 'replace_pattern(path, "/", "@")')
    assert out.collect()[0].path == "@health"
    out = apply_statement(df, 'replace_pattern(path, "/", "@", SHA256)')
    assert out.collect()[0].path == (
        "c3641f8544d7c02f3580b07c0f9887f0c6a27ff5ab1d4a3e29caf197cfc299ae" "health"
    )
    out = apply_statement(
        df, 'replace_pattern(path, "/", "@", SHA256, "hash=%s")'
    )
    assert out.collect()[0].path.startswith("hash=c3641f85")


def test_parse_csv_quotes_and_modes(spark):
    """func_parse_csv.go modes: strict is quote-aware; ignoreQuotes treats
    quotes as data; headerDelimiter decouples from the value delimiter."""
    df = spark.createDataFrame([('a,"b,c",d',)], ["line"])
    out = apply_statement(df, 'set(m, ParseCSV(line, "f1,f2,f3"))').collect()[0].m
    assert out == {"f1": "a", "f2": "b,c", "f3": "d"}
    out2 = apply_statement(
        df, 'set(m, ParseCSV(line, "f1|f2|f3|f4", headerDelimiter = "|", mode = "ignoreQuotes"))'
    ).collect()[0].m
    assert out2 == {"f1": "a", "f2": '"b', "f3": 'c"', "f4": "d"}


def test_grok_pattern_definitions(spark):
    """ExtractGrokPatterns patternDefinitions: inline NAME=regex defs."""
    df = spark.createDataFrame([("order id=ORD-7731 ok",)], ["text"])
    out = apply_statement(
        df,
        'set(m, ExtractGrokPatterns(text, "id=%{ORDID:oid}", true, ["ORDID=ORD-[0-9]+"]))',
    ).collect()[0].m
    assert out == {"oid": "ORD-7731"}


def test_grok_pattern_definitions_fast_path(spark):
    """patternDefinitions must reach the >=4-group pandas-UDF fast path too,
    including a custom def that shadows a builtin name (WORD as digits-only
    here — the builtin \\b\\w+\\b would match 'abc')."""
    df = spark.createDataFrame([("u=alice p=1 q=2 r=3 w=42",)], ["text"])
    out = apply_statement(
        df,
        'set(m, ExtractGrokPatterns(text, '
        '"u=%{USERNAME:u} p=%{INT:p} q=%{INT:q} r=%{INT:r} w=%{WORD:w}", '
        'true, ["WORD=[0-9]+"]))',
    ).collect()[0].m
    assert out == {"u": "alice", "p": "1", "q": "2", "r": "3", "w": "42"}


def test_time_location_and_decode_charsets(spark):
    df = spark.createDataFrame([("2024-06-01 12:00:00",)], ["t"])
    out = apply_statement(
        df, 'set(ts, Time(t, "%Y-%m-%d %H:%M:%S", "America/New_York"))'
    ).collect()[0]
    # noon EDT (UTC-4) == 16:00 UTC (session TZ is UTC)
    assert str(out.ts) == "2024-06-01 16:00:00"
    df2 = spark.createDataFrame([(bytearray("café".encode("latin1")), "aGk=")], ["b", "b64"])
    r = apply_statement(df2, 'set(x, Decode(b, "ISO-8859-1"))').collect()[0]
    assert r.x == "café"
    r2 = apply_statement(df2, 'set(x, Decode(b64, "base64"))').collect()[0]
    assert r2.x == "hi"
    # windows-1252 is NOT ISO-8859-1 in 0x80-0x9F: 0x93/0x94 are smart
    # quotes, 0x80 is the euro sign (C1 controls in latin1)
    df3 = spark.createDataFrame(
        [(bytearray(b"\x93hi\x94 \x80"),)], ["b"]
    )
    r3 = apply_statement(df3, 'set(x, Decode(b, "windows-1252"))').collect()[0]
    assert r3.x == "“hi” €"
