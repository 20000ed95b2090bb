"""Second operator-catalog wave: redaction, trace family, metrics transform,
stanza parsers — each with a DuckDB oracle where SQL can express it."""

from __future__ import annotations

from pyspark.sql import functions as F

from .. import datagen
from ..operators import metricstransform as mt
from ..operators import parse as parse_ops
from ..operators import redact as redact_ops
from ..operators import traces as trace_ops
from ..sources.tables import load_table, spread_scan
from . import pipeline
from .catalog import _PARSED_CTE, _PREFIX

# ---------------------------------------------------------------------------
# redaction (map allowlist + value masking)
# ---------------------------------------------------------------------------

_BLOCKED = [r"payload [0-9]+"]


def _attrs_map(df):
    """attributes map from parsed fields, null values omitted (pdata maps
    never hold nil values)."""
    entries = [
        F.when(
            F.col(k).isNotNull(),
            F.struct(F.lit(k).alias("key"), F.col(k).alias("value")),
        )
        for k in ("action", "status", "msg")
    ]
    return F.map_from_entries(
        F.filter(F.array(*entries), lambda x: x.isNotNull())
    )


def q_redact_attributes(spark, sf_dir):
    df = pipeline.parsed(spark, sf_dir).withColumn("attributes", _attrs_map(None))
    out = redact_ops.redact(
        df, allowed_keys=["action", "msg"], blocked_values=_BLOCKED
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.element_at("attributes", "action").alias("action_out"),
        F.element_at("attributes", "msg").alias("msg_out"),
        "redaction_masked_count",
        "redaction_masked_keys",
    )


O_REDACT = (
    _PREFIX
    + _PARSED_CTE
    + r"""
SELECT conv_id, turn_idx,
       action AS action_out,
       CASE WHEN regexp_matches(msg, 'payload [0-9]+') THEN '****' ELSE msg END AS msg_out,
       CAST(CASE WHEN coalesce(regexp_matches(msg, 'payload [0-9]+'), FALSE) THEN 1 ELSE 0 END AS BIGINT)
         AS redaction_masked_count,
       CASE WHEN coalesce(regexp_matches(msg, 'payload [0-9]+'), FALSE) THEN 'msg' ELSE '' END
         AS redaction_masked_keys
FROM parsed
"""
)

# ---------------------------------------------------------------------------
# trace family (spans derived from transcripts)
# ---------------------------------------------------------------------------

_SPANS_CTE = (
    _PARSED_CTE
    + """
, spans AS (
  SELECT conv_id AS trace_id,
         conv_id || '#' || CAST(turn_idx AS VARCHAR) AS span_id,
         lag(conv_id || '#' || CAST(turn_idx AS VARCHAR))
           OVER (PARTITION BY conv_id ORDER BY turn_idx) AS parent_span_id,
         role AS service, status, latency_ms AS duration_ms, ts, turn_idx
  FROM parsed
)
"""
)


def _spans(spark, sf_dir):
    return trace_ops.spanify_transcripts(pipeline.parsed(spark, sf_dir))


def q_group_by_trace(spark, sf_dir):
    out = trace_ops.group_by_trace(_spans(spark, sf_dir))
    return out.select(
        "trace_id",
        "span_count",
        F.array_join("span_ids", ",").alias("span_ids"),
        "max_duration_ms",
        "error_spans",
    )


O_GROUP_BY_TRACE = (
    _PREFIX
    + _SPANS_CTE
    + """
SELECT trace_id, count(*) AS span_count,
       string_agg(span_id, ',' ORDER BY turn_idx) AS span_ids,
       max(duration_ms) AS max_duration_ms,
       CAST(sum(CASE WHEN status = 'err' THEN 1 ELSE 0 END) AS BIGINT) AS error_spans
FROM spans GROUP BY trace_id
"""
)


def q_span_metrics_exemplars(spark, sf_dir):
    """spanmetrics with exemplars: the 2 slowest spans per series attach as
    (value, id) structs; rendered as an id list for hashing."""
    from ..operators import metrics as metric_ops

    out = metric_ops.span_metrics(
        _spans(spark, sf_dir), dims=["service"], duration_col="duration_ms",
        window_s=86400, exemplars=2,
    )
    return out.select(
        "window_id", "service", "calls",
        F.concat_ws(",", F.transform("exemplars", lambda e: e["id"])).alias("exemplar_ids"),
    )


O_SPAN_EXEMPLARS = (
    _PREFIX
    + _SPANS_CTE
    + """
, w AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id, service, span_id, duration_ms
  FROM spans
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY window_id, service
    ORDER BY duration_ms DESC, span_id DESC) AS rk
  FROM w WHERE duration_ms IS NOT NULL
), ex AS (
  SELECT window_id, service,
         string_agg(span_id, ',' ORDER BY rk) AS exemplar_ids
  FROM ranked WHERE rk <= 2 GROUP BY 1, 2
), calls AS (
  SELECT window_id, service, count(*) AS calls FROM w GROUP BY 1, 2
)
SELECT c.window_id, c.service, c.calls, coalesce(e.exemplar_ids, '') AS exemplar_ids
FROM calls c LEFT JOIN ex e USING (window_id, service)
"""
)


def q_tail_sampling(spark, sf_dir):
    """error status OR latency >= 2000 ms (deterministic policies only)."""
    policies = [
        trace_ops.TailPolicy("status_code", status_codes=["err"]),
        trace_ops.TailPolicy("latency", threshold_ms=2000),
    ]
    out = trace_ops.tail_sample_policies(_spans(spark, sf_dir), policies)
    return out.select("trace_id", "span_id")


O_TAIL_SAMPLING = (
    _PREFIX
    + _SPANS_CTE
    + """
, keep AS (
  SELECT trace_id FROM spans
  GROUP BY trace_id
  HAVING max(CASE WHEN status = 'err' THEN 1 ELSE 0 END) = 1
      OR coalesce(max(duration_ms) >= 2000, FALSE)
)
SELECT s.trace_id, s.span_id FROM spans s JOIN keep USING (trace_id)
"""
)


def q_tail_sampling_policies(spark, sf_dir):
    """Full policy-table engine: AND-composite (error status AND >=8 spans)
    OR a numeric-attribute range policy — deterministic, oracle-checked
    (config.go:12-52 policy set; probabilistic/rate policies covered in
    tests/test_tail_policies.py)."""
    from ..operators.traces import TailPolicy, tail_sample_policies

    policies = [
        TailPolicy(
            "and",
            sub_policies=[
                TailPolicy("status_code", status_codes=["err"]),
                TailPolicy("span_count", min_spans=8),
            ],
        ),
        TailPolicy("numeric_attribute", key="duration_ms", min_value=4800),
    ]
    out = tail_sample_policies(_spans(spark, sf_dir), policies)
    return out.select("trace_id", "span_id")


O_TAIL_POLICIES = (
    _PREFIX
    + _SPANS_CTE
    + """
, keep AS (
  SELECT trace_id FROM spans
  GROUP BY trace_id
  HAVING (max(CASE WHEN status = 'err' THEN 1 ELSE 0 END) = 1 AND count(*) >= 8)
      OR max(CASE WHEN duration_ms >= 4800 THEN 1 ELSE 0 END) = 1
)
SELECT s.trace_id, s.span_id FROM spans s JOIN keep USING (trace_id)
"""
)


def q_service_graph(spark, sf_dir):
    return trace_ops.service_graph(_spans(spark, sf_dir))


O_SERVICE_GRAPH = (
    _PREFIX
    + _SPANS_CTE
    + """
, edges AS (
  SELECT c.service AS client, s.service AS server, s.status, s.duration_ms
  FROM spans c
  JOIN spans s ON s.parent_span_id = c.span_id AND s.trace_id = c.trace_id
)
SELECT client, server,
       count(*) AS request_count,
       CAST(sum(CASE WHEN status = 'err' THEN 1 ELSE 0 END) AS BIGINT) AS failed_count,
       CAST(sum(duration_ms) AS BIGINT) AS duration_sum_ms,
       max(duration_ms) AS duration_max_ms
FROM edges GROUP BY 1, 2
"""
)


def q_exceptions(spark, sf_dir):
    return trace_ops.exceptions_connector(pipeline.parsed(spark, sf_dir))


O_EXCEPTIONS = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
       role AS service, action AS exception_type, count(*) AS exception_count
FROM parsed WHERE level = 'ERROR'
GROUP BY 1, 2, 3
"""
)

# ---------------------------------------------------------------------------
# metricstransform / metricsgeneration
# ---------------------------------------------------------------------------

_SERIES_SQL = """
SELECT user_id, event_type AS metric_name, CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS value
FROM events GROUP BY 1, 2
"""


def _series(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("vi", F.floor(F.col("value") * 1000).cast("bigint"))
        .groupBy("user_id", F.col("event_type").alias("metric_name"))
        .agg(F.sum("vi").alias("value"))
    )


def q_metrics_calculate(spark, sf_dir):
    out = mt.calculate(
        _series(spark, sf_dir),
        keys=["user_id"],
        metric_name_col="metric_name",
        value_col="value",
        metric1="purchase",
        metric2="view",
        operation="percent",
        new_metric="purchase_view_pct",
    )
    return out.select(
        "user_id",
        "metric_name",
        F.floor(F.col("value") * 1000).cast("bigint").alias("value_milli"),
    )


O_METRICS_CALCULATE = f"""
WITH series AS ({_SERIES_SQL}),
pivoted AS (
  SELECT user_id,
         max(CASE WHEN metric_name = 'purchase' THEN value END) AS purchase,
         max(CASE WHEN metric_name = 'view' THEN value END) AS view_v
  FROM series GROUP BY user_id
)
SELECT user_id, 'purchase_view_pct' AS metric_name,
       CAST(floor(CAST(purchase AS DOUBLE) / view_v * 100.0 * 1000) AS BIGINT) AS value_milli
FROM pivoted
WHERE view_v IS NOT NULL AND view_v != 0 AND purchase IS NOT NULL
"""


def q_aggregate_labels(spark, sf_dir):
    return mt.aggregate_labels(
        _series(spark, sf_dir), keep_labels=["metric_name"], value_col="value"
    )


O_AGGREGATE_LABELS = f"""
WITH series AS ({_SERIES_SQL})
SELECT metric_name, CAST(sum(value) AS BIGINT) AS value FROM series GROUP BY 1
"""


def q_aggregate_label_values(spark, sf_dir):
    return mt.aggregate_label_values(
        _series(spark, sf_dir),
        label="metric_name",
        from_values=["click", "view"],
        to_value="interaction",
        keys=["user_id"],
        value_col="value",
    )


O_AGGREGATE_LABEL_VALUES = f"""
WITH series AS ({_SERIES_SQL})
SELECT CASE WHEN metric_name IN ('click', 'view') THEN 'interaction' ELSE metric_name END AS metric_name,
       user_id, CAST(sum(value) AS BIGINT) AS value
FROM series GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# stanza parsers over deterministically constructed lines
# ---------------------------------------------------------------------------

_SYSLOG_LINE = (
    "'<' || CAST(event_id % 192 AS {STR}) || '>Oct ' || CAST(1 + event_id % 28 AS {STR})"
    " || ' 22:14:' || lpad(CAST(event_id % 60 AS {STR}), 2, '0')"
    " || ' host-' || CAST(user_id AS {STR}) || ' app' || CAST(user_id AS {STR})"
    " || '[' || CAST(event_id AS {STR}) || ']: ' || event_type"
)


def q_syslog_parse(spark, sf_dir):
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    ev.createOrReplaceTempView("events")
    line = _SYSLOG_LINE.replace("{STR}", "STRING")
    df = spark.sql(f"SELECT event_id, {line} AS text FROM events")
    out = parse_ops.parse_syslog_rfc3164(df)
    return out.select(
        "event_id", "syslog_facility", "syslog_severity",
        F.unix_timestamp("syslog_ts").alias("syslog_ts_s"),
        "syslog_host", "syslog_app", "syslog_pid", "syslog_msg",
    )


def syslog_oracle() -> str:
    line = _SYSLOG_LINE.replace("{STR}", "VARCHAR")
    return f"""
WITH lines AS (
  SELECT event_id, {line} AS text FROM events
), p AS (
  SELECT event_id,
    CAST(regexp_extract(text, '^<(\\d+)>', 1) AS INT) AS pri,
    regexp_extract(text, '^<\\d+>([A-Z][a-z][a-z] +\\d+ \\d\\d:\\d\\d:\\d\\d)', 1) AS rawts,
    regexp_extract(text, '^<\\d+>[A-Z][a-z][a-z] +\\d+ \\d\\d:\\d\\d:\\d\\d (\\S+)', 1) AS host,
    regexp_extract(text, ' (\\w+)\\[', 1) AS app,
    CAST(regexp_extract(text, '\\[(\\d+)\\]', 1) AS BIGINT) AS pid,
    regexp_extract(text, '\\]: (.*)$', 1) AS msg
  FROM lines
)
SELECT event_id,
  CAST(pri // 8 AS INT) AS syslog_facility,
  CAST(pri % 8 AS INT) AS syslog_severity,
  CAST(floor(epoch(strptime('2024 ' || regexp_replace(rawts, ' +', ' '), '%Y %b %-d %H:%M:%S'))) AS BIGINT) AS syslog_ts_s,
  host AS syslog_host, app AS syslog_app, pid AS syslog_pid, msg AS syslog_msg
FROM p
"""


# RFC5424 line derived from events; SD carries one param so the structured-
# data flatten path is exercised (pkg/stanza/operator/parser/syslog RFC5424)
_SYSLOG5424_LINE = (
    "'<' || CAST(event_id % 192 AS {STR}) || '>1 ' || strftime(ts, '%Y-%m-%dT%H:%M:%SZ')"
    " || ' host-' || CAST(user_id AS {STR}) || ' app' || CAST(user_id % 7 AS {STR})"
    " || ' ' || CAST(event_id AS {STR}) || ' ID' || CAST(event_id % 10 AS {STR})"
    " || ' [ex@32473 iut=\"' || CAST(event_id % 4 AS {STR}) || '\"] ' || event_type"
)


def q_syslog_rfc5424_parse(spark, sf_dir):
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    ev.createOrReplaceTempView("events")
    line = _SYSLOG5424_LINE.replace("{STR}", "STRING").replace(
        "strftime(ts, '%Y-%m-%dT%H:%M:%SZ')", "date_format(ts, 'yyyy-MM-dd\\'T\\'HH:mm:ss\\'Z\\'')"
    )
    df = spark.sql(f"SELECT event_id, {line} AS text FROM events")
    out = parse_ops.parse_syslog_rfc5424(df)
    return out.select(
        "event_id", "syslog_facility", "syslog_severity", "syslog_version",
        F.unix_timestamp("syslog_ts").alias("syslog_ts_s"),
        "syslog_host", "syslog_app", "syslog_pid", "syslog_msgid",
        F.col("syslog_sd")["ex@32473.iut"].alias("sd_iut"),
        "syslog_msg",
    )


def syslog5424_oracle() -> str:
    return """
SELECT event_id,
  CAST((event_id % 192) // 8 AS INT) AS syslog_facility,
  CAST((event_id % 192) % 8 AS INT) AS syslog_severity,
  1 AS syslog_version,
  CAST(floor(epoch(ts)) AS BIGINT) AS syslog_ts_s,
  'host-' || CAST(user_id AS VARCHAR) AS syslog_host,
  'app' || CAST(user_id % 7 AS VARCHAR) AS syslog_app,
  event_id AS syslog_pid,
  'ID' || CAST(event_id % 10 AS VARCHAR) AS syslog_msgid,
  CAST(event_id % 4 AS VARCHAR) AS sd_iut,
  event_type AS syslog_msg
FROM events
"""


def q_schema_translate(spark, sf_dir):
    """schemaprocessor semconv rename (operators/stanza.py schema_rename):
    attribute names translate across schema versions; values untouched."""
    from ..operators import stanza as stanza_ops

    ev = load_table(spark, sf_dir, "events")
    out = stanza_ops.schema_rename(
        ev, {"event_type": "event.name", "user_id": "enduser.id"}
    )
    return out.select(
        "event_id",
        F.col("`event.name`").alias("event.name"),
        F.col("`enduser.id`").alias("enduser.id"),
    )


O_SCHEMA_TRANSLATE = """
SELECT event_id, event_type AS "event.name", user_id AS "enduser.id" FROM events
"""


def resource_detect_oracle() -> str:
    import platform
    import socket

    return (
        f"SELECT event_id, '{socket.gethostname()}' AS host_name, "
        f"'{platform.system().lower()}' AS os_type FROM events"
    )


def q_resource_detect(spark, sf_dir):
    """resourcedetection: plan-time constant resource attributes (system
    detector); the oracle inlines the same host facts, which is exactly the
    'resolved once at startup' semantic."""
    from ..operators import stanza as stanza_ops

    ev = load_table(spark, sf_dir, "events")
    out = stanza_ops.detect_resource(ev, detectors=["system"])
    return out.select("event_id", "host_name", "os_type")


def q_severity_map(spark, sf_dir):
    df = pipeline.parsed(spark, sf_dir)
    return df.select(
        "conv_id", "turn_idx",
        parse_ops.severity_number(F.lower(F.col("level"))).alias("severity_number"),
    )


O_SEVERITY_MAP = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT conv_id, turn_idx,
       CASE lower(level) WHEN 'info' THEN 9 WHEN 'error' THEN 17
            WHEN 'warn' THEN 13 WHEN 'debug' THEN 5 ELSE 0 END AS severity_number
FROM parsed
"""
)


def q_container_parse(spark, sf_dir):
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    df = ev.select(
        "event_id",
        F.concat(
            F.lit('{"log":"evt ' ), F.col("event_type"), F.lit('","stream":"'),
            F.when(F.col("event_id") % 2 == 0, "stdout").otherwise("stderr"),
            F.lit('","time":"2024-01-01T00:00:00Z"}'),
        ).alias("text"),
    )
    out = parse_ops.parse_container_docker(df)
    return out.select(
        "event_id", "container_log", "container_stream",
        F.unix_timestamp("container_time").alias("container_time_s"),
    )


O_CONTAINER_PARSE = """
WITH lines AS (
  SELECT event_id,
    '{"log":"evt ' || event_type || '","stream":"'
      || CASE WHEN event_id % 2 = 0 THEN 'stdout' ELSE 'stderr' END
      || '","time":"2024-01-01T00:00:00Z"}' AS text
  FROM events
)
SELECT event_id,
  json_extract_string(text, '$.log') AS container_log,
  json_extract_string(text, '$.stream') AS container_stream,
  CAST(floor(epoch(CAST(json_extract_string(text, '$.time') AS TIMESTAMP))) AS BIGINT)
    AS container_time_s
FROM lines
"""


def q_uri_parse(spark, sf_dir):
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    df = ev.select(
        "event_id",
        F.concat(
            F.lit("https://svc-"), F.col("user_id").cast("string"),
            F.lit(".example.com/api/"), F.col("event_type"),
            F.lit("?k="), F.col("event_id").cast("string"),
        ).alias("uri"),
    )
    out = parse_ops.parse_uri(df, "uri")
    return out.select("event_id", "uri_scheme", "uri_host", "uri_path", "uri_query")


O_URI_PARSE = """
WITH lines AS (
  SELECT event_id,
    'https://svc-' || CAST(user_id AS VARCHAR) || '.example.com/api/' || event_type
      || '?k=' || CAST(event_id AS VARCHAR) AS uri
  FROM events
)
SELECT event_id,
  regexp_extract(uri, '^([a-z]+)://', 1) AS uri_scheme,
  regexp_extract(uri, '^[a-z]+://([^/?]+)', 1) AS uri_host,
  regexp_extract(uri, '^[a-z]+://[^/?]+(/[^?]*)', 1) AS uri_path,
  regexp_extract(uri, '\\?(.*)$', 1) AS uri_query
FROM lines
"""


# ---------------------------------------------------------------------------
# countconnector required-key skip + default_value (`counter.go:70-73`)
# ---------------------------------------------------------------------------


def q_count_with_defaults(spark, sf_dir):
    from ..operators.aggregate import windowed_count

    df = pipeline.parsed(spark, sf_dir).withColumn(
        "tool_key", F.nullif(F.col("tool"), F.lit(""))
    )
    # 'action' is required (malformed rows lack it -> skipped);
    # 'tool_key' missing -> default 'none'
    return windowed_count(
        df,
        keys=["action", "tool_key"],
        window_s=86400,
        defaults={"tool_key": "none"},
    )


O_COUNT_WITH_DEFAULTS = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
       action, coalesce(nullif(tool, ''), 'none') AS tool_key, count(*) AS n
FROM parsed
WHERE action IS NOT NULL
GROUP BY 1, 2, 3
"""
)


# ---------------------------------------------------------------------------
# signaltometrics / multi-metric-def count connector
# ---------------------------------------------------------------------------


def q_signal_to_metrics(spark, sf_dir):
    from ..operators.signaltometrics import MetricDef, signal_to_metrics

    df = pipeline.parsed(spark, sf_dir)
    out = signal_to_metrics(
        df,
        [
            MetricDef(
                "turns.count",
                kind="count",
                conditions=["parse_ok == true"],
                keys=["role", "action"],
            ),
            MetricDef(
                "latency.total", kind="sum", keys=["role"], source="latency_ms"
            ),
        ],
        window_s=86400,
    )
    dims_str = F.array_join(
        F.transform(
            F.map_entries("dims"), lambda e: F.concat(e["key"], F.lit("="), e["value"])
        ),
        ",",
    )
    return out.select(
        "metric_name",
        "window_id",
        dims_str.alias("dims"),
        F.floor("value").cast("bigint").alias("value_i"),
    )


O_SIGNAL_TO_METRICS = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT 'turns.count' AS metric_name,
       CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
       'role=' || role || ',action=' || action AS dims,
       count(*) AS value_i
FROM parsed
WHERE level IS NOT NULL AND role IS NOT NULL AND action IS NOT NULL
GROUP BY 2, 3
UNION ALL
SELECT 'latency.total',
       CAST(floor(epoch(ts) / 86400) AS BIGINT),
       'role=' || role,
       CAST(floor(sum(CAST(latency_ms AS DOUBLE))) AS BIGINT)
FROM parsed
WHERE role IS NOT NULL
GROUP BY 2, 3
"""
)


# ---------------------------------------------------------------------------
# custom joins: CIDR/range lookup (geoip analog) + as-of join (SCD enrich)
# ---------------------------------------------------------------------------


def q_span_metrics_exponential(spark, sf_dir):
    from ..operators.metrics import span_metrics_exponential

    df = pipeline.parsed(spark, sf_dir).filter(F.col("latency_ms").isNotNull())
    return span_metrics_exponential(df, ["role", "action"], "latency_ms", window_s=86400)


O_SPAN_METRICS_EXP = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
       role, action,
       CAST(CASE WHEN latency_ms >= 1 THEN length(bin(latency_ms)) - 1 ELSE 0 END AS INT)
         AS bucket_idx,
       count(*) AS bucket_count
FROM parsed WHERE latency_ms IS NOT NULL
GROUP BY 1, 2, 3, 4
"""
)


def q_range_lookup(spark, sf_dir):
    from ..operators.joins import range_lookup

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ip_int", F.pmod(F.col("event_id") * 2654435761, F.lit(100000))
    )
    ranges = spark.range(100).select(
        (F.col("id") * 1000).alias("start"),
        (F.col("id") * 1000 + 499).alias("end"),
        F.concat(F.lit("geo-"), F.col("id").cast("string")).alias("geo_label"),
    )
    out = range_lookup(ev, ranges, value_col="ip_int", id_col="event_id")
    return out.select("event_id", "ip_int", "geo_label")


O_RANGE_LOOKUP = """
WITH ev AS (
  SELECT event_id, (event_id * 2654435761) % 100000 AS ip_int FROM events
), ranges AS (
  SELECT r * 1000 AS start_ip, r * 1000 + 499 AS end_ip,
         'geo-' || CAST(r AS VARCHAR) AS geo_label
  FROM range(100) t(r)
)
SELECT e.event_id, e.ip_int, r.geo_label
FROM ev e LEFT JOIN ranges r ON e.ip_int BETWEEN r.start_ip AND r.end_ip
"""


def q_asof_join(spark, sf_dir):
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # deterministic SCD: every 10th event changes its user's "tier"
    dim = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % 10 == 0)
        .select(
            "user_id",
            "ts",
            F.concat(F.lit("tier-"), (F.col("event_id") % 3).cast("string")).alias("tier"),
        )
    )
    out = asof_join(ev, dim, key="user_id", ts_col="ts", value_cols=["tier"])
    return out.select("event_id", "user_id", "tier")


O_ASOF_JOIN = """
WITH dim AS (
  SELECT user_id, ts, 'tier-' || CAST(event_id % 3 AS VARCHAR) AS tier
  FROM events WHERE event_id % 10 = 0
)
SELECT e.event_id, e.user_id, d.tier
FROM events e
ASOF LEFT JOIN dim d ON e.user_id = d.user_id AND e.ts >= d.ts
"""


def q_span_context_transform(spark, sf_dir):
    """transformprocessor trace_statements on the first-class span context
    (`processor/transformprocessor/config.go:34-60`,
    `pkg/ottl/contexts/internal/span.go:40-135`): IsRootSpan gating, kind
    enum rendering, status.code enum comparison, end/start time math — all
    compiled to one Catalyst projection chain, hash-checked vs DuckDB."""
    from ..operators.transform import StatementGroup, transform

    spans = _spans(spark, sf_dir).withColumn(
        "kind", (F.pmod(F.col("turn_idx"), F.lit(5)) + 1).cast("int")
    )
    out = transform(
        spans,
        [
            StatementGroup(
                context="span",
                statements=[
                    'set(attributes["entry_root"], span_id) where IsRootSpan()',
                    'set(attributes["kind_str"], kind.deprecated_string)',
                    'set(attributes["kind_short"], kind.string)',
                    'set(attributes["code"], status.code)',
                    'set(attributes["dur_ns"], end_time_unix_nano - start_time_unix_nano)'
                    " where status.code != STATUS_CODE_UNSET",
                ],
            )
        ],
    )
    return out.select(
        "trace_id",
        "span_id",
        "entry_root",
        "kind_str",
        "kind_short",
        F.col("code").cast("bigint").alias("code"),
        F.col("dur_ns").cast("bigint").alias("dur_ns"),
    )


O_SPAN_CONTEXT_TRANSFORM = (
    _PREFIX
    + _SPANS_CTE
    + """
SELECT trace_id, span_id,
  CASE WHEN parent_span_id IS NULL OR parent_span_id = '' THEN span_id END AS entry_root,
  CASE (turn_idx % 5) + 1
    WHEN 1 THEN 'SPAN_KIND_INTERNAL' WHEN 2 THEN 'SPAN_KIND_SERVER'
    WHEN 3 THEN 'SPAN_KIND_CLIENT' WHEN 4 THEN 'SPAN_KIND_PRODUCER'
    WHEN 5 THEN 'SPAN_KIND_CONSUMER' END AS kind_str,
  CASE (turn_idx % 5) + 1
    WHEN 1 THEN 'Internal' WHEN 2 THEN 'Server'
    WHEN 3 THEN 'Client' WHEN 4 THEN 'Producer'
    WHEN 5 THEN 'Consumer' END AS kind_short,
  CAST(CASE WHEN status = 'err' THEN 2 WHEN status = 'ok' THEN 1 ELSE 0 END AS BIGINT) AS code,
  CASE WHEN status IN ('err', 'ok')
       THEN CAST(coalesce(duration_ms, 0) * 1000000 AS BIGINT) END AS dur_ns
FROM spans
"""
)


def q_metric_context_transform(spark, sf_dir):
    """transformprocessor metric_statements on the first-class
    metric/datapoint context (`pkg/ottl/contexts/internal/metric.go:35-47`,
    `ottldatapoint/datapoint.go:189-259`): metric.name rename gated on
    METRIC_DATA_TYPE enums, unit rewrite, gauge value scaling,
    temporality surfaced as an attribute — one Catalyst projection chain,
    hash-checked vs DuckDB."""
    from ..operators.transform import StatementGroup, transform
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    # deterministic datapoint frame: counters (click/purchase) are
    # monotonic delta SUMs, everything else a GAUGE
    is_sum = F.col("event_type").isin("click", "purchase")
    dp = ev.select(
        "event_id",
        F.col("event_type").alias("metric_name"),
        F.lit("1").alias("unit"),
        F.when(is_sum, F.lit(2)).otherwise(F.lit(1)).alias("metric_type"),
        F.when(is_sum, F.lit(1)).otherwise(F.lit(0)).alias("temporality"),
        is_sum.alias("is_monotonic"),
        "ts",
        F.col("value").alias("vd"),
    )
    out = transform(
        dp,
        [
            StatementGroup(
                context="metric",
                statements=[
                    'set(metric.name, Concat(["app.", metric.name], ""))'
                    " where metric.type == METRIC_DATA_TYPE_SUM",
                    'set(metric.unit, "ms")'
                    " where metric.type == METRIC_DATA_TYPE_GAUGE",
                    "set(vd, value_double * 1000.0)"
                    " where metric.type == METRIC_DATA_TYPE_GAUGE",
                    'set(attributes["temp"], metric.aggregation_temporality)',
                ],
            )
        ],
    )
    return out.select(
        "event_id",
        "metric_name",
        "unit",
        F.col("temp").cast("bigint").alias("temp"),
        F.floor(F.col("vd") * 1000).cast("bigint").alias("vd_milli"),
    )


O_METRIC_CONTEXT_TRANSFORM = """
SELECT event_id,
  CASE WHEN event_type IN ('click','purchase') THEN 'app.' || event_type
       ELSE event_type END AS metric_name,
  CASE WHEN event_type IN ('click','purchase') THEN '1' ELSE 'ms' END AS unit,
  CAST(CASE WHEN event_type IN ('click','purchase') THEN 1 ELSE 0 END AS BIGINT) AS temp,
  CAST(floor(CASE WHEN event_type IN ('click','purchase') THEN value
                  ELSE value * 1000.0 END * 1000) AS BIGINT) AS vd_milli
FROM events
"""


def q_spanevent_context_transform(spark, sf_dir):
    """spanevent-context statements (`ottlspanevent/span_events.go:157-179`):
    every error span emits an 'exception' event at span end; event-level
    name/time paths plus span.* parent access in one projection chain."""
    from ..operators.transform import StatementGroup, transform

    spans = _spans(spark, sf_dir)
    events = spans.filter(F.col("status") == "err").select(
        "trace_id",
        "span_id",
        "parent_span_id",
        "service",
        "status",
        "duration_ms",
        "ts",
        F.lit("exception").alias("event_name"),
        F.timestamp_micros(
            F.unix_micros(F.col("ts").cast("timestamp"))
            + F.coalesce(F.col("duration_ms"), F.lit(0)) * 1000
        ).alias("event_ts"),
    )
    out = transform(
        events,
        [
            StatementGroup(
                context="spanevent",
                statements=[
                    'set(attributes["ev"], name)',
                    'set(attributes["parent_svc"], span.status.message)',
                    'set(attributes["root"], span.span_id.string) where IsRootSpan()',
                    'set(attributes["tn"], time_unix_nano)',
                ],
            )
        ],
    )
    return out.select(
        "trace_id",
        "span_id",
        "ev",
        "parent_svc",
        "root",
        F.col("tn").cast("bigint").alias("tn"),
    )


O_SPANEVENT_CONTEXT = (
    _PREFIX
    + _SPANS_CTE
    + """
SELECT trace_id, span_id, 'exception' AS ev, status AS parent_svc,
  CASE WHEN parent_span_id IS NULL OR parent_span_id = '' THEN span_id END AS root,
  CAST((epoch_us(ts) + coalesce(duration_ms, 0) * 1000) * 1000 AS BIGINT) AS tn
FROM spans WHERE status = 'err'
"""
)


def q_span_rename(spark, sf_dir):
    """spanprocessor pipeline (operators/span.py; `processor/spanprocessor/
    span.go:96-241`): from_attributes rebuilds the name 'op:tool' only
    when BOTH attributes exist; the to_attributes rule then extracts
    payload_id from names the first step left alone, rewriting the
    matched group to a {payload_id} placeholder; set_status(error) stamps
    err turns. from_attributes/set_status are pure projections; the rule
    rewrite is the Arrow-batched faithful port."""
    from ..operators import span as span_ops

    df = pipeline.parsed(spark, sf_dir)
    # empty tool = no tool attribute (1/7 of turns), so the
    # to_attributes branch fires on a real subset
    entries = [
        F.when(
            F.col(k).isNotNull() & (F.col(k) != ""),
            F.struct(F.lit(a).alias("key"), F.col(k).alias("value")),
        )
        for a, k in (("op", "action"), ("tool", "tool"))
    ]
    spans = df.select(
        "conv_id",
        "turn_idx",
        F.coalesce(F.col("msg"), F.lit("")).alias("span_name"),
        F.map_from_entries(
            F.filter(F.array(*entries), lambda x: x.isNotNull())
        ).alias("attributes"),
        "status",
    )
    out = span_ops.rename_from_attributes(
        spans, ["op", "tool"], separator=":"
    )
    out = span_ops.rename_to_attributes(
        out, [r"payload (?<payload_id>[0-9]+)"]
    )
    out = span_ops.set_status(
        out, "error", "downstream failure", where=F.col("status") == "err"
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "span_name",
        F.element_at("attributes", "payload_id").alias("payload_id"),
        F.col("status_code").cast("bigint").alias("status_code"),
        "status_message",
    )


O_SPAN_RENAME = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT conv_id, turn_idx,
       CASE WHEN action IS NOT NULL AND tool <> ''
            THEN action || ':' || tool
            ELSE regexp_replace(coalesce(msg, ''),
                                'payload ([0-9]+)', 'payload {payload_id}')
       END AS span_name,
       CASE WHEN action IS NOT NULL AND tool <> '' THEN NULL
            WHEN regexp_matches(coalesce(msg, ''), 'payload ([0-9]+)')
            THEN regexp_extract(coalesce(msg, ''), 'payload ([0-9]+)', 1)
       END AS payload_id,
       CAST(CASE WHEN status = 'err' THEN 2 ELSE 0 END AS BIGINT) AS status_code,
       CASE WHEN status = 'err' THEN 'downstream failure' ELSE '' END AS status_message
FROM parsed
"""
)


def q_logs_transform(spark, sf_dir):
    """logstransformprocessor (`processor/logstransformprocessor/
    processor.go` + config.go): an ordered stanza-operator chain run as a
    mid-pipeline processor — named-group regex parse with an embedded
    severity block, then move/add/remove field transformers. The whole
    operator list folds into one Catalyst projection over the scan; the
    reference's receiver->processor channel hop has no analog."""
    from .. import datagen
    from . import config as config_mod

    spec = {
        "processors": [
            {
                "type": "logstransform",
                "operators": [
                    {
                        "type": "regex_parser",
                        "regex": (
                            r"^(?P<level>INFO|ERROR|WARN|DEBUG)"
                            r" action=(?P<action>[a-z_]+)"
                            r" latency_ms=(?P<latency_ms>[0-9]+)"
                            r" status=(?P<status>[a-z]+)"
                            r' msg="(?P<message>[^"]*)"'
                        ),
                        "severity": {"parse_from": "level"},
                    },
                    {"type": "move", "from": "message", "to": "msg_text"},
                    {"type": "add", "field": "transform_tag",
                     "value": "logstransform"},
                    {"type": "remove", "fields": ["text", "tool"]},
                ],
            },
        ],
    }
    out = config_mod.build(spark, spec, datagen.transcripts(spark, sf_dir))
    return out.select(
        "conv_id",
        "turn_idx",
        "level",
        "action",
        F.col("latency_ms").cast("bigint").alias("latency_ms"),
        "status",
        "msg_text",
        "severity_number",
        "transform_tag",
    )


_LT_RE = (
    '^(INFO|ERROR|WARN|DEBUG) action=([a-z_]+) latency_ms=([0-9]+)'
    ' status=([a-z]+) msg="([^"]*)"'
)

O_LOGS_TRANSFORM = (
    _PREFIX
    + f"""
SELECT conv_id, turn_idx,
       nullif(regexp_extract(text, '{_LT_RE}', 1), '') AS level,
       nullif(regexp_extract(text, '{_LT_RE}', 2), '') AS action,
       CAST(nullif(regexp_extract(text, '{_LT_RE}', 3), '') AS BIGINT) AS latency_ms,
       nullif(regexp_extract(text, '{_LT_RE}', 4), '') AS status,
       nullif(regexp_extract(text, '{_LT_RE}', 5), '') AS msg_text,
       CASE lower(nullif(regexp_extract(text, '{_LT_RE}', 1), ''))
            WHEN 'info' THEN 9 WHEN 'error' THEN 17
            WHEN 'warn' THEN 13 WHEN 'debug' THEN 5 ELSE 0 END AS severity_number,
       'logstransform' AS transform_tag
FROM transcripts_cte
"""
)
