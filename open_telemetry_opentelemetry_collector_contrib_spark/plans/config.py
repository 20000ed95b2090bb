"""Declarative pipeline assembly: config dict/YAML -> DataFrame program.

The reference assembles its service graph from YAML: typed Config structs
with Validate(), factories constructing processors with all OTTL pre-parsed
at startup (`processor/transformprocessor/internal/logs/processor.go:26-51`,
`connector/countconnector/config.go:54-112`). Same contract here:

- ``validate(spec)`` parses every OTTL condition/statement up front — a bad
  expression fails before any data is read;
- ``build(spark, spec, source_df)`` folds the stage factories into one
  DataFrame program (single Catalyst plan).

Stage registry mirrors the component factory registry
(`pkg/stanza/operator/registry.go:38`); new stage types register with
``@stage("name")``.

Example spec::

    {
      "processors": [
        {"type": "filter", "drop_conditions": ["level == \\"DEBUG\\""]},
        {"type": "transform", "statements": ["set(x, 1)"], "conditions": []},
        {"type": "attributes", "actions": [{"action": "insert", "key": "env",
                                            "value": "prod"}]},
        {"type": "redact", "map_col": "attributes", "blocked_values": ["[0-9]{16}"]},
        {"type": "sample", "key": "conv_id", "percentage": 10.0},
      ],
      "route": {"table": [{"name": "errors", "condition": "level == \\"ERROR\\""}],
                 "match_once": True},
      "aggregate": {"type": "count", "keys": ["route", "role"], "window_s": 3600},
    }
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import enrich as enrich_ops
from ..operators import filter as filter_ops
from ..operators import redact as redact_ops
from ..operators import sample as sample_ops
from ..operators import transform as transform_ops
from ..operators.aggregate import windowed_count, windowed_sum
from ..operators.route import Route, with_route_first_match, with_route_match_all
from ..ottl.functions import go_regex
from ..ottl.parser import parse_condition, parse_statement
from ..sources.tables import local_frame

STAGE_FACTORIES: dict[str, Callable] = {}


def stage(name: str):
    def reg(fn):
        STAGE_FACTORIES[name] = fn
        return fn

    return reg


class ConfigError(ValueError):
    pass


# ---------------------------------------------------------------------------
# stage factories
# ---------------------------------------------------------------------------


@stage("filter")
def _filter(spark, df, cfg):
    return filter_ops.filter_ottl(df, cfg["drop_conditions"])


@stage("transform")
def _transform(spark, df, cfg):
    group = transform_ops.StatementGroup(
        statements=cfg["statements"], conditions=cfg.get("conditions", [])
    )
    return transform_ops.apply_group(df, group)


@stage("attributes")
def _attributes(spark, df, cfg):
    return enrich_ops.apply_attribute_actions(df, cfg["actions"])


@stage("redact")
def _redact(spark, df, cfg):
    return redact_ops.redact(
        df,
        map_col=cfg.get("map_col", "attributes"),
        allowed_keys=cfg.get("allowed_keys"),
        blocked_values=cfg.get("blocked_values"),
        allowed_values=cfg.get("allowed_values"),
        ignored_keys=cfg.get("ignored_keys"),
        summary=cfg.get("summary", True),
    )


@stage("sample")
def _sample(spark, df, cfg):
    return sample_ops.probabilistic_sample(
        df, cfg["key"], cfg["percentage"], seed=cfg.get("seed", 22)
    )


@stage("lookup")
def _lookup(spark, df, cfg):
    dim = local_frame(spark, cfg["rows"], cfg["columns"])
    return enrich_ops.lookup_enrich(df, dim, on=cfg["on"], how=cfg.get("how", "left"))


@stage("sample_otep235")
def _sample_otep(spark, df, cfg):
    return sample_ops.otep235_sample(
        df,
        cfg["percentage"],
        cfg.get("mode", "proportional"),
        trace_id_col=cfg.get("trace_id_col", "trace_id"),
        incoming_threshold_col=cfg.get("incoming_threshold_col"),
        priority_col=cfg.get("sampling_priority"),
        precision=cfg.get("sampling_precision", 4),
    )


@stage("tail_sampling")
def _tail_sampling(spark, df, cfg):
    from ..operators.traces import TailPolicy, tail_sample_policies

    def mk(p: dict) -> TailPolicy:
        sub = [mk(sp) for sp in p.get("sub_policies", [])]
        return TailPolicy(**{**p, "sub_policies": sub})

    return tail_sample_policies(df, [mk(p) for p in cfg["policies"]])


@stage("otlpjson")
def _otlpjson(spark, df, cfg):
    from ..operators.otlpjson import explode_otlp_logs

    return explode_otlp_logs(
        df, body_col=cfg.get("body_col", "body"), keep_cols=cfg.get("keep_cols")
    )


@stage("trace_parser")
def _trace_parser(spark, df, cfg):
    from ..operators import parse as parse_ops

    return parse_ops.parse_trace(
        df,
        cfg.get("trace_id_col", "trace_id"),
        cfg.get("span_id_col", "span_id"),
        cfg.get("flags_col", "trace_flags"),
    )


# ---------------------------------------------------------------------------
# logstransformprocessor: an ordered stanza-operator chain run mid-pipeline
# (`processor/logstransformprocessor/processor.go` wraps a
# pkg/stanza pipeline built from the `operators:` config list). Each
# operator folds into the same single Catalyst plan as the surrounding
# stages — the sub-pipeline is plain column-program composition, so there
# is no materialization boundary between "receiver parsing" and
# "processor parsing" here, unlike the reference's channel hop.
# ---------------------------------------------------------------------------

_STANZA_OPS: dict[str, Callable] = {}


def _stanza_op(name: str):
    def reg(fn):
        _STANZA_OPS[name] = fn
        return fn

    return reg


def _field(name: str) -> str:
    """stanza field syntax 'body.x' / 'attributes.x' -> relational column."""
    for prefix in ("body.", "attributes.", "resource."):
        if name.startswith(prefix):
            return name[len(prefix):]
    return name


def _embedded_parsers(df, op):
    """The optional `timestamp:` / `severity:` blocks every stanza parser
    config embeds (`pkg/stanza/operator/helper/parser.go` ParserConfig)."""
    from ..operators import parse as parse_ops
    from pyspark.sql import functions as F

    t = op.get("timestamp")
    if t:
        df = parse_ops.parse_time(
            df,
            _field(t["parse_from"]),
            t.get("layout_type", "strptime"),
            t.get("layout", "%Y-%m-%d %H:%M:%S"),
            out_col=t.get("out_col", "timestamp"),
        )
    s = op.get("severity")
    if s:
        mapping = parse_ops.severity_mapping(
            s.get("preset", "default"), s.get("mapping")
        )
        df = df.withColumn(
            s.get("out_col", "severity_number"),
            parse_ops.severity_number(F.col(_field(s["parse_from"])), mapping),
        )
    return df


@_stanza_op("regex_parser")
def _st_regex(spark, df, op):
    """Named-capture regex parse: each Go `(?P<name>…)`/`(?<name>…)` group
    becomes a column (`pkg/stanza/operator/parser/regex/parser.go:46-63`);
    rows the pattern misses get NULL fields (on_error=send)."""
    from pyspark.sql import functions as F

    plain, groups = go_regex(op["regex"])
    src = F.col(_field(op.get("parse_from", "text")))
    for gname, gidx in groups.items():
        df = df.withColumn(
            gname, F.nullif(F.regexp_extract(src, plain, gidx), F.lit(""))
        )
    return _embedded_parsers(df, op)


@_stanza_op("json_parser")
def _st_json(spark, df, op):
    """JSON body -> attributes map (`parser/json/parser.go`)."""
    from pyspark.sql import functions as F

    src = F.col(_field(op.get("parse_from", "text")))
    df = df.withColumn(
        op.get("parse_to", "attributes"),
        F.from_json(src, "map<string,string>"),
    )
    return _embedded_parsers(df, op)


@_stanza_op("csv_parser")
def _st_csv(spark, df, op):
    """Positional CSV fields by configured header (`parser/csv`)."""
    from ..operators import stanza as stanza_ops
    from pyspark.sql import functions as F

    src = _field(op.get("parse_from", "text"))
    delim = op.get("delimiter", ",")
    df = df.withColumn("__csv", F.split(F.col(src), re.escape(delim)))
    df = stanza_ops.assign_keys(df, "__csv", op["header"])
    return _embedded_parsers(df.drop("__csv"), op)


@_stanza_op("key_value_parser")
def _st_kv(spark, df, op):
    """k=v pairs -> map (`parser/keyvalue`)."""
    from pyspark.sql import functions as F

    src = F.col(_field(op.get("parse_from", "text")))
    df = df.withColumn(
        op.get("parse_to", "attributes"),
        F.str_to_map(
            src,
            F.lit(re.escape(op.get("pair_delimiter", " "))),
            F.lit(re.escape(op.get("delimiter", "="))),
        ),
    )
    return _embedded_parsers(df, op)


@_stanza_op("severity_parser")
def _st_severity(spark, df, op):
    return _embedded_parsers(df, {"severity": op})


@_stanza_op("time_parser")
def _st_time(spark, df, op):
    return _embedded_parsers(df, {"timestamp": op})


@_stanza_op("uri_parser")
def _st_uri(spark, df, op):
    from ..operators import parse as parse_ops

    return parse_ops.parse_uri(
        df, _field(op["parse_from"]), prefix=op.get("prefix", "uri_")
    )


@_stanza_op("syslog_parser")
def _st_syslog(spark, df, op):
    from ..operators import parse as parse_ops

    src = _field(op.get("parse_from", "text"))
    if op.get("protocol", "rfc3164") == "rfc5424":
        return parse_ops.parse_syslog_rfc5424(df, src)
    return parse_ops.parse_syslog_rfc3164(df, src)


@_stanza_op("add")
def _st_add(spark, df, op):
    from ..operators import stanza as stanza_ops

    return stanza_ops.add(df, _field(op["field"]), op["value"])


@_stanza_op("copy")
def _st_copy(spark, df, op):
    from ..operators import stanza as stanza_ops

    return stanza_ops.copy_field(df, _field(op["from"]), _field(op["to"]))


@_stanza_op("move")
def _st_move(spark, df, op):
    from ..operators import stanza as stanza_ops

    return stanza_ops.move(df, _field(op["from"]), _field(op["to"]))


@_stanza_op("remove")
def _st_remove(spark, df, op):
    from ..operators import stanza as stanza_ops

    fields = op.get("fields") or [op["field"]]
    return stanza_ops.remove(df, [_field(f) for f in fields])


@_stanza_op("retain")
def _st_retain(spark, df, op):
    from ..operators import stanza as stanza_ops

    return stanza_ops.retain(df, [_field(f) for f in op["fields"]])


@stage("logstransform")
def _logstransform(spark, df, cfg):
    for op in cfg.get("operators", []):
        if op["type"] not in _STANZA_OPS:
            raise ConfigError(f"unknown stanza operator {op['type']!r}")
        df = _STANZA_OPS[op["type"]](spark, df, op)
    return df


# ---------------------------------------------------------------------------
# validate + build
# ---------------------------------------------------------------------------


def validate(spec: dict) -> None:
    """Compile every expression up front; raise ConfigError before any scan
    (reference: countconnector parses all OTTL at Validate time,
    `config.go:54-112`)."""
    try:
        for p in spec.get("processors", []):
            if p["type"] not in STAGE_FACTORIES:
                raise ConfigError(f"unknown processor type {p['type']!r}")
            for c in p.get("drop_conditions", []) + p.get("conditions", []):
                parse_condition(c)
            for s in p.get("statements", []):
                parse_statement(s)
            if p["type"] == "logstransform":
                for op in p.get("operators", []):
                    if op.get("type") not in _STANZA_OPS:
                        raise ConfigError(
                            f"unknown stanza operator {op.get('type')!r}"
                        )
                    if "regex" in op:
                        re.compile(go_regex(op["regex"])[0])
                    sev = op.get("severity") or (
                        op if op["type"] == "severity_parser" else None
                    )
                    if sev is not None and sev.get("preset") not in (
                        None, "default", "otel", "aliases", "none",
                    ):
                        raise ConfigError(
                            f"unknown severity preset {sev.get('preset')!r}"
                        )
        route = spec.get("route")
        if route:
            from ..operators.route import parse_request_condition

            for entry in route["table"]:
                if entry.get("context") == "request":
                    parse_request_condition(entry["condition"])
                else:
                    parse_condition(entry["condition"])
                if entry.get("statement"):
                    parse_statement(entry["statement"])
        agg = spec.get("aggregate")
        if agg and agg.get("type") not in (None, "count", "sum"):
            raise ConfigError(f"unknown aggregate type {agg.get('type')!r}")
    except ConfigError:
        raise
    except Exception as e:
        raise ConfigError(f"invalid pipeline spec: {e}") from e


def build(spark: SparkSession, spec: dict, source: DataFrame) -> DataFrame:
    """Fold the configured stages over the source frame."""
    validate(spec)
    df = source
    for p in spec.get("processors", []):
        df = STAGE_FACTORIES[p["type"]](spark, df, p)

    route = spec.get("route")
    if route:
        from ..ottl import LogContext
        from ..ottl.compiler import compile_condition

        from ..operators.route import request_condition

        ctx = LogContext(df)
        table = []
        for e in route["table"]:
            if e.get("context") == "request":
                cond = request_condition(
                    e["condition"], route.get("request_metadata")
                )
            else:
                cond = compile_condition(e["condition"], ctx)
            table.append(Route(e["name"], cond, mutation=e.get("statement")))
        if route.get("match_once", True):
            df = with_route_first_match(df, table)
        else:
            df = with_route_match_all(df, table)

    agg = spec.get("aggregate")
    if agg:
        keyed = dict(
            keys=agg["keys"],
            window_s=agg.get("window_s", 3600),
            ts_col=agg.get("ts_col", "ts"),
            defaults=agg.get("defaults"),
        )
        if agg.get("type", "count") == "count":
            df = windowed_count(df, **keyed)
        else:
            df = windowed_sum(df, source_col=agg["source"], **keyed)
    return df
