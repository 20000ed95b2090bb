"""Parse stage — stanza regex/json parser semantics as Catalyst expressions.

Reference semantics being reproduced:
- regex parser with named capture groups writing fields into attributes
  (`pkg/stanza/operator/parser/regex/parser.go:46-63`). The reference memoizes
  per-row regex results in an LRU cache; vectorized `regexp_extract` makes
  that unnecessary.
- on_error=send semantics (`pkg/stanza/operator/helper/parser.go:26-35`):
  unparseable rows pass through with parse fields empty/null and a
  ``parse_ok`` flag — they are not dropped (drop mode = `.filter(parse_ok)`).
- embedded JSON parsing (`pkg/stanza/operator/parser/json`) via
  ``get_json_object`` — stays inside whole-stage codegen.

Everything here is a plain Column program: Catalyst pushes the regexes into
one projection over the scan; no Python executes per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# The canonical transcript log-line grammar (datagen.py writes it; real
# deployments configure their own field specs).
LEVEL_RE = r"^(INFO|ERROR|WARN|DEBUG) "
ACTION_RE = r"action=([a-z_]+)"
LATENCY_RE = r"latency_ms=([0-9]+)"
STATUS_RE = r"status=([a-z]+)"
MSG_RE = r'msg="([^"]*)"'
PROPS_RE = r"props=(\{.*\})$"


def _nullable_extract(col: Column, pattern: str) -> Column:
    """regexp_extract returns '' on no-match; normalize to NULL like the
    reference leaves absent attributes unset."""
    return F.nullif(F.regexp_extract(col, pattern, 1), F.lit(""))


def parse_transcripts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Structured fields out of the log-line-shaped ``text`` column."""
    text = F.col(text_col)
    return (
        df.withColumn("level", _nullable_extract(text, LEVEL_RE))
        .withColumn("action", _nullable_extract(text, ACTION_RE))
        .withColumn(
            "latency_ms",
            _nullable_extract(text, LATENCY_RE).cast("bigint"),
        )
        .withColumn("status", _nullable_extract(text, STATUS_RE))
        .withColumn("msg", _nullable_extract(text, MSG_RE))
        .withColumn(
            "prop_k",
            F.get_json_object(F.regexp_extract(text, PROPS_RE, 1), "$.k").try_cast(
                "bigint"
            ),
        )
        .withColumn("parse_ok", F.col("level").isNotNull())
    )


# ---------------------------------------------------------------------------
# stanza parser family (`pkg/stanza/operator/parser/*`)
# ---------------------------------------------------------------------------

# RFC3164: "<34>Oct 11 22:14:15 host app[123]: message"
SYSLOG_RFC3164_RE = (
    r"^<(\d{1,3})>([A-Z][a-z]{2}\s+\d{1,2} \d{2}:\d{2}:\d{2}) (\S+) ([^\s:\[]+)(?:\[(\d+)\])?: (.*)$"
)

def _builtin_severity_mapping(preset: str = "default") -> dict[str, int]:
    """stanza severity alias tables (`severity_builder.go:17-85`):
    'otel'/'aliases' = trace..fatal4 + numeric strings 1-24; 'default' adds
    warning/err level aliases; 'none' is empty."""
    if preset == "none":
        return {}
    base = {"trace": 1, "debug": 5, "info": 9, "warn": 13, "error": 17, "fatal": 21}
    m: dict[str, int] = {}
    for name, lv in base.items():
        m[name] = lv
        m[str(lv)] = lv
        for j in (2, 3, 4):
            m[f"{name}{j}"] = lv + j - 1
            m[str(lv + j - 1)] = lv + j - 1
    if preset in ("otel", "aliases"):
        return m
    for j in ("", "2", "3", "4"):  # default preset extras (:74-83)
        m[f"warning{j}"] = m[f"warn{j or ''}" if j else "warn"]
        m[f"err{j}"] = m[f"error{j or ''}" if j else "error"]
    return m


_HTTP_RANGES = {"2xx": (200, 299), "3xx": (300, 399), "4xx": (400, 499), "5xx": (500, 599)}


def severity_mapping(
    preset: str = "default", custom: dict | None = None
) -> dict[str, int]:
    """Builtin preset + custom mapping entries. Custom values may be a
    string/int, a list of them, a {'min': a, 'max': b} range, or the HTTP
    range specials '2xx'..'5xx' (`severity_builder.go:94-104,166-199`)."""
    m = _builtin_severity_mapping(preset)
    aliases = _builtin_severity_mapping("default")
    for sev_name, values in (custom or {}).items():
        sev = aliases.get(str(sev_name).lower())
        if sev is None:
            raise ValueError(f"unknown severity {sev_name!r}")
        vals = values if isinstance(values, list) else [values]
        for v in vals:
            if isinstance(v, dict) and "min" in v and "max" in v:
                for i in range(int(v["min"]), int(v["max"]) + 1):
                    m[str(i)] = sev
            elif isinstance(v, str) and v.lower() in _HTTP_RANGES:
                lo, hi = _HTTP_RANGES[v.lower()]
                for i in range(lo, hi + 1):
                    m[str(i)] = sev
            else:
                m[str(v).lower()] = sev
    return m


# back-compat name: the default alias table
SEVERITY_ALIASES = _builtin_severity_mapping("default")


def severity_number(text_col: Column, mapping: dict[str, int] | None = None) -> Column:
    """stanza severity parser: alias/number text -> numeric severity
    (0 = unknown). One map literal + lookup, codegen-friendly even for
    range-expanded mappings with hundreds of keys."""
    m = mapping if mapping is not None else SEVERITY_ALIASES
    pairs: list[Column] = []
    for k, v in m.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    if not pairs:
        return F.lit(0)
    lookup = F.element_at(F.create_map(*pairs), F.lower(text_col.cast("string")))
    return F.coalesce(lookup, F.lit(0))


def parse_syslog_rfc3164(df: DataFrame, text_col: str = "text", year: int = 2024) -> DataFrame:
    """stanza syslog parser (RFC3164 subset): priority -> facility/severity,
    timestamp (year-less, pinned to ``year``), host, app, pid, message."""
    text = F.col(text_col)
    pri = F.regexp_extract(text, SYSLOG_RFC3164_RE, 1).cast("int")
    return (
        df.withColumn("syslog_facility", (pri / 8).cast("int"))
        .withColumn("syslog_severity", F.pmod(pri, F.lit(8)).cast("int"))
        .withColumn(
            "syslog_ts",
            F.try_to_timestamp(
                F.concat(
                    F.lit(str(year)),
                    F.lit(" "),
                    F.regexp_extract(text, SYSLOG_RFC3164_RE, 2),
                ),
                F.lit("yyyy MMM d HH:mm:ss"),
            ),
        )
        .withColumn("syslog_host", F.nullif(F.regexp_extract(text, SYSLOG_RFC3164_RE, 3), F.lit("")))
        .withColumn("syslog_app", F.nullif(F.regexp_extract(text, SYSLOG_RFC3164_RE, 4), F.lit("")))
        .withColumn("syslog_pid", F.nullif(F.regexp_extract(text, SYSLOG_RFC3164_RE, 5), F.lit("")).try_cast("long"))
        .withColumn("syslog_msg", F.nullif(F.regexp_extract(text, SYSLOG_RFC3164_RE, 6), F.lit("")))
    )


# docker json-file log line: {"log":"...","stream":"stdout","time":"..."}
def parse_container_docker(df: DataFrame, text_col: str = "text") -> DataFrame:
    """stanza container parser, docker format
    (`pkg/stanza/operator/parser/container/parser.go:25-41`)."""
    text = F.col(text_col)
    return (
        df.withColumn("container_log", F.get_json_object(text, "$.log"))
        .withColumn("container_stream", F.get_json_object(text, "$.stream"))
        .withColumn(
            "container_time",
            F.try_to_timestamp(F.get_json_object(text, "$.time")),
        )
    )


# crio / containerd CRI line formats + k8s log-path metadata
# (`pkg/stanza/operator/parser/container/parser.go:25-42`)
CRI_LINE_RE = r"^([^ Z]+Z?) (stdout|stderr) ([^ ]*) ?(.*)$"
K8S_LOGPATH_RE = (
    r"^.*[/\\]([^_]+)_([^_]+)_([a-f0-9\-]+)[/\\]([^._]+)[/\\](\d+)\.log$"
)


def parse_container_cri(
    df: DataFrame, text_col: str = "text", path_col: str | None = None
) -> DataFrame:
    """stanza container parser, crio/containerd formats: CRI line =
    `<time> <stream> <P|F logtag> <log>`, one row per line. Partial (P)
    lines are not joined here: as the reference's parser reuses its
    recombine operator (`parser.go:28,61`), join them with
    ``recombine.recombine(parsed, [source, "container_stream"], order,
    "container_log", is_last_entry=F.col("container_logtag") == "F",
    combine_with="", out_col="container_log")``. Optional k8s log-path
    attribute extraction (namespace/pod/uid/container/restart_count)."""
    text = F.col(text_col)
    out = (
        df.withColumn(
            "container_time", F.try_to_timestamp(F.regexp_extract(text, CRI_LINE_RE, 1))
        )
        .withColumn("container_stream", F.nullif(F.regexp_extract(text, CRI_LINE_RE, 2), F.lit("")))
        .withColumn("container_logtag", F.nullif(F.regexp_extract(text, CRI_LINE_RE, 3), F.lit("")))
        .withColumn("container_log", F.regexp_extract(text, CRI_LINE_RE, 4))
    )
    if path_col is not None:
        pathc = F.col(path_col)
        out = (
            out.withColumn("k8s_namespace", F.nullif(F.regexp_extract(pathc, K8S_LOGPATH_RE, 1), F.lit("")))
            .withColumn("k8s_pod_name", F.nullif(F.regexp_extract(pathc, K8S_LOGPATH_RE, 2), F.lit("")))
            .withColumn("k8s_pod_uid", F.nullif(F.regexp_extract(pathc, K8S_LOGPATH_RE, 3), F.lit("")))
            .withColumn("k8s_container_name", F.nullif(F.regexp_extract(pathc, K8S_LOGPATH_RE, 4), F.lit("")))
            .withColumn("k8s_restart_count", F.nullif(F.regexp_extract(pathc, K8S_LOGPATH_RE, 5), F.lit("")).try_cast("int"))
        )
    return out


def parse_uri(df: DataFrame, uri_col: str, prefix: str = "uri_") -> DataFrame:
    """stanza uri parser: decompose into scheme/host/port/path/query map."""
    u = F.col(uri_col)
    return (
        df.withColumn(f"{prefix}scheme", F.parse_url(u, F.lit("PROTOCOL")))
        .withColumn(f"{prefix}host", F.parse_url(u, F.lit("HOST")))
        .withColumn(f"{prefix}path", F.parse_url(u, F.lit("PATH")))
        .withColumn(f"{prefix}query", F.parse_url(u, F.lit("QUERY")))
    )


# RFC5424: "<165>1 2003-10-11T22:14:15.003Z host app 1234 ID47 [sd@id k="v"] msg"
# (`pkg/stanza/operator/parser/syslog/config.go:23`; RFC 5424 ABNF)
SYSLOG_RFC5424_RE = (
    r"^<(\d{1,3})>(\d{1,2}) (\S+) (\S+) (\S+) (\S+) (\S+) (-|(?:\[[^\]]*\])+)(?: (.*))?$"
)


def parse_syslog_rfc5424(df: DataFrame, text_col: str = "text") -> DataFrame:
    """stanza syslog parser, RFC5424 protocol: PRI/VERSION, ISO-8601
    timestamp, hostname/app/procid/msgid ('-' = nil), structured-data
    flattened to a map keyed '<sd-id>.<param>', free-form message.

    The first six fields are space-delimited by the RFC, so they come from
    ONE split instead of re-matching the full-line regex once per group
    (which measured ~2.5x slower); only the short SD+MSG remainder and the
    PRI header see a regex.
    """
    text = F.col(text_col)
    valid = text.rlike(r"^<\d{1,3}>\d{1,2} ")
    parts = F.split(text, " ", 7)

    def g_part(i: int) -> Column:
        # F.get: null on short rows (element_at would throw under ANSI)
        return F.when(valid, F.nullif(F.get(parts, i), F.lit("")))

    def nil_dash(c: Column) -> Column:
        return F.when(c == "-", F.lit(None)).otherwise(c)

    pri = F.nullif(
        F.regexp_extract(F.get(parts, 0), r"^<(\d{1,3})>(\d{1,2})$", 1), F.lit("")
    ).cast("int")
    pri = F.when(valid, pri)
    version = F.nullif(
        F.regexp_extract(F.get(parts, 0), r"^<(\d{1,3})>(\d{1,2})$", 2), F.lit("")
    ).cast("int")
    remainder = g_part(6)
    sd = F.nullif(F.regexp_extract(remainder, r"^(-|(?:\[[^\]]*\])+)", 1), F.lit(""))
    msg = F.nullif(
        F.regexp_extract(remainder, r"^(?:-|(?:\[[^\]]*\])+)(?: (.*))?$", 1), F.lit("")
    )
    sd_id = F.regexp_extract(sd, r"^\[([^\s\]]+)", 1)
    sd_keys = F.regexp_extract_all(sd, F.lit(r'([\w@.\-]+)="[^"]*"'), 1)
    sd_vals = F.regexp_extract_all(sd, F.lit(r'[\w@.\-]+="([^"]*)"'), 1)
    sd_map = F.when(
        sd.isNotNull() & (sd != "-"),
        F.map_from_arrays(
            F.transform(sd_keys, lambda k: F.concat(sd_id, F.lit("."), k)), sd_vals
        ),
    )
    return (
        df.withColumn("syslog_facility", (pri / 8).cast("int"))
        .withColumn("syslog_severity", F.pmod(pri, F.lit(8)).cast("int"))
        .withColumn("syslog_version", version)
        .withColumn("syslog_ts", F.try_to_timestamp(nil_dash(g_part(1))))
        .withColumn("syslog_host", nil_dash(g_part(2)))
        .withColumn("syslog_app", nil_dash(g_part(3)))
        .withColumn("syslog_pid", nil_dash(g_part(4)).try_cast("long"))
        .withColumn("syslog_msgid", nil_dash(g_part(5)))
        .withColumn("syslog_sd", sd_map)
        .withColumn("syslog_msg", msg)
    )


_HEX_RE = "^(?:[0-9a-fA-F]{2})+$"


def parse_trace(
    df: DataFrame,
    trace_id_col: str = "trace_id",
    span_id_col: str = "span_id",
    flags_col: str = "trace_flags",
) -> DataFrame:
    """stanza trace parser (`pkg/stanza/operator/helper/trace.go:78-111`):
    best-effort hex decode of trace_id/span_id/trace_flags — invalid hex
    becomes NULL (error_mode=ignore analog), valid values normalize to
    lowercase hex."""
    out = df
    for col in (trace_id_col, span_id_col, flags_col):
        if col in df.columns:
            c = F.col(col).cast("string")
            out = out.withColumn(
                col, F.when(c.rlike(_HEX_RE), F.lower(c))
            )
    return out


def parse_scope(
    df: DataFrame, parse_from: str, out_col: str = "scope_name"
) -> DataFrame:
    """stanza scope_name parser (`pkg/stanza/operator/helper/scope_name.go`):
    copy the logger-name field into the instrumentation scope."""
    return df.withColumn(out_col, F.col(parse_from).cast("string"))


def parse_json_array(
    df: DataFrame,
    text_col: str = "text",
    header: str | None = None,
    out_col: str = "parsed",
) -> DataFrame:
    """stanza jsonarray parser (`pkg/stanza/operator/parser/jsonarray/
    parser.go:24-70`): a JSON array body becomes an array of string-rendered
    scalars, or — with a comma-delimited ``header`` — a map keyed by the
    header fields (nested objects stay JSON strings, like the reference)."""
    arr = F.from_json(F.col(text_col), "array<string>")
    if header is None:
        return df.withColumn(out_col, arr)
    fields = header.split(",")
    pairs = [
        F.struct(F.lit(f).alias("key"), F.get(arr, i).alias("value"))
        for i, f in enumerate(fields)
    ]
    return df.withColumn(out_col, F.map_from_entries(F.array(*pairs)))


# ---------------------------------------------------------------------------
# stanza time parser: gotime + epoch layout types
# (`pkg/stanza/operator/helper/time.go:22-97`; strptime lives in
#  ottl/functions.py strptime_to_java)
# ---------------------------------------------------------------------------

# Go reference-time tokens -> Java pattern, longest-first so '15' wins
# over '1' and '2006' over '06'
_GOTIME_TOKENS = [
    ("2006", "yyyy"), ("Monday", "EEEE"), ("January", "MMMM"),
    ("Jan", "MMM"), ("Mon", "EEE"),
    (".000000000", ".SSSSSSSSS"), (".000000", ".SSSSSS"), (".000", ".SSS"),
    ("15", "HH"), ("01", "MM"), ("02", "dd"), ("03", "hh"), ("04", "mm"),
    ("05", "ss"), ("06", "yy"),
    ("Z07:00", "XXX"), ("Z0700", "XX"), ("-07:00", "xxx"), ("-0700", "xx"),
    ("MST", "zz"), ("PM", "a"), ("pm", "a"),
    ("2", "d"), ("1", "M"), ("3", "h"), ("4", "m"), ("5", "s"),
]


def gotime_to_java(layout: str) -> str:
    """Go time.Parse reference layout ('2006-01-02 15:04:05') -> Java
    SimpleDateFormat pattern. Non-token letters are quoted."""
    out: list[str] = []
    i = 0
    while i < len(layout):
        for tok, java in _GOTIME_TOKENS:
            if layout.startswith(tok, i):
                out.append(java)
                i += len(tok)
                break
        else:
            c = layout[i]
            out.append(f"'{c}'" if c.isalpha() else c)
            i += 1
    return "".join(out)


def parse_time(
    df: DataFrame,
    parse_from: str,
    layout_type: str = "strptime",
    layout: str = "%Y-%m-%d %H:%M:%S",
    out_col: str = "timestamp",
) -> DataFrame:
    """stanza time parser: strptime / gotime / epoch layout types.

    epoch layouts: 's', 'ms', 'us', 'ns' (integer) and 's.ms', 's.us',
    's.ns' (fractional seconds) — time.go:93,182-227. Unparseable values
    -> NULL (on_error=send)."""
    src = F.col(parse_from)
    if layout_type == "epoch":
        v = src.cast("string").try_cast("double")
        div = {"s": 1.0, "ms": 1e3, "us": 1e6, "ns": 1e9,
               "s.ms": 1.0, "s.us": 1.0, "s.ns": 1.0}
        if layout not in div:
            raise ValueError(f"bad epoch layout {layout!r}")
        ts = F.timestamp_micros((v / div[layout] * 1e6).cast("long"))
        return df.withColumn(out_col, ts)
    if layout_type == "gotime":
        fmt = gotime_to_java(layout)
    elif layout_type == "strptime":
        from ..ottl.functions import strptime_to_java

        fmt = strptime_to_java(layout)
    else:
        raise ValueError(f"unknown layout_type {layout_type!r}")
    return df.withColumn(out_col, F.try_to_timestamp(src, F.lit(fmt)))
