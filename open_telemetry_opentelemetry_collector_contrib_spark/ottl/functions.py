"""OTTL function registry: editors + converters compiled to Columns.

Registry shape mirrors the reference's factory map
(`pkg/ottl/ottlfuncs/functions.go:11-105`): editors are lowercase mutators,
converters are uppercase pure functions. Each entry here is a builder that
receives compiled argument columns and returns a Column (converters) or a
transformed DataFrame (editors). Signatures follow each function's
``Arguments`` struct (`pkg/ottl/ottlfuncs/func_<name>.go`).

Divergences (documented):
- ``ConvertCase`` camel mode approximates Go strcase for multi-rune edge
  cases.
- ``ParseKeyValue``: splitting is guarded by double-quote parity only — a
  pair/kv delimiter inside a *single*-quoted segment still splits
  (parseutils.SplitString protects both quote kinds). Surrounding quotes
  (double or single) are stripped one layer from keys and values; a
  malformed pair (no kv delimiter) yields a NULL map (reference returns a
  parse error; under error_mode=ignore both leave the target untouched).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ast import FuncCall, Literal, Path
from .compiler import LogContext, OTTLCompileError, TypedCol, compile_bool, compile_value

# ---------------------------------------------------------------------------
# Enums (severity symbol table, `pkg/ottl/contexts/ottllog/log.go:156-182`)
# ---------------------------------------------------------------------------

ENUMS: dict[str, int] = {"SEVERITY_NUMBER_UNSPECIFIED": 0}
for _i, _name in enumerate(("TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL")):
    base = _i * 4 + 1
    ENUMS[f"SEVERITY_NUMBER_{_name}"] = base
    for _j in (2, 3, 4):
        ENUMS[f"SEVERITY_NUMBER_{_name}{_j}"] = base + _j - 1

# span + metric symbol tables (`pkg/ottl/contexts/internal/span.go:28-39`,
# `internal/metric.go:18-28`); the reference scopes symbol tables per
# context, but names never collide
from .metric_context import METRIC_ENUMS as _METRIC_ENUMS  # noqa: E402
from .span_context import SPAN_ENUMS as _SPAN_ENUMS  # noqa: E402

ENUMS.update(_SPAN_ENUMS)
ENUMS.update(_METRIC_ENUMS)


# windows-1252 vs ISO-8859-1: only 0x80-0x9F differ; the 5 undefined cp1252
# bytes (81 8D 8F 90 9D) pass through as C1 controls (Java charset behavior)
_CP1252_TRANSLATE = (
    "\x80\x82\x83\x84\x85\x86\x87\x88\x89\x8a\x8b\x8c\x8e"
    "\x91\x92\x93\x94\x95\x96\x97\x98\x99\x9a\x9b\x9c\x9e\x9f",
    "€‚ƒ„…†‡ˆ‰Š‹ŒŽ"
    "‘’“”•–—˜™š›œžŸ",
)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _fnv1a64_one(x):
    """Exact Go hash/fnv FNV-1a 64-bit of one value, surfaced as int64
    two's complement (the widening pdata PutInt performs)."""
    if x is None:
        return None
    h = 14695981039346656037
    for b in str(x).encode("utf-8"):
        h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
    return h - (1 << 64) if h >= (1 << 63) else h


def _fnv1a64_py(s):
    """_fnv1a64_one over a pandas string Series."""
    return s.map(_fnv1a64_one)


def _double_bits_py(s):
    """IEEE-754 bits of float64 as int64 (Java Double.doubleToLongBits)."""
    import numpy as np

    return s.astype("float64").to_numpy().view(np.int64)


def _fnv1a64_udf(col: Column) -> Column:
    from pyspark.sql.functions import pandas_udf

    # nondeterministic only to Catalyst: a filter on the output (say an
    # aggregate's required-key filter) is then not pushed below the
    # projection as a copy of the UDF, so each row crosses the Python
    # boundary once instead of twice
    return pandas_udf(_fnv1a64_py, "long").asNondeterministic()(col)


def _double_bits_udf(col: Column) -> Column:
    from pyspark.sql.functions import pandas_udf

    def f(s):
        import pandas as pd

        # mask nulls BEFORE the bit view: astype('float64') turns None into
        # NaN, whose bit pattern (fff8000000000000) is not null — nulls must
        # propagate like the int/bool/string Hex branches do.
        out = pd.Series(_double_bits_py(s.fillna(0.0)), index=s.index, dtype="Int64")
        out[s.isna()] = pd.NA
        return out

    return pandas_udf(f, "long")(col)


def _lit_of(node, what: str):
    if isinstance(node, Literal):
        return node.value
    raise OTTLCompileError(f"{what} must be a literal, got {node!r}")


def _glob_to_like(glob: str) -> str:
    out = glob.replace("\\", "\\\\").replace("%", r"\%").replace("_", r"\_")
    return out.replace("*", "%").replace("?", "_")


_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)")
_DUR_UNIT = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_go_duration(s: str) -> float:
    """Go time.ParseDuration subset -> seconds (float)."""
    matches = _DUR_RE.findall(s)
    if not matches or "".join(f"{n}{u}" for n, u in matches) != s.lstrip("+-"):
        raise OTTLCompileError(f"bad duration literal {s!r}")
    sec = sum(float(n) * _DUR_UNIT[u] for n, u in matches)
    return -sec if s.startswith("-") else sec


_STRPTIME_TO_JAVA = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%j": "DDD",
    "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS",
    "%b": "MMM", "%B": "MMMM", "%a": "EEE", "%A": "EEEE", "%p": "a",
    "%z": "XX", "%Z": "zz", "%%": "%",
}


def strptime_to_java(fmt: str) -> str:
    """ctime/strptime directives -> Java SimpleDateFormat pattern
    (reference uses strptime layouts, `pkg/stanza/operator/helper/time.go:39-46`)."""
    out: list[str] = []
    i = 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i : i + 2]
            if d not in _STRPTIME_TO_JAVA:
                raise OTTLCompileError(f"unsupported strptime directive {d}")
            out.append(_STRPTIME_TO_JAVA[d])
            i += 2
        elif fmt[i].isalpha():
            out.append(f"'{fmt[i]}'")
            i += 1
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def go_regex(pattern: str) -> tuple[str, dict[str, int]]:
    """Go (RE2) regex -> (the same regex with its group names removed,
    {group name: 1-based capture-group index}).

    Go names a group ``(?P<name>...)`` or ``(?<name>...)``. Java rejects
    ``_`` in group names and Python the ``(?<name>...)`` form, so the names
    are dropped and callers read groups by index, which both engines count
    like Go: escaped parens, parens inside character classes and
    ``(?:...)``/flag/lookaround groups do not count. A name may hold any
    character but ``>`` (grok aliases carry dots); a repeated name maps to
    its last group.
    """
    named = re.compile(r"\(\?P?<([^>=!][^>]*)>")
    out: list[str] = []
    groups: dict[str, int] = {}
    count = 0
    i = 0
    in_class = False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            out.append(pattern[i : i + 2])
            i += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(":
            m = named.match(pattern, i)
            if m:
                count += 1
                groups[m.group(1)] = count
                out.append("(")
                i = m.end()
                continue
            if not pattern.startswith("(?", i):
                count += 1
        out.append(c)
        i += 1
    return "".join(out), groups


_GO_TEMPLATE_TOKEN = re.compile(r"\\|\$(?:\$|\{([A-Za-z0-9_]+)\}([0-9]?)|([A-Za-z0-9_]+))?")


def go_replacement(template: str, groups: dict[str, int]) -> str:
    """Go ``Regexp.Expand`` replacement template -> Java replacement, for a
    pattern translated by ``go_regex``: ``$name``, ``${name}`` and ``$n``
    become ``$<index>`` (an unknown name expands to nothing, as in Go),
    ``$$`` and a ``$`` that starts no reference are a literal ``$``, and
    Java's escape character ``\\`` is escaped."""

    def token(m: re.Match) -> str:
        name = m.group(1) or m.group(3)
        if m.group(0) == "\\":
            return "\\\\"
        if name is None:
            return "\\$"
        idx = int(name) if name.isdigit() else groups.get(name)
        # a digit right after ${name} is text, not part of the Java ref
        after = "\\" + m.group(2) if m.group(2) else ""
        return (f"${idx}" if idx is not None else "") + after

    return _GO_TEMPLATE_TOKEN.sub(token, template)


def _extract_map(text: Column, pattern: str) -> TypedCol:
    """Named capture groups -> map of the non-empty ones, read by group index.

    Stays JVM-side (one regexp_extract per group); Catalyst subexpression
    elimination shares the match work within a projection.
    """
    plain, groups = go_regex(pattern)
    if not groups:
        raise OTTLCompileError("ExtractPatterns requires named capture groups")
    entries = []
    for n, i in groups.items():
        c = F.regexp_extract(text, plain, i)
        entries.append(F.when(c != "", F.struct(F.lit(n).alias("key"), c.alias("value"))))
    arr = F.filter(F.array(*entries), lambda x: x.isNotNull())
    return TypedCol(F.map_from_entries(arr), "map")


# ---------------------------------------------------------------------------
# Converters
# ---------------------------------------------------------------------------


def _conv_len(a: TypedCol) -> TypedCol:
    if a.t == "string":
        return TypedCol(F.length(a.col).cast("long"), "int")
    if a.t in ("slice", "map"):
        return TypedCol(F.size(a.col).cast("long"), "int")
    return TypedCol(F.coalesce(F.length(a.col.cast("string")).cast("long"), F.size(a.col)), "int")


def _conv_convert_case(a: TypedCol, case: str) -> TypedCol:
    c = a.col
    if case == "lower":
        return TypedCol(F.lower(c), "string")
    if case == "upper":
        return TypedCol(F.upper(c), "string")
    if case == "snake":
        s = F.regexp_replace(c, r"([a-z0-9])([A-Z])", r"$1_$2")
        s = F.regexp_replace(s, r"[\s-]+", "_")
        return TypedCol(F.lower(s), "string")
    if case == "camel":
        s = F.regexp_replace(c, r"[_\s-]+", " ")
        s = F.regexp_replace(F.initcap(s), r" ", "")
        return TypedCol(s, "string")
    raise OTTLCompileError(f"ConvertCase: unknown case {case!r}")


def _is_type(a: TypedCol, t: str) -> TypedCol:
    if a.t == "any":
        raise OTTLCompileError(f"Is{t} on dynamically-typed value unsupported on typed frames")
    match = {"Bool": "bool", "Int": "int", "Double": "float", "String": "string",
             "Map": "map", "List": "slice"}[t]
    return TypedCol(F.when(a.col.isNull(), F.lit(False)).otherwise(F.lit(a.t == match)), "bool")


def call_converter(call: FuncCall, ctx: LogContext) -> TypedCol:
    name = call.name
    args = list(call.args)
    named = dict(call.named)

    def val(i: int) -> TypedCol:
        return compile_value(args[i], ctx)

    if name == "Int":
        # try_cast: bad input -> nil, not a job failure (error_mode=ignore;
        # ANSI mode would throw on malformed strings)
        return TypedCol(val(0).col.try_cast("long"), "int")
    if name == "Double":
        return TypedCol(val(0).col.try_cast("double"), "float")
    if name == "String":
        a = val(0)
        if a.t == "time":
            return TypedCol(F.date_format(a.col, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"), "string")
        if a.t in ("map", "slice"):
            # reference renders maps/slices as JSON (func_string.go)
            return TypedCol(F.to_json(a.col), "string")
        return TypedCol(a.col.cast("string"), "string")
    if name in ("IsBool", "IsInt", "IsDouble", "IsString", "IsMap", "IsList"):
        return _is_type(val(0), name[2:])
    if name == "Concat":
        delim = _lit_of(args[1], "Concat delimiter")
        items = compile_value(args[0], ctx)
        if isinstance(args[0], FuncCall) and args[0].name == "__list__":
            cols = [compile_value(a, ctx).col.cast("string") for a in args[0].args]
            return TypedCol(F.concat_ws(delim, *cols), "string")
        return TypedCol(F.concat_ws(delim, items.col), "string")
    if name == "ConvertCase":
        return _conv_convert_case(val(0), _lit_of(args[1], "ConvertCase case"))
    if name == "Split":
        delim = _lit_of(args[1], "Split delimiter")
        return TypedCol(F.split(val(0).col, re.escape(delim)), "slice")
    if name == "Substring":
        start = _lit_of(args[1], "Substring start")
        length = _lit_of(args[2], "Substring length")
        return TypedCol(F.substring(val(0).col, start + 1, length), "string")
    if name == "Format":
        fmt = _lit_of(args[0], "Format string")
        cols = [compile_value(a, ctx).col for a in args[1].args] if len(args) > 1 else []
        return TypedCol(F.format_string(fmt, *cols), "string")
    if name == "Len":
        return _conv_len(val(0))
    if name == "Log":
        return TypedCol(F.log(val(0).col.cast("double")), "float")
    if name == "IsMatch":
        pattern = _lit_of(args[1], "IsMatch pattern")
        return TypedCol(val(0).col.cast("string").rlike(go_regex(pattern)[0]), "bool")
    if name == "ExtractPatterns":
        pattern = _lit_of(args[1], "ExtractPatterns pattern")
        return _extract_map(val(0).col.cast("string"), pattern)
    if name == "ExtractGrokPatterns":
        from ..functions.grok import grok_extract_map_udf, grok_to_regex

        pattern = _lit_of(args[1], "grok pattern")
        only_named = bool(named.get("namedCapturesOnly", Literal(True, "bool")).value) if isinstance(named.get("namedCapturesOnly"), Literal) else True
        if len(args) > 2 and isinstance(args[2], Literal):
            only_named = bool(args[2].value)
        # patternDefinitions: list of "NAME=pattern" strings
        # (func_extract_grok_patterns.go:21,46-58)
        defs = None
        pd_node = named.get("patternDefinitions")
        if pd_node is None and len(args) > 3:
            pd_node = args[3]
        if isinstance(pd_node, FuncCall) and pd_node.name == "__list__":
            defs = {}
            for item in pd_node.args:
                raw = _lit_of(item, "patternDefinition")
                if "=" not in raw:
                    raise OTTLCompileError(f"bad pattern definition {raw!r}")
                k, v = raw.split("=", 1)
                defs[k] = v
        regex = grok_to_regex(
            pattern, named_captures_only=only_named, pattern_definitions=defs
        )
        text = val(0).col.cast("string")
        if len(go_regex(regex)[1]) >= 4:
            # composite patterns: k regexp_extract calls re-match the big
            # expanded regex k times per row; one Arrow-batched match wins
            return TypedCol(grok_extract_map_udf(text, regex), "map")
        return _extract_map(text, regex)
    if name == "ParseJSON":
        return TypedCol(F.from_json(val(0).col, "map<string,string>"), "map")
    if name == "ParseKeyValue":
        delim = _lit_of(args[1], "kv delim") if len(args) > 1 else "="
        pair = _lit_of(args[2], "pair delim") if len(args) > 2 else " "
        # parseutils.ParseKeyValuePairs honors double quotes: a delimiter
        # inside quotes is data. JVM-side via the quote-parity lookahead
        # (split only where an EVEN number of quotes follows), then strip
        # one layer of surrounding double OR single quotes from keys and
        # values (parseutils.SplitString strips both) — stays composable
        # inside higher-order functions (merge_maps), unlike a Python UDF.
        # A pair lacking the kv delimiter is a parse error in the reference
        # (parseutils.ParseKeyValuePairs "cannot split ... into 2 items");
        # surfaced here as a NULL result, which under error_mode=ignore
        # makes the statement a no-op — same observable outcome.
        outside = '(?=(?:[^"]*"[^"]*")*[^"]*$)'
        pair_re = re.escape(pair) + outside
        delim_re = re.escape(delim) + outside

        def _unq(c):
            return (
                F.when(c.rlike('^".*"$'), F.regexp_replace(c, '^"(.*)"$', "$1"))
                .when(c.rlike("^'.*'$"), F.regexp_replace(c, "^'(.*)'$", "$1"))
                .otherwise(c)
            )

        parts = F.filter(
            F.split(F.trim(val(0).col), pair_re), lambda p: F.trim(p) != ""
        )
        entries = F.transform(
            parts,
            lambda p: F.struct(
                _unq(F.trim(F.split(p, delim_re, 2)[0])).alias("key"),
                _unq(F.trim(F.split(p, delim_re, 2)[1])).alias("value"),
            ),
        )
        malformed = F.exists(parts, lambda p: F.size(F.split(p, delim_re, 2)) < 2)
        return TypedCol(F.when(~malformed, F.map_from_entries(entries)), "map")
    if name == "ParseCSV":
        # func_parse_csv.go:28-38: delimiter, headerDelimiter (defaults to
        # delimiter), mode strict|lazyQuotes|ignoreQuotes. strict/lazyQuotes
        # run through from_csv (JVM CSV reader: quote-aware); ignoreQuotes
        # is a plain split (quotes are data).
        header = _lit_of(args[1], "ParseCSV header")
        nmap = dict(call.named)
        # optional params may be positional (target, header, delimiter,
        # headerDelimiter, mode — `e2e_test.go:610`) or named
        d = hd = mode = None
        if len(args) > 2:
            d = _lit_of(args[2], "delimiter")
        if len(args) > 3:
            hd = _lit_of(args[3], "headerDelimiter")
        if len(args) > 4:
            mode = _lit_of(args[4], "mode")
        if "delimiter" in nmap:
            d = _lit_of(nmap["delimiter"], "delimiter")
        if "headerDelimiter" in nmap:
            hd = _lit_of(nmap["headerDelimiter"], "headerDelimiter")
        if "mode" in nmap:
            mode = _lit_of(nmap["mode"], "mode")
        d = d if d is not None else ","
        hd = hd if hd is not None else d
        mode = mode if mode is not None else "strict"
        fields = header.split(hd)
        if mode == "ignoreQuotes":
            parts = F.split(val(0).col, re.escape(d))
            pairs = [
                F.struct(F.lit(f).alias("key"), F.element_at(parts, i + 1).alias("value"))
                for i, f in enumerate(fields)
            ]
            return TypedCol(F.map_from_entries(F.array(*pairs)), "map")
        if mode not in ("strict", "lazyQuotes"):
            raise OTTLCompileError(f"ParseCSV: unknown mode {mode!r}")
        schema = ", ".join(f"`{f}` STRING" for f in fields)
        parsed = F.from_csv(
            val(0).col, F.lit(schema), {"sep": d, "mode": "PERMISSIVE"}
        )
        pairs = [
            F.struct(F.lit(f).alias("key"), parsed[f].alias("value"))
            for f in fields
        ]
        return TypedCol(F.map_from_entries(F.array(*pairs)), "map")
    if name == "MD5":
        return TypedCol(F.md5(val(0).col.cast("string")), "string")
    if name == "SHA1":
        return TypedCol(F.sha1(val(0).col.cast("string")), "string")
    if name == "SHA256":
        return TypedCol(F.sha2(val(0).col.cast("string"), 256), "string")
    if name == "SHA512":
        return TypedCol(F.sha2(val(0).col.cast("string"), 512), "string")
    if name == "FNV":
        # exact Go hash/fnv FNV-1a 64 (func_fnv.go) — a per-byte loop in an
        # Arrow-batched UDF; the boundary crossing, not the loop, is its cost
        return TypedCol(_fnv1a64_udf(val(0).col.cast("string")), "int")
    if name == "Hex":
        # func_hex.go hex-encodes the Go value's bytes: int64 -> 8 bytes,
        # float64 -> IEEE bits, bool -> 1 byte, string -> utf-8 bytes
        a = val(0)
        if a.t == "bool":
            return TypedCol(
                F.when(a.col, F.lit("01")).otherwise(F.lit("00")), "string"
            )
        if a.t == "float":
            bits = _double_bits_udf(a.col.cast("double"))
            return TypedCol(F.lpad(F.lower(F.hex(bits)), 16, "0"), "string")
        h = F.lower(F.hex(a.col))
        if a.t == "int":
            h = F.lpad(h, 16, "0")
        return TypedCol(h, "string")
    if name == "Base64Decode":
        return TypedCol(F.unbase64(val(0).col).cast("string"), "string")
    if name == "Decode":
        # func_decode.go: base64 variants, hex, plus IANA charsets — the
        # charset path maps to Spark's decode() (JVM charset support)
        encoding = _lit_of(args[1], "Decode encoding") if len(args) > 1 else "base64"
        if encoding in ("base64", "base64-raw", "base64-url"):
            return TypedCol(F.unbase64(val(0).col).cast("string"), "string")
        if encoding in ("hex",):
            return TypedCol(F.unhex(val(0).col).cast("string"), "string")
        charsets = {
            "us-ascii": "US-ASCII", "ascii": "US-ASCII",
            "utf8": "UTF-8", "utf-8": "UTF-8",
            "utf-16": "UTF-16", "utf16": "UTF-16",
            "iso-8859-1": "ISO-8859-1", "latin1": "ISO-8859-1",
            # windows-1252 differs from ISO-8859-1 only in 0x80-0x9F (smart
            # quotes, euro, em-dash vs C1 controls); Spark 4's decode()
            # whitelist excludes it, so decode latin1 then translate the C1
            # range to the cp1252 glyphs (1:1, JVM-side, exact)
            "windows-1252": "ISO-8859-1", "cp1252": "ISO-8859-1",
        }
        if encoding.lower() in charsets:
            a = val(0)
            if a.t == "bytes":
                decoded = F.decode(a.col, charsets[encoding.lower()])
                if encoding.lower() in ("windows-1252", "cp1252"):
                    src, dst = _CP1252_TRANSLATE
                    decoded = F.translate(decoded, src, dst)
                return TypedCol(decoded, "string")
            return TypedCol(a.col.cast("string"), "string")
        raise OTTLCompileError(f"Decode: unsupported encoding {encoding!r}")
    if name == "Time":
        # Time(target, format, location?, locale?) — location parses the
        # naive local time in that zone and yields the UTC instant
        # (func_time.go Arguments)
        fmt = strptime_to_java(_lit_of(args[1], "Time format"))
        ts = F.try_to_timestamp(val(0).col, F.lit(fmt))
        loc = None
        if len(args) > 2 and isinstance(args[2], Literal):
            loc = args[2].value
        if isinstance(dict(call.named).get("location"), Literal):
            loc = dict(call.named)["location"].value
        if loc:
            ts = F.to_utc_timestamp(ts, loc)
        return TypedCol(ts, "time")
    if name == "TruncateTime":
        # duration may be a string literal or a Duration("...") call
        # (`e2e_test.go`: TruncateTime(time, Duration("1s")))
        dnode = args[1]
        if isinstance(dnode, FuncCall) and dnode.name == "Duration":
            dnode = dnode.args[0]
        dur = parse_go_duration(_lit_of(dnode, "TruncateTime duration"))
        sec = int(dur)
        t = val(0).col
        return TypedCol(
            F.timestamp_seconds((F.unix_timestamp(t) / sec).cast("long") * sec), "time"
        )
    if name == "Duration":
        return TypedCol(F.lit(parse_go_duration(_lit_of(args[0], "Duration"))), "duration")
    if name == "Now":
        return TypedCol(F.current_timestamp(), "time")
    if name == "UnixSeconds":
        return TypedCol(F.unix_timestamp(val(0).col), "int")
    if name == "UnixMilli":
        return TypedCol((val(0).col.cast("double") * 1000).cast("long"), "int")
    if name == "UnixMicro":
        return TypedCol((val(0).col.cast("double") * 1e6).cast("long"), "int")
    if name == "UnixNano":
        return TypedCol((val(0).col.cast("double") * 1e9).cast("long"), "int")
    if name == "Unix":
        return TypedCol(F.timestamp_seconds(val(0).col), "time")
    if name in ("Year", "Month", "Day", "Hour", "Minute"):
        fn = {"Year": F.year, "Month": F.month, "Day": F.dayofmonth, "Hour": F.hour, "Minute": F.minute}[name]
        return TypedCol(fn(val(0).col).cast("long"), "int")
    if name == "Seconds":
        return TypedCol(val(0).col.cast("double"), "float")
    if name == "Minutes":
        return TypedCol(val(0).col.cast("double") / 60.0, "float")
    if name == "Hours":
        return TypedCol(val(0).col.cast("double") / 3600.0, "float")
    if name == "Days":
        return TypedCol(val(0).col.cast("double") / 86400.0, "float")
    if name == "Milliseconds":
        return TypedCol(val(0).col.cast("double") * 1000, "float")
    if name == "Microseconds":
        return TypedCol(val(0).col.cast("double") * 1e6, "float")
    if name == "Nanoseconds":
        return TypedCol(val(0).col.cast("double") * 1e9, "float")
    if name == "Sort":
        order = _lit_of(args[1], "Sort order") if len(args) > 1 else "asc"
        return TypedCol(F.sort_array(val(0).col, asc=(order == "asc")), "slice")
    if name == "SliceToMap":
        # slice of maps -> map keyed by the key_path value; entry value is
        # the element rendered as JSON (func_slice_to_map.go)
        key_path = _lit_of(args[1], "SliceToMap key path")
        arr = val(0).col
        entries = F.transform(
            arr,
            lambda x: F.struct(
                F.element_at(x, F.lit(key_path)).alias("key"),
                F.to_json(x).alias("value"),
            ),
        )
        return TypedCol(
            F.map_from_entries(F.filter(entries, lambda e: e["key"].isNotNull())),
            "map",
        )
    if name == "UUID":
        return TypedCol(F.expr("uuid()"), "string")
    if name == "URL":
        u = val(0).col
        pairs = [
            ("url.original", u),
            ("url.scheme", F.parse_url(u, F.lit("PROTOCOL"))),
            ("url.domain", F.parse_url(u, F.lit("HOST"))),
            ("url.path", F.parse_url(u, F.lit("PATH"))),
            ("url.query", F.parse_url(u, F.lit("QUERY"))),
        ]
        entries = [
            F.when(c.isNotNull(), F.struct(F.lit(k).alias("key"), c.alias("value")))
            for k, c in pairs
        ]
        return TypedCol(
            F.map_from_entries(F.filter(F.array(*entries), lambda x: x.isNotNull())), "map"
        )
    if name == "IsRootSpan":
        # span-context converter (`func_is_root_span.go`): parent span id
        # empty/absent. Valid on span-shaped frames (operators/traces.py).
        if "parent_span_id" not in ctx.schema:
            raise OTTLCompileError("IsRootSpan requires a span frame (parent_span_id)")
        p = F.col("parent_span_id")
        # pdata's IsEmpty is the all-zero id; the frame stores NULL/'' but
        # accept the zero hex form too
        return TypedCol(p.isNull() | (p == "") | (p == "0000000000000000"), "bool")
    if name == "ParseSimplifiedXML":
        from ..functions.xmlfns import parse_simplified_xml

        return TypedCol(parse_simplified_xml(val(0).col), "map")
    if name == "GetXML":
        from ..functions.xmlfns import get_xml

        return TypedCol(get_xml(val(0).col, _lit_of(args[1], "GetXML xpath")), "string")
    if name == "ParseXML":
        from ..functions.xmlfns import parse_xml

        return TypedCol(parse_xml(val(0).col), "map")
    if name == "InsertXML":
        from ..functions.xmlfns import insert_xml

        return TypedCol(
            insert_xml(val(0).col, _lit_of(args[1], "InsertXML xpath"), val(2).col),
            "string",
        )
    if name == "RemoveXML":
        from ..functions.xmlfns import remove_xml

        return TypedCol(remove_xml(val(0).col, _lit_of(args[1], "RemoveXML xpath")), "string")
    if name == "ConvertAttributesToElementsXML":
        from ..functions.xmlfns import convert_attributes_to_elements_xml

        xpath = _lit_of(args[1], "xpath") if len(args) > 1 else "//@*"
        return TypedCol(convert_attributes_to_elements_xml(val(0).col, xpath), "string")
    if name == "ConvertTextToElementsXML":
        from ..functions.xmlfns import convert_text_to_elements_xml

        xpath = _lit_of(args[1], "xpath") if len(args) > 1 else "/"
        elem = _lit_of(args[2], "elementName") if len(args) > 2 else "value"
        if isinstance(named.get("elementName"), Literal):
            elem = named["elementName"].value
        if isinstance(named.get("xpath"), Literal):
            xpath = named["xpath"].value
        return TypedCol(convert_text_to_elements_xml(val(0).col, xpath, elem), "string")
    if name == "ToKeyValueString":
        # func_to_key_value_string.go:38-121: map -> escaped/quoted k=v pairs
        delim = _lit_of(args[1], "delimiter") if len(args) > 1 else "="
        paird = _lit_of(args[2], "pair delimiter") if len(args) > 2 else " "
        sort_output = bool(_lit_of(args[3], "sort")) if len(args) > 3 else False
        if delim == paird or not delim or not paird:
            raise OTTLCompileError("ToKeyValueString: bad delimiters")

        def esc(s: Column) -> Column:
            e = F.regexp_replace(s, '"', '\\\\"')
            needs = e.contains(delim) | e.contains(paird)
            return F.when(needs, F.concat(F.lit('"'), e, F.lit('"'))).otherwise(e)

        entries = F.map_entries(val(0).col)
        if sort_output:
            entries = F.array_sort(entries)  # struct compare: key-first
        parts = F.transform(
            entries, lambda e: F.concat(esc(e["key"]), F.lit(delim), esc(e["value"]))
        )
        return TypedCol(F.array_join(parts, paird), "string")
    if name in ("SpanID", "TraceID"):
        # func_span_id.go:34-44 / func_trace_id.go:34-44: compile-time byte
        # literal -> id constant. Our frames carry ids as lowercase hex
        # strings, so the constant folds to a hex string literal.
        b = _lit_of(args[0], name)
        want = 8 if name == "SpanID" else 16
        if not isinstance(b, (bytes, bytearray)) or len(b) != want:
            raise OTTLCompileError(f"{name.lower()}s must be {want} bytes")
        return TypedCol(F.lit(bytes(b).hex()), "string")
    if name == "UserAgent":
        # semconv decomposition (func_user_agent.go wraps the uap library);
        # common-browser regex heuristics keep this JVM-side and deterministic
        ua = val(0).col
        browser_name = F.coalesce(
            F.when(ua.rlike(r"Edg/"), F.lit("Edge")),
            F.when(ua.rlike(r"OPR/|Opera"), F.lit("Opera")),
            F.when(ua.rlike(r"Chrome/"), F.lit("Chrome")),
            F.when(ua.rlike(r"Firefox/"), F.lit("Firefox")),
            F.when(ua.rlike(r"Safari/"), F.lit("Safari")),
            F.when(ua.rlike(r"curl/"), F.lit("curl")),
            F.lit("Other"),
        )
        version = F.nullif(
            F.regexp_extract(
                ua, r"(?:Edg|OPR|Chrome|Firefox|Version|curl)/([0-9][0-9.]*)", 1
            ),
            F.lit(""),
        )
        # exactly the three semconv keys the reference emits
        # (func_useragent.go:41-46: Name/Original/Version, nothing else)
        pairs = [
            ("user_agent.original", ua),
            ("user_agent.name", browser_name),
            ("user_agent.version", version),
        ]
        entries = [
            F.when(c.isNotNull(), F.struct(F.lit(k).alias("key"), c.alias("value")))
            for k, c in pairs
        ]
        return TypedCol(
            F.map_from_entries(F.filter(F.array(*entries), lambda x: x.isNotNull())),
            "map",
        )
    raise OTTLCompileError(f"unknown converter {name}")


# Registry surface (§2.13 parity: factory map keyed by name,
# `pkg/ottl/ottlfuncs/functions.go:11-105`) — used for docs/introspection and
# coverage tests; dispatch lives in call_converter/call_editor.
REGISTERED_CONVERTERS = frozenset(
    {
        "Int", "Double", "String", "Hex", "IsBool", "IsInt", "IsDouble",
        "IsString", "IsMap", "IsList", "Concat", "ConvertCase", "Split",
        "Substring", "Format", "Len", "Log", "IsMatch", "ExtractPatterns",
        "ExtractGrokPatterns", "ParseJSON", "ParseKeyValue", "ParseCSV",
        "MD5", "SHA1", "SHA256", "SHA512", "FNV", "Base64Decode", "Decode",
        "Time", "TruncateTime", "Duration", "Now", "UnixSeconds", "UnixMilli",
        "UnixMicro", "UnixNano", "Unix", "Year", "Month", "Day", "Hour",
        "Minute", "Seconds", "Minutes", "Hours", "Days", "Milliseconds",
        "Microseconds", "Nanoseconds", "Sort", "SliceToMap",
        "UUID", "URL", "UserAgent", "ParseSimplifiedXML", "GetXML",
        "IsRootSpan", "ParseXML", "InsertXML", "RemoveXML",
        "ConvertAttributesToElementsXML", "ConvertTextToElementsXML",
        "ToKeyValueString", "SpanID", "TraceID",
    }
)

REGISTERED_EDITORS = frozenset(
    {
        "set", "delete_key", "delete_matching_keys", "keep_keys",
        "keep_matching_keys", "replace_pattern", "replace_match",
        "replace_all_matches", "replace_all_patterns", "truncate_all",
        "limit", "merge_maps", "append", "flatten",
    }
)


# ---------------------------------------------------------------------------
# Editors
# ---------------------------------------------------------------------------


def _guarded(new: Column, old: Column, cond: Column | None) -> Column:
    if cond is None:
        return new
    return F.when(cond, new).otherwise(old)


def _map_set(m: Column, key: str, v: Column) -> Column:
    cleaned = F.map_filter(m, lambda k, _: k != key)
    return F.map_concat(cleaned, F.map_from_arrays(F.array(F.lit(key)), F.array(v.cast("string"))))


def call_editor(df: DataFrame, call: FuncCall, ctx: LogContext, cond: Column | None) -> DataFrame:
    name = call.name
    args = list(call.args)

    def val(i: int) -> TypedCol:
        return compile_value(args[i], ctx)

    if name == "set":
        target = args[0]
        if not isinstance(target, Path):
            raise OTTLCompileError("set target must be a path")
        value = val(1)
        kind, key = ctx.target_kind(target)
        if kind == "column":
            old = F.col(key) if key in ctx.schema else F.lit(None)
            # set is a no-op when the value resolves to nil (func_set.go)
            new = F.when(value.col.isNotNull(), value.col).otherwise(old)
            return df.withColumn(key, _guarded(new, old, cond))
        map_col, map_key = key.split(":", 1)
        old = F.col(map_col)
        new = F.when(value.col.isNotNull(), _map_set(old, map_key, value.col)).otherwise(old)
        return df.withColumn(map_col, _guarded(new, old, cond))

    if name in ("delete_key", "delete_matching_keys", "keep_keys", "keep_matching_keys"):
        target = args[0]
        kind, key = ctx.target_kind(target)
        if kind == "column" and key in ctx.schema and ctx.schema[key].typeName() == "map":
            m = F.col(key)
            if name == "delete_key":
                k = _lit_of(args[1], "key")
                new = F.map_filter(m, lambda mk, _: mk != k)
            elif name == "delete_matching_keys":
                pat = go_regex(_lit_of(args[1], "pattern"))[0]
                new = F.map_filter(m, lambda mk, _: ~mk.rlike(pat))
            elif name == "keep_matching_keys":
                pat = go_regex(_lit_of(args[1], "pattern"))[0]
                new = F.map_filter(m, lambda mk, _: mk.rlike(pat))
            else:  # keep_keys
                keys = [compile_value(a, ctx).col for a in args[1].args]
                new = F.map_filter(m, lambda mk, _: mk.isin(*[_lit_of(a, "key") for a in args[1].args]))
            return df.withColumn(key, _guarded(new, m, cond))
        # typed fast path: deleting an attribute column = null it out
        if name == "delete_key":
            k = _lit_of(args[1], "key")
            if k in ctx.schema:
                old = F.col(k)
                return df.withColumn(k, _guarded(F.lit(None).cast(ctx.schema[k]), old, cond))
            return df
        raise OTTLCompileError(f"{name} requires a map column target")

    if name in ("replace_pattern", "replace_match"):
        target = args[0]
        kind, key = ctx.target_kind(target)
        tc = ctx.resolve(target)
        old = tc.col
        if name == "replace_pattern":
            pat, groups = go_regex(_lit_of(args[1], "pattern"))
            repl = _lit_of(args[2], "replacement")
            fn_name = None
            fmt = None
            if len(args) > 3 and isinstance(args[3], Literal):
                fn_name = args[3].value
            if len(args) > 4:
                fmt = _lit_of(args[4], "replacementFormat")
            named_map = dict(call.named)
            if isinstance(named_map.get("function"), Literal):
                fn_name = named_map["function"].value
            if isinstance(named_map.get("replacementFormat"), Literal):
                fmt = named_map["replacementFormat"].value
            if fn_name is not None:
                # optional hash converter applied to the replacement value
                # per match (func_replace_pattern.go:66-98). With a
                # capture-free replacement the hash is the same for every
                # match, so it folds to a constant regexp_replace; capture
                # refs would need per-match eval (unsupported, like the
                # reference's own restriction to string-returning editors).
                if "$" in repl:
                    raise OTTLCompileError(
                        "replace_pattern: function with capture refs unsupported"
                    )
                hash_fns = {
                    "MD5": lambda c: F.md5(c),
                    "SHA1": lambda c: F.sha1(c),
                    "SHA256": lambda c: F.sha2(c, 256),
                    "SHA512": lambda c: F.sha2(c, 512),
                    # exact Go FNV-1a 64 (func_fnv.go), folded at compile
                    # time: repl is a literal here (capture refs rejected
                    # above), so the registered converter's value is a
                    # constant — same result as func_replace_pattern.go:66-98
                    # applying FNV per match, with zero runtime UDF cost.
                    "FNV": lambda c: F.lit(str(_fnv1a64_one(repl))),
                }
                if fn_name not in hash_fns:
                    raise OTTLCompileError(f"replace_pattern: unknown function {fn_name}")
                repl_col = hash_fns[fn_name](F.lit(repl))
                if fmt is not None:
                    if fmt.count("%s") != 1 or re.search(r"%[^s]", fmt):
                        raise OTTLCompileError(
                            "replacementFormat must contain a single %s"
                        )
                    repl_col = F.format_string(fmt, repl_col)
                new = F.regexp_replace(old, F.lit(pat), repl_col)
            else:
                new = F.regexp_replace(old, pat, go_replacement(repl, groups))
        else:
            glob = _lit_of(args[1], "glob")
            repl = _lit_of(args[2], "replacement")
            new = F.when(old.like(_glob_to_like(glob)), F.lit(repl)).otherwise(old)
        if kind == "column":
            return df.withColumn(key, _guarded(new, old, cond))
        map_col, map_key = key.split(":", 1)
        m = F.col(map_col)
        return df.withColumn(map_col, _guarded(_map_set(m, map_key, new), m, cond))

    if name in ("replace_all_matches", "replace_all_patterns"):
        target = args[0]
        kind, key = ctx.target_kind(target)
        if kind != "column" or ctx.schema.get(key, None) is None or ctx.schema[key].typeName() != "map":
            raise OTTLCompileError(f"{name} requires a map target")
        m = F.col(key)
        if name == "replace_all_matches":
            glob = _glob_to_like(_lit_of(args[1], "glob"))
            repl = _lit_of(args[2], "replacement")
            new = F.transform_values(m, lambda _, v: F.when(v.like(glob), F.lit(repl)).otherwise(v))
        else:
            mode = _lit_of(args[1], "mode")
            pat, groups = go_regex(_lit_of(args[2], "pattern"))
            repl = go_replacement(_lit_of(args[3], "replacement"), groups)
            if mode == "value":
                new = F.transform_values(m, lambda _, v: F.regexp_replace(v, pat, repl))
            else:
                new = F.map_from_entries(
                    F.transform(
                        F.map_entries(m),
                        lambda e: F.struct(
                            F.regexp_replace(e["key"], pat, repl).alias("key"),
                            e["value"].alias("value"),
                        ),
                    )
                )
        return df.withColumn(key, _guarded(new, m, cond))

    if name == "truncate_all":
        target = args[0]
        kind, key = ctx.target_kind(target)
        limit = _lit_of(args[1], "limit")
        m = F.col(key)
        new = F.transform_values(m, lambda _, v: F.substring(v, 1, limit))
        return df.withColumn(key, _guarded(new, m, cond))

    if name == "limit":
        target = args[0]
        kind, key = ctx.target_kind(target)
        n = _lit_of(args[1], "limit")
        priority = [_lit_of(a, "priority key") for a in args[2].args] if len(args) > 2 else []
        m = F.col(key)
        entries = F.map_entries(m)
        if priority:
            pr = F.array(*[F.lit(p) for p in priority])
            keep_pri = F.filter(entries, lambda e: F.array_contains(pr, e["key"]))
            rest = F.filter(entries, lambda e: ~F.array_contains(pr, e["key"]))
            ordered = F.concat(keep_pri, rest)
        else:
            ordered = entries
        new = F.map_from_entries(F.slice(ordered, 1, n))
        new = F.when(F.size(entries) <= n, m).otherwise(new)
        return df.withColumn(key, _guarded(new, m, cond))

    if name == "merge_maps":
        target, source = args[0], args[1]
        strategy = _lit_of(args[2], "strategy")
        kind, key = ctx.target_kind(target)
        tgt = F.col(key)
        src = compile_value(source, ctx).col
        if strategy == "upsert":
            merged = F.map_concat(F.map_filter(tgt, lambda k, _: ~F.array_contains(F.map_keys(src), k)), src)
        elif strategy == "insert":
            merged = F.map_concat(tgt, F.map_filter(src, lambda k, _: ~F.array_contains(F.map_keys(tgt), k)))
        elif strategy == "update":
            merged = F.map_zip_with(tgt, src, lambda k, v1, v2: F.coalesce(v2, v1))
            merged = F.map_filter(merged, lambda k, _: F.array_contains(F.map_keys(tgt), k))
        else:
            raise OTTLCompileError(f"merge_maps: bad strategy {strategy}")
        merged = F.when(src.isNull(), tgt).otherwise(merged)
        return df.withColumn(key, _guarded(merged, tgt, cond))

    if name == "append":
        target = args[0]
        kind, key = ctx.target_kind(target)
        named = dict(call.named)
        old = F.col(key) if key in ctx.schema else F.lit(None).cast("array<string>")
        base = F.coalesce(old, F.array().cast("array<string>"))
        if "values" in named:
            vals = [compile_value(a, ctx).col.cast("string") for a in named["values"].args]
        elif len(args) > 1:
            vals = [val(1).col.cast("string")]
        elif "value" in named:
            vals = [compile_value(named["value"], ctx).col.cast("string")]
        else:
            raise OTTLCompileError("append requires value or values")
        new = F.concat(base, F.array(*vals))
        return df.withColumn(key, _guarded(new, old, cond))

    if name == "flatten":
        # reference flattens nested pcommon.Map values into dotted keys,
        # slices into indexed keys (foo.slice.0), with optional prefix and
        # depth args (func_flatten.go; `e2e_test.go:65-137`). Our typed
        # frames nest via StructType/ArrayType: flatten into a
        # map<string,string> with dotted/indexed keys; beyond ``depth``,
        # remaining nesting is rendered as JSON (the string-typed map's
        # canonical rendering of a still-nested value). A MapType target is
        # already flat — prefix (if any) is applied to its keys.
        from pyspark.sql import types as T

        target = args[0]
        kind, key = ctx.target_kind(target)
        named = dict(call.named)
        prefix = ""
        pnode = named.get("prefix") or (args[1] if len(args) > 1 else None)
        if pnode is not None:
            prefix = _lit_of(pnode, "flatten prefix") + "."
        depth = 1 << 30
        dnode = named.get("depth") or (args[2] if len(args) > 2 else None)
        if dnode is not None:
            depth = int(_lit_of(dnode, "flatten depth"))
        if len(args) > 3:
            raise OTTLCompileError("flatten takes at most (target, prefix, depth)")
        dtype = ctx.schema.get(key)
        if isinstance(dtype, T.MapType):
            new = F.col(key)
            if prefix:
                new = F.transform_keys(new, lambda k, _v: F.concat(F.lit(prefix), k))
            return df.withColumn(key, _guarded(new, F.col(key), cond))
        if not isinstance(dtype, T.StructType):
            raise OTTLCompileError("flatten requires a struct or map column")

        def leaf(k: str, c: Column, dt) -> Column:
            v = F.to_json(c) if isinstance(dt, (T.StructType, T.ArrayType, T.MapType)) else c.cast("string")
            return F.array(
                F.when(c.isNotNull(), F.struct(F.lit(k).alias("key"), v.alias("value")))
            )

        def walk(col: Column, st: T.StructType, pre: str, d: int) -> list[Column]:
            # each element: array<struct<key,value>> (arrays are dynamic-length)
            out: list[Column] = []
            for f in st.fields:
                child = col[f.name]
                k = f"{pre}{f.name}"
                if isinstance(f.dataType, T.StructType) and d > 0:
                    out += walk(child, f.dataType, k + ".", d - 1)
                elif isinstance(f.dataType, T.ArrayType) and d > 0:
                    elem = f.dataType.elementType
                    render = (
                        (lambda x: F.to_json(x))
                        if isinstance(elem, (T.StructType, T.ArrayType, T.MapType))
                        else (lambda x: x.cast("string"))
                    )
                    indexed = F.zip_with(
                        child,
                        F.sequence(F.lit(0), F.size(child) - 1),
                        lambda x, i: F.struct(
                            F.concat(F.lit(k + "."), i.cast("string")).alias("key"),
                            render(x).alias("value"),
                        ),
                    )
                    # sequence(0, -1) would count DOWN for empty arrays
                    out.append(
                        F.when(F.size(child) > 0, indexed).otherwise(F.array())
                    )
                else:
                    out.append(leaf(k, child, f.dataType))
            return out

        arrays = walk(F.col(key), dtype, prefix, depth)
        new = F.map_from_entries(
            F.filter(F.concat(*arrays), lambda x: x.isNotNull())
        )
        old = F.col(key)
        return df.withColumn(key, _guarded(new, old, cond))

    if name in ("aggregate_on_attributes", "aggregate_on_attribute_value"):
        # transformprocessor metric-context datapoint aggregation
        # (`func_aggregate_on_attributes_metrics.go:39-57`,
        # `func_agregate_on_attribute_value_metrics.go:44-70`,
        # `internal/coreinternal/aggregateutil/aggregate.go`). Frame
        # contract: datapoint attributes live in the `attributes` map
        # column; value columns are value_double/value_int (+ histogram
        # scalars cnt/hsum). Documented simplifications vs the reference:
        # bucket-array merge lives in operators/metricstransform (not
        # statement-callable), Summary rows pass through unaggregated
        # (the reference errors the whole statement), and delta-vs-
        # cumulative start-time grouping follows the frame: start_ts is
        # part of the group key whenever the column exists.
        _AGG_FNS = {
            "sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
            "count": F.count, "median": F.median,
        }
        fn_name = str(_lit_of(args[0], "aggregation function"))
        if fn_name not in _AGG_FNS:
            raise OTTLCompileError(
                f"invalid aggregation function: '{fn_name}', valid options: "
                + ", ".join(sorted(_AGG_FNS))
            )
        if "attributes" not in ctx.schema:
            raise OTTLCompileError(f"{name} requires an `attributes` map column")
        agg_fn = _AGG_FNS[fn_name]
        m = F.col("attributes")
        if name == "aggregate_on_attributes":
            if len(args) > 1:
                keep = [str(_lit_of(a, "attribute")) for a in args[1].args]
                new_attrs = F.map_filter(
                    m, lambda k, _: k.isin(*[F.lit(x) for x in keep])
                )
            else:
                new_attrs = m
        else:
            attr = str(_lit_of(args[1], "attribute"))
            values = [str(_lit_of(a, "value")) for a in args[2].args]
            newv = str(_lit_of(args[3], "new value"))
            new_attrs = F.transform_values(
                m,
                lambda k, v: F.when(
                    (k == attr) & v.isin(*[F.lit(x) for x in values]),
                    F.lit(newv),
                ).otherwise(v),
            )
        summary_pass = (
            (F.col("metric_type") == 5)
            if "metric_type" in ctx.schema
            else F.lit(False)
        )
        gate = (~summary_pass) if cond is None else (
            F.coalesce(cond, F.lit(False)) & ~summary_pass
        )
        cols = list(ctx.schema)
        value_cols = [
            c for c in ("value_double", "value_int", "cnt", "hsum") if c in ctx.schema
        ]
        if not value_cols:
            raise OTTLCompileError(f"{name}: no datapoint value columns on this frame")
        group_cols = [c for c in cols if c not in value_cols and c != "attributes"]
        agged = (
            df.filter(gate)
            .withColumn("__akey", F.array_sort(F.map_entries(new_attrs)))
            .groupBy(*group_cols, "__akey")
            .agg(*[agg_fn(c).alias(c) for c in value_cols])
            .withColumn("attributes", F.map_from_entries("__akey"))
            .select(*cols)
        )
        rest = df.filter(~gate).select(*cols)
        return rest.unionByName(agged)

    if name in ("convert_sum_to_gauge", "convert_gauge_to_sum", "scale_metric"):
        # transformprocessor metric-context per-row editors
        # (`processor/transformprocessor/internal/metrics/func_convert_sum_to_gauge.go`,
        # `func_convert_gauge_to_sum.go`, `func_scale.go`). The where-clause
        # cond composes with the type guard; metric-appending functions of
        # that family (extract_*/copy_metric/convert_summary_*) change row
        # counts and live in operators/metricfns.py instead.
        from ..operators import metricfns as _mf

        if "metric_type" not in ctx.schema:
            raise OTTLCompileError(f"{name} requires a metric-context frame")

        def guard(type_cond: Column) -> Column:
            return type_cond if cond is None else (type_cond & cond)

        if name == "convert_sum_to_gauge":
            m = guard(F.col("metric_type") == _mf.SUM)
            out = {"metric_type": F.when(m, F.lit(_mf.GAUGE)).otherwise(F.col("metric_type"))}
            for c, reset in (("temporality", F.lit(0)), ("is_monotonic", F.lit(False))):
                if c in ctx.schema:
                    out[c] = F.when(m, reset).otherwise(F.col(c))
            return df.withColumns(out)
        if name == "convert_gauge_to_sum":
            temp = _mf._temporality(str(_lit_of(args[0], "aggregation temporality")))
            mono = bool(_lit_of(args[1], "monotonic"))
            m = guard(F.col("metric_type") == _mf.GAUGE)
            return df.withColumns(
                {
                    "metric_type": F.when(m, F.lit(_mf.SUM)).otherwise(F.col("metric_type")),
                    "temporality": F.when(m, F.lit(temp)).otherwise(
                        F.col("temporality") if "temporality" in ctx.schema else F.lit(0)
                    ),
                    "is_monotonic": F.when(m, F.lit(mono)).otherwise(
                        F.col("is_monotonic") if "is_monotonic" in ctx.schema else F.lit(False)
                    ),
                }
            )
        # scale_metric(multiplier[, unit])
        mult = float(_lit_of(args[0], "multiplier"))
        out = {}
        scalable = guard(F.col("metric_type").isin(_mf.GAUGE, _mf.SUM))
        hist = guard(F.col("metric_type") == _mf.HISTOGRAM)
        if "value_double" in ctx.schema:
            out["value_double"] = F.when(
                scalable, F.col("value_double") * F.lit(mult)
            ).otherwise(F.col("value_double"))
        for c in ("hsum", "hmin", "hmax"):
            if c in ctx.schema:
                out[c] = F.when(hist, F.col(c) * F.lit(mult)).otherwise(F.col(c))
        if "explicit_bounds" in ctx.schema:
            out["explicit_bounds"] = F.when(
                hist,
                F.transform(F.col("explicit_bounds"), lambda b: b * F.lit(mult)),
            ).otherwise(F.col("explicit_bounds"))
        if len(args) > 1 and "unit" in ctx.schema:
            u = str(_lit_of(args[1], "unit"))
            out["unit"] = F.when(
                guard(F.lit(True)), F.lit(u)
            ).otherwise(F.col("unit"))
        return df.withColumns(out)

    raise OTTLCompileError(f"unknown editor {name}")
