"""OTTL AST -> pyspark Column compiler.

Semantics reproduced from the reference:
- Cross-type comparison table (`pkg/ottl/LANGUAGE.md:261-285`): int and float
  compare as float; mismatched base types are "not equal" (== -> false,
  != -> true, orderings -> false); nil == nil is TRUE. Spark's null
  comparisons yield NULL, so equality compiles to ``eqNullSafe`` and
  orderings are coalesced to false.
- Math (`pkg/ottl/LANGUAGE.md:196-217`, `pkg/ottl/math.go:12-55`): int op int
  stays int ('/' truncates toward zero like Go); float op float stays float;
  int/float mixing is a compile-time error in ours (a runtime error in the
  reference) — Spark would silently coerce, which would diverge.
- Statements execute in order, later statements observing earlier mutations
  (`pkg/ottl/parser.go:341-356`) -> a fold of DataFrame transformations.
- error_mode (`pkg/ottl/parser.go:337-356`): with vectorized expressions,
  per-row errors become NULLs (Spark's try_* family), the ignore/silent
  semantics; propagate is not offered.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ast import (
    BoolOp,
    Comparison,
    FuncCall,
    Index,
    Literal,
    MathOp,
    NotOp,
    Path,
    Statement,
)
from .parser import parse_condition, parse_statement

# ---------------------------------------------------------------------------
# Typed column wrapper (OTTL's dynamic pcommon.Value type lattice, statically
# tracked at compile time where possible; 'any' = unknown)
# ---------------------------------------------------------------------------

NUMERIC = {"int", "float"}


@dataclass
class TypedCol:
    col: Column
    t: str = "any"  # string|int|float|bool|bytes|map|slice|time|duration|nil|any


def _chain_keys(tc: TypedCol, keys) -> TypedCol:
    """Apply remaining ``[k]`` accessors to an already-resolved value.

    Indexing past a SCALAR (e.g. ``attributes["metadata"]["uid"]`` on a
    map<string,string> column) yields nil, matching the reference's
    missing-nested-value semantics (`e2e_test.go` "complex indexing not
    found"). Maps/structs index by name, slices by 0-based position."""
    for k in keys:
        if tc.t in ("string", "int", "float", "bool", "nil", "time", "duration"):
            return TypedCol(F.lit(None), "nil")
        tc = TypedCol(tc.col[k], "any")
    return tc


def _spark_type_to_ottl(dt: T.DataType) -> str:
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return "float"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.MapType):
        return "map"
    if isinstance(dt, T.ArrayType):
        return "slice"
    if isinstance(dt, T.TimestampType):
        return "time"
    return "any"


class OTTLCompileError(ValueError):
    pass


# ---------------------------------------------------------------------------
# Log context: resolves OTTL paths against a flat typed DataFrame
# (path surface: `pkg/ottl/contexts/ottllog/log.go:198-265`)
# ---------------------------------------------------------------------------


class LogContext:
    """Maps OTTL log-context paths onto a canonical transcript/log DataFrame.

    Typed fast path: ``attributes["x"]`` resolves to a real column ``x`` when
    one exists; otherwise falls back to ``element_at`` on a MapType
    ``attributes`` column when present. ``cache["k"]`` becomes an ephemeral
    ``__cache_k`` column (dropped by ``finish``), mirroring the reference's
    non-serialized scratch map (`ottllog/log.go:203-207`).
    """

    BUILTIN = {
        ("body",): ("text", "string"),
        ("body", "string"): ("text", "string"),
        ("time",): ("ts", "time"),
        ("severity_text",): ("level", "string"),
        # instrumentation scope scalar paths (`contexts/internal/
        # scope.go:24-37`) — shared by every context, like the reference's
        # higher-tier scope access; flat scope_* columns on the
        # denormalized frame
        ("instrumentation_scope", "name"): ("scope_name", "string"),
        ("instrumentation_scope", "version"): ("scope_version", "string"),
        ("instrumentation_scope", "schema_url"): ("scope_schema_url", "string"),
        ("instrumentation_scope", "dropped_attributes_count"): (
            "scope_dropped_attributes_count",
            "int",
        ),
    }

    def __init__(self, df: DataFrame):
        self.schema = {f.name: f.dataType for f in df.schema.fields}

    def _col(self, name: str) -> TypedCol:
        return TypedCol(F.col(name), _spark_type_to_ottl(self.schema[name]))

    def resolve(self, path: Path) -> TypedCol:
        segs, keys = path.segments, path.keys
        if segs in self.BUILTIN:
            name, t = self.BUILTIN[segs]
            if name in self.schema:
                return self._col(name)
        if segs == ("time_unix_nano",):
            return TypedCol(
                (F.unix_timestamp("ts") * F.lit(1_000_000_000)).cast("long"), "int"
            )
        if segs == ("observed_time",):
            return TypedCol(F.current_timestamp(), "time")
        if segs in (
            ("attributes",),
            ("resource", "attributes"),
            ("instrumentation_scope", "attributes"),
        ):
            map_col = {
                ("attributes",): "attributes",
                ("resource", "attributes"): "resource",
                ("instrumentation_scope", "attributes"): "scope",
            }[segs]
            if not keys:
                if map_col in self.schema:
                    return self._col(map_col)
                raise OTTLCompileError(f"no {map_col} map column on this frame")
            key = str(keys[0])
            # typed fast path: a flat column with the attribute's name
            if map_col == "attributes" and key in self.schema:
                return _chain_keys(self._col(key), keys[1:])
            if map_col in self.schema:
                return _chain_keys(
                    TypedCol(F.element_at(F.col(map_col), F.lit(key)), "string"),
                    keys[1:],
                )
            raise OTTLCompileError(f"cannot resolve attribute {key!r}")
        if segs == ("cache",):
            if not keys:
                raise OTTLCompileError("bare cache path not supported")
            name = f"__cache_{keys[0]}"
            if name in self.schema:
                return self._col(name)
            return TypedCol(F.lit(None), "nil")
        # plain column reference (severity_number, conv_id, role, ...)
        if len(segs) == 1 and segs[0] in self.schema:
            tc = self._col(segs[0])
            for k in keys:
                tc = TypedCol(F.element_at(tc.col, F.lit(k) if isinstance(k, str) else F.lit(k + 1)), "any")
            return tc
        raise OTTLCompileError(f"unresolvable path {'.'.join(segs)}{list(keys)}")

    # -- setters ------------------------------------------------------------

    def target_kind(self, path: Path) -> tuple[str, str]:
        """('column', name) | ('map_key', 'mapcol:key') | ('cache', name)."""
        segs, keys = path.segments, path.keys
        if segs in self.BUILTIN and not keys:
            return "column", self.BUILTIN[segs][0]
        if segs == ("cache",) and keys:
            return "column", f"__cache_{keys[0]}"
        if segs in (
            ("attributes",),
            ("resource", "attributes"),
            ("instrumentation_scope", "attributes"),
        ):
            map_col = {
                ("attributes",): "attributes",
                ("resource", "attributes"): "resource",
                ("instrumentation_scope", "attributes"): "scope",
            }[segs]
            if keys:
                key = str(keys[0])
                if map_col == "attributes" and key in self.schema:
                    return "column", key
                if map_col in self.schema:
                    return "map_key", f"{map_col}:{key}"
                # typed fast path for a new attribute: create flat column
                return "column", key
            return "column", map_col
        if len(segs) == 1 and not keys:
            return "column", segs[0]
        raise OTTLCompileError(f"unsupported set target {path}")


def finish(df: DataFrame) -> DataFrame:
    """Drop ephemeral cache columns before write (cache is never serialized)."""
    drop = [c for c in df.columns if c.startswith("__cache_")]
    return df.drop(*drop) if drop else df


# ---------------------------------------------------------------------------
# Expression compilation
# ---------------------------------------------------------------------------


def compile_value(node, ctx: LogContext) -> TypedCol:
    from . import functions as fnlib

    if isinstance(node, Literal):
        if node.kind == "nil":
            return TypedCol(F.lit(None), "nil")
        if node.kind == "enum":
            enum_val = fnlib.ENUMS.get(node.value)
            if enum_val is None:
                raise OTTLCompileError(f"unknown enum {node.value}")
            return TypedCol(F.lit(enum_val), "int")
        return TypedCol(F.lit(node.value), node.kind)
    if isinstance(node, Path):
        return ctx.resolve(node)
    if isinstance(node, FuncCall):
        if node.name == "__list__":
            items = [compile_value(a, ctx) for a in node.args]
            return TypedCol(F.array(*[i.col for i in items]), "slice")
        if node.name == "__map__":
            # map value expression {"k": v, ...} -> named struct (the typed
            # frame's heterogeneous-map rendering; IsMap sees type "map")
            fields = [
                compile_value(v, ctx).col.alias(k) for k, v in node.named
            ]
            return TypedCol(F.struct(*fields), "map")
        return fnlib.call_converter(node, ctx)
    if isinstance(node, Index):
        target = compile_value(node.target, ctx)
        if isinstance(node.key, int):
            # OTTL slice indexes are 0-based; element_at is 1-based
            return TypedCol(F.element_at(target.col, node.key + 1), "any")
        return TypedCol(F.element_at(target.col, F.lit(node.key)), "any")
    if isinstance(node, MathOp):
        return _compile_math(node, ctx)
    if isinstance(node, (Comparison, BoolOp, NotOp)):
        return TypedCol(compile_bool(node, ctx), "bool")
    raise OTTLCompileError(f"cannot compile node {node!r}")


def _compile_math(node: MathOp, ctx: LogContext) -> TypedCol:
    left = compile_value(node.left, ctx)
    right = compile_value(node.right, ctx)
    lt, rt = left.t, right.t
    if lt in NUMERIC and rt in NUMERIC:
        if lt != rt:
            raise OTTLCompileError(
                f"int/float mixing in math is an error in OTTL ({lt} {node.op} {rt}); cast explicitly"
            )
        a, b = left.col, right.col
        if node.op == "+":
            return TypedCol(a + b, lt)
        if node.op == "-":
            return TypedCol(a - b, lt)
        if node.op == "*":
            return TypedCol(a * b, lt)
        if node.op == "/":
            if lt == "int":
                # Go int division truncates toward zero; try_divide yields
                # NULL on /0 instead of an ANSI job failure (error_mode=ignore)
                return TypedCol(F.try_divide(a, b).cast("long"), "int")
            return TypedCol(F.try_divide(a, b), "float")
    if lt == "time" and rt == "duration" and node.op in "+-":
        expr = (F.unix_timestamp(left.col).cast("double") + (right.col if node.op == "+" else -right.col))
        return TypedCol(F.timestamp_seconds(expr), "time")
    if lt == "duration" and rt == "duration" and node.op in "+-":
        return TypedCol(left.col + right.col if node.op == "+" else left.col - right.col, "duration")
    if lt == "time" and rt == "time" and node.op == "-":
        # microsecond precision (unix_timestamp truncates sub-second); the
        # casts absorb TIMESTAMP_NTZ parquet columns (session TZ is UTC)
        return TypedCol(
            (
                F.unix_micros(left.col.cast("timestamp"))
                - F.unix_micros(right.col.cast("timestamp"))
            ).cast("double")
            / F.lit(1e6),
            "duration",
        )
    # unknown operand types: permit native arithmetic (documented divergence)
    if "any" in (lt, rt):
        ops = {"+": left.col + right.col, "-": left.col - right.col,
               "*": left.col * right.col, "/": left.col / right.col}
        return TypedCol(ops[node.op], "any")
    raise OTTLCompileError(f"invalid math operand types {lt} {node.op} {rt}")


_BASE = {"int": "num", "float": "num", "string": "str", "bool": "bool",
         "bytes": "bytes", "map": "map", "slice": "slice", "time": "time",
         "duration": "dur", "nil": "nil", "any": "any"}


def _compile_comparison(node: Comparison, ctx: LogContext) -> Column:
    left = compile_value(node.left, ctx)
    right = compile_value(node.right, ctx)
    lb, rb = _BASE[left.t], _BASE[right.t]
    a, b = left.col, right.col
    # int vs float compare as float (LANGUAGE.md:261-285)
    if {left.t, right.t} == {"int", "float"}:
        a, b = a.cast("double"), b.cast("double")
    if lb != rb and "any" not in (lb, rb) and "nil" not in (lb, rb):
        # mismatched base types: == false, != true, orderings false
        return F.lit(node.op == "!=")
    if node.op == "==":
        return a.eqNullSafe(b)
    if node.op == "!=":
        return ~a.eqNullSafe(b)
    # bools support only ==/!= in OTTL; orderings are "not comparable" false
    # (LANGUAGE.md:261-285 — Spark would order false < true)
    if lb == "bool" and rb == "bool":
        return F.lit(False)
    cmp = {"<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b}[node.op]
    # NULL operand -> false, like the reference's "not comparable -> false"
    return F.coalesce(cmp, F.lit(False))


def compile_bool(node, ctx: LogContext) -> Column:
    if isinstance(node, BoolOp):
        cols = [compile_bool(o, ctx) for o in node.operands]
        out = cols[0]
        for c in cols[1:]:
            out = (out | c) if node.op == "or" else (out & c)
        return out
    if isinstance(node, NotOp):
        return ~F.coalesce(compile_bool(node.operand, ctx), F.lit(False))
    if isinstance(node, Comparison):
        return _compile_comparison(node, ctx)
    # bare value in boolean position must itself be boolean (e.g. IsMatch(...))
    tc = compile_value(node, ctx)
    if tc.t not in ("bool", "any"):
        raise OTTLCompileError(f"non-boolean expression in condition: {node!r}")
    return tc.col.cast("boolean")


def compile_condition(src: str, ctx: LogContext) -> Column:
    return compile_bool(parse_condition(src), ctx)


def compile_conditions_or(sources: list[str], ctx: LogContext) -> Column:
    """OR-composed condition list (filterottl.NewBoolExprForLog,
    `internal/filter/filterottl/functions.go:51-53`), NULL read as false:
    a row whose conditions error out matches none (error_mode=ignore)."""
    out = compile_condition(sources[0], ctx)
    for s in sources[1:]:
        out = out | compile_condition(s, ctx)
    return F.coalesce(out, F.lit(False))


# ---------------------------------------------------------------------------
# Statement application (editors mutate the frame)
# ---------------------------------------------------------------------------


def apply_statement(
    df: DataFrame,
    src: str,
    ctx_cls: type = LogContext,
    gate: Column | None = None,
) -> DataFrame:
    """Run one statement: its editor changes only the rows where ``gate``
    (a boolean Column over ``df``, e.g. a transform group's conditions or a
    route's claim) and the statement's ``where`` both hold."""
    from . import functions as fnlib

    stmt: Statement = parse_statement(src) if isinstance(src, str) else src
    ctx = ctx_cls(df)
    cond = gate
    if stmt.where is not None:
        where = compile_bool(stmt.where, ctx)
        cond = where if cond is None else (cond & where)
    return fnlib.call_editor(df, stmt.editor, ctx, cond)


def apply_statements(
    df: DataFrame,
    sources: list[str],
    ctx_cls: type = LogContext,
) -> DataFrame:
    """In-order fold; later statements see earlier mutations
    (`pkg/ottl/parser.go:341-356`). Vectorized per-row failures surface as
    NULLs, the reference's error_mode ignore/silent semantics.
    ctx_cls selects the transform context (LogContext | SpanContext)."""
    for s in sources:
        df = apply_statement(df, s, ctx_cls=ctx_cls)
    return df
