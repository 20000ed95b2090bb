"""OTTL — OpenTelemetry Transformation Language, compiled to Catalyst.

The reference interprets OTTL statements per record via closure trees
(`pkg/ottl/parser.go:145-164`, `expression.go:22-51`). Here the same grammar
(`pkg/ottl/grammar.go:15-20,470-494`) parses to an AST that compiles to
pyspark Columns at plan-construction time — the "interpreter" disappears into
Catalyst whole-stage codegen, so statements run vectorized.

Public surface:
    parse_statement(src) / parse_condition(src)       -> AST
    LogContext(df)                                    -> path resolution
    context_cls(name)                                 -> context class of a
                                                         config ``context:``
    compile_condition(src, ctx)                       -> Column (boolean)
    compile_conditions_or([src, ...], ctx)            -> Column (OR, NULL -> false)
    apply_statement(df, src, ctx_cls, gate=None)      -> DataFrame
    apply_statements(df, [src, ...])                  -> DataFrame (in-order fold)
    functions.go_regex(pattern)                       -> (pattern, {group: index})
    functions.go_replacement(template, groups)        -> Java replacement

``apply_statement`` is the one statement compiler: it parses, ANDs the
``where`` with ``gate`` (a transform group's conditions, a route's claim)
and runs the editor. ``go_regex`` is the one reader of Go named groups: it
drops the names (Java rejects ``_`` in them, Python the ``(?<name>...)``
form), so callers read groups by index.
"""

from .compiler import (  # noqa: F401
    LogContext,
    apply_statement,
    apply_statements,
    compile_condition,
    compile_conditions_or,
    compile_value,
)
from .parser import parse_condition, parse_statement  # noqa: F401
from .metric_context import DataPointContext, MetricContext  # noqa: F401
from .span_context import SpanContext, SpanEventContext  # noqa: F401

# transform/filter context names (`transformprocessor/internal/common/
# config.go:34-60`): trace/span statements get the span path grammar,
# metric/datapoint statements the metric path grammar; log/resource/scope
# collapse to row-level ops on the denormalized frame
_CONTEXTS = {
    "span": SpanContext,
    "trace": SpanContext,
    "spanevent": SpanEventContext,
    "metric": DataPointContext,
    "datapoint": DataPointContext,
}


def context_cls(name: str) -> type:
    """The path-resolution context for a config ``context:`` name."""
    return _CONTEXTS.get(name, LogContext)
