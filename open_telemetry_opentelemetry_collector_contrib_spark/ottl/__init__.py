"""OTTL — OpenTelemetry Transformation Language, compiled to Catalyst.

The reference interprets OTTL statements per record via closure trees
(`pkg/ottl/parser.go:145-164`, `expression.go:22-51`). Here the same grammar
(`pkg/ottl/grammar.go:15-20,470-494`) parses to an AST that compiles to
pyspark Columns at plan-construction time — the "interpreter" disappears into
Catalyst whole-stage codegen, so statements run vectorized.

Public surface:
    parse_statement(src) / parse_condition(src)       -> AST
    LogContext(df)                                    -> path resolution
    compile_condition(src, ctx)                       -> Column (boolean)
    apply_statement(df, src)                          -> DataFrame
    apply_statements(df, [src, ...])                  -> DataFrame (in-order fold)
"""

from .compiler import (  # noqa: F401
    LogContext,
    apply_statement,
    apply_statements,
    compile_condition,
    compile_value,
)
from .parser import parse_condition, parse_statement  # noqa: F401
from .metric_context import DataPointContext, MetricContext  # noqa: F401
from .span_context import SpanContext, SpanEventContext  # noqa: F401
