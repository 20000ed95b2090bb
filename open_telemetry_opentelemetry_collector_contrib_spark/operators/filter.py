"""filterprocessor — drop records matching OTTL conditions or match properties.

Reference semantics:
- OTTL mode (`processor/filterprocessor/logs.go:68-106`): a list of
  `logs.log_record` conditions, OR-composed
  (`internal/filter/filterottl/functions.go:51-53`); a record is DROPPED when
  any condition is true. Empty scopes/resources are then removed — a no-op on
  a flat table.
- Legacy match properties (`processor/filterprocessor/config.go:81-93`,
  `internal/filter/filterconfig/config.go:217-220`): include/exclude blocks
  with match_type strict|regexp over bodies, severity_texts, attributes, and
  a severity_number min threshold with match_undefined. Include is evaluated
  first (keep-if-match), then exclude (drop-if-match).

Spark: a pure Catalyst predicate — pushed to the parquet scan when columns
allow, costing ~zero at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ottl import compile_conditions_or, context_cls


def filter_ottl(
    df: DataFrame, drop_conditions: list[str], context: str = "log"
) -> DataFrame:
    """Drop rows where ANY OTTL condition is true (OR composition).

    NULL-valued conditions keep the row (error_mode=ignore keeps data
    flowing): ``compile_conditions_or`` reads NULL as false.

    ``context`` selects the condition grammar, mirroring filterprocessor's
    signal-specific config blocks (`processor/filterprocessor/config.go`:
    ``logs.log_record``, ``traces.span``/``spanevent``,
    ``metrics.metric``/``datapoint``).
    """
    ctx = context_cls(context)(df)
    return df.filter(~compile_conditions_or(drop_conditions, ctx))


@dataclass
class LogMatchProperties:
    """Legacy include/exclude block (filterconfig.MatchProperties subset)."""

    match_type: str = "strict"  # 'strict' | 'regexp'
    bodies: list[str] = field(default_factory=list)
    severity_texts: list[str] = field(default_factory=list)
    attributes: dict[str, str] = field(default_factory=dict)  # key -> value
    severity_number_min: int | None = None
    match_undefined: bool = False  # match rows with severity 0/undefined

    def predicate(self, df: DataFrame, body_col: str = "text",
                  severity_text_col: str = "level",
                  severity_number_col: str = "severity_number") -> Column:
        def match(col: Column, value: str) -> Column:
            if self.match_type == "regexp":
                return col.rlike(value)
            return col == value

        clauses: list[Column] = []
        if self.bodies:
            c = match(F.col(body_col), self.bodies[0])
            for v in self.bodies[1:]:
                c = c | match(F.col(body_col), v)
            clauses.append(c)
        if self.severity_texts:
            c = match(F.col(severity_text_col), self.severity_texts[0])
            for v in self.severity_texts[1:]:
                c = c | match(F.col(severity_text_col), v)
            clauses.append(c)
        for k, v in self.attributes.items():
            clauses.append(match(F.col(k).cast("string"), v))
        if self.severity_number_min is not None:
            sev = F.col(severity_number_col)
            c = sev >= self.severity_number_min
            if self.match_undefined:
                c = c | sev.isNull() | (sev == 0)
            clauses.append(c)
        if not clauses:
            return F.lit(True)
        out = clauses[0]
        for c in clauses[1:]:
            out = out & c  # all configured properties must match
        return F.coalesce(out, F.lit(False))


def filter_match_properties(
    df: DataFrame,
    include: LogMatchProperties | None = None,
    exclude: LogMatchProperties | None = None,
    **cols,
) -> DataFrame:
    """include first (keep-if-match), then exclude (drop-if-match) —
    `processor/filterprocessor/config.go:185-207`."""
    if include is not None:
        df = df.filter(include.predicate(df, **cols))
    if exclude is not None:
        df = df.filter(~exclude.predicate(df, **cols))
    return df
