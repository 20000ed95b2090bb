"""transformprocessor — OTTL statement groups with per-group conditions.

Reference semantics (`processor/transformprocessor/internal/common/config.go:34-38`,
`common/logs.go:34-56`):
- config is a list of context-statement groups: {context, conditions[],
  statements[]}.
- a group's statements are skipped for records not matching the group's
  conditions (OR-composed gate, applied at `common/logs.go:42-51`);
- statements execute in order, later ones seeing earlier mutations
  (`pkg/ottl/parser.go:341-356`);
- log/resource/scope contexts all collapse to row-level ops on a denormalized
  table (resource attrs are replicated per row), with identical results.

Spark: a fold of withColumn transformations; every statement's where-clause
is AND-ed with the group gate, so one Catalyst projection chain implements
the whole group without row-level branching in Python.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..ottl import apply_statement, compile_conditions_or, context_cls


@dataclass
class StatementGroup:
    statements: list[str]
    conditions: list[str] = field(default_factory=list)
    context: str = "log"


def apply_group(df: DataFrame, group: StatementGroup) -> DataFrame:
    cls = context_cls(group.context)
    for src in group.statements:
        # the group gate is compiled against each statement's input frame
        gate = compile_conditions_or(group.conditions, cls(df)) if group.conditions else None
        df = apply_statement(df, src, cls, gate)
    return df


def transform(df: DataFrame, groups: list[StatementGroup]) -> DataFrame:
    for g in groups:
        df = apply_group(df, g)
    return df
