"""Route stage — routingconnector fan-out semantics.

Reference semantics (`connector/routingconnector`):
- ``match_once=true`` (switch): routes evaluated in table order, first match
  wins, matched rows *move* to that route's pipelines, remainder goes to
  ``default_pipelines`` (`logs.go:72-117`,
  `internal/plogutil/logs.go:12-26` MoveRecordsWithContextIf).
- ``match_once=false`` (match-all): every matching route receives a copy;
  non-matching rows go to default (`logs.go:119-153`).
- ``error_mode: ignore`` sends errored payloads to default
  (`config.go:30-39`) — here a NULL-valued condition falls through to
  default because ``when`` treats NULL as false.

Spark mapping: ONE projection computing a ``route`` column — first-match-wins
is ``coalesce(when(c1,'s1'), when(c2,'s2'), …, 'default')``; match-all is
``array(when…)`` + ``explode``. Either way the fact table is scanned once and
per-sink writes are `.filter(route == name)` over a cached routed frame or a
single `partitionBy('route')` write — never N independent scans.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_ROUTE = "default"


@dataclass
class Route:
    name: str
    condition: Column
    # optional OTTL mutation applied to rows this route claims (a route
    # statement may mutate, e.g. `delete_key(attributes, "X-Tenant") where
    # IsMatch(...)` — `connector/routingconnector/README.md:83-98`)
    mutation: str | None = None


def with_route_first_match(
    df: DataFrame, routes: list[Route], out_col: str = "route"
) -> DataFrame:
    """match_once=true: order-sensitive first-match-wins routing column.

    Mutations run only for rows the route actually claims (its condition
    holds AND no earlier route matched), before the route column is stamped.
    """
    if not any(r.mutation for r in routes):
        branches = [F.when(r.condition, F.lit(r.name)) for r in routes]
        return df.withColumn(out_col, F.coalesce(*branches, F.lit(DEFAULT_ROUTE)))

    from ..ottl import apply_statement

    # snapshot claim decisions BEFORE any mutation runs: a mutation may
    # rewrite columns that route conditions read, and the reference decides
    # membership on the un-mutated record (MoveRecordsWithContextIf moves
    # first, the route's statement mutates the moved batch)
    claim_cols = []
    not_earlier = F.lit(True)
    for i, r in enumerate(routes):
        matched = F.coalesce(r.condition, F.lit(False))
        df = df.withColumn(f"__claim_{i}", matched & not_earlier)
        claim_cols.append(f"__claim_{i}")
        not_earlier = not_earlier & ~matched
    for i, r in enumerate(routes):
        if r.mutation:
            df = apply_statement(df, r.mutation, gate=F.col(f"__claim_{i}"))
    branches = [
        F.when(F.col(f"__claim_{i}"), F.lit(r.name)) for i, r in enumerate(routes)
    ]
    return df.withColumn(out_col, F.coalesce(*branches, F.lit(DEFAULT_ROUTE))).drop(
        *claim_cols
    )


def with_route_match_all(
    df: DataFrame, routes: list[Route], out_col: str = "route"
) -> DataFrame:
    """match_once=false: duplicate each row into every matching route;
    rows matching nothing go to the default route exactly once."""
    arr = F.array(*[F.when(r.condition, F.lit(r.name)) for r in routes])
    matched = F.filter(arr, lambda x: x.isNotNull())
    routed = F.when(F.size(matched) > 0, matched).otherwise(
        F.array(F.lit(DEFAULT_ROUTE))
    )
    return df.withColumn(out_col, F.explode(routed))


# ---------------------------------------------------------------------------
# request context (`connector/routingconnector/request.go:32-77`)
# ---------------------------------------------------------------------------

import re as _re


def parse_request_condition(condition: str) -> tuple[str, str, str]:
    """'request["<name>"] ==|!= "<value>"' -> (name, comparator, value).

    Mirrors the reference's deliberately tiny grammar and its error cases
    (empty condition, zero/multiple comparators, malformed sides).
    """
    if not condition:
        raise ValueError("condition is empty")
    comparators = _re.findall(r"==|!=", condition)
    if len(comparators) == 0:
        raise ValueError("condition does not contain a valid comparator")
    if len(comparators) > 1:
        raise ValueError("condition contains multiple comparators")
    parts = condition.split(comparators[0])
    if len(parts) != 2:
        raise ValueError("condition does not contain a valid comparator")
    lhs, rhs = parts[0].strip(), parts[1].strip()
    if not _re.search(r'request\[".*"\]', lhs):
        raise ValueError('condition must have format \'request["<name>"] <comparator> <value>\'')
    if not _re.search(r'".*"', rhs):
        raise ValueError('condition must have format \'request["<name>"] <comparator> "<value>"\'')
    name = lhs[len('request["'):-len('"]')]
    value = rhs[1:-1]
    return name, comparators[0], value


def request_condition(condition: str, request_metadata: dict | None) -> Column:
    """Batch-level request-context route condition -> constant Column.

    The reference evaluates request conditions against gRPC/HTTP metadata of
    the whole incoming request (`request.go:79-107`): a missing key never
    matches (even for !=), and multi-valued keys match if ANY value
    satisfies the comparator. In Spark the analog of the request is the
    ingest batch, so the condition folds to a literal that routes the whole
    batch (Catalyst then prunes dead route branches for free).
    """
    name, op, want = parse_request_condition(condition)
    md = request_metadata or {}
    vals = md.get(name.lower(), md.get(name))
    if vals is None:
        return F.lit(False)
    if isinstance(vals, str):
        vals = [vals]
    if op == "==":
        hit = any(v == want for v in vals)
    else:
        hit = any(v != want for v in vals)
    return F.lit(bool(hit))
