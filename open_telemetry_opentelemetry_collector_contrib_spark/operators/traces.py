"""Trace-family operators: span derivation, groupbytrace, tailsampling,
servicegraph, exceptions connector.

The transcript table has no native spans; ``spanify_transcripts`` derives a
span-shaped frame (trace = conversation, span = turn, parent = previous
turn) deterministically, which is exactly the cross-engine-checkable input
these operators need.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def spanify_transcripts(parsed: DataFrame) -> DataFrame:
    """(trace_id, span_id, parent_span_id, service, status, duration_ms, ts).

    service = role; duration = latency_ms; parent = previous turn in the
    conversation (deterministic lag over the canonical turn order).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return parsed.select(
        F.col("conv_id").alias("trace_id"),
        F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string")).alias("span_id"),
        F.lag(
            F.concat_ws("#", "conv_id", F.col("turn_idx").cast("string"))
        ).over(w).alias("parent_span_id"),
        F.col("role").alias("service"),
        F.col("status"),
        F.col("latency_ms").alias("duration_ms"),
        F.col("ts"),
        F.col("turn_idx"),
    )


def group_by_trace(spans: DataFrame, max_spans: int | None = None) -> DataFrame:
    """groupbytraceprocessor (`processor/groupbytraceprocessor/processor.go:27-91`):
    assemble complete traces. The reference buffers by wait_duration and
    shards workers by traceID hash; in batch the shuffle key IS the traceID
    hash, and completeness is guaranteed by the bounded input. Emits one row
    per trace with the ordered span list."""
    member = F.struct(F.col("turn_idx").alias("o"), F.col("span_id").alias("s"))
    agg = spans.groupBy("trace_id").agg(
        F.count(F.lit(1)).alias("span_count"),
        F.transform(F.array_sort(F.collect_list(member)), lambda x: x["s"]).alias(
            "span_ids"
        ),
        F.max("duration_ms").alias("max_duration_ms"),
        F.sum(F.when(F.col("status") == "err", 1).otherwise(0)).alias("error_spans"),
    )
    if max_spans is not None:
        agg = agg.filter(F.col("span_count") <= max_spans)
    return agg


def service_graph(spans: DataFrame) -> DataFrame:
    """servicegraphconnector (`connector/servicegraphconnector/connector.go:61-113`):
    client->server edges from parent/child span matching, with request/error
    counts and duration stats per edge. Spark: one self-join on
    (trace_id, parent span id) — the reference's expiring in-memory edge
    store is replaced by the join shuffle."""
    clients = spans.select(
        F.col("trace_id"),
        F.col("span_id").alias("parent_id"),
        F.col("service").alias("client"),
    )
    servers = spans.select(
        F.col("trace_id"),
        F.col("parent_span_id").alias("parent_id"),
        F.col("service").alias("server"),
        F.col("status"),
        F.col("duration_ms"),
    ).filter(F.col("parent_id").isNotNull())
    edges = clients.join(servers, ["trace_id", "parent_id"])
    return edges.groupBy("client", "server").agg(
        F.count(F.lit(1)).alias("request_count"),
        F.sum(F.when(F.col("status") == "err", 1).otherwise(0)).alias("failed_count"),
        F.sum("duration_ms").alias("duration_sum_ms"),
        F.max("duration_ms").alias("duration_max_ms"),
    )


def exceptions_connector(
    parsed: DataFrame, window_s: int = 86400
) -> DataFrame:
    """exceptionsconnector (`connector/exceptionsconnector/connector_metrics.go:41-129`):
    count error events keyed by (service, operation, error type)."""
    from .aggregate import tumbling_window_id

    errors = parsed.filter(F.col("level") == "ERROR")
    return (
        errors.withColumn("window_id", tumbling_window_id(F.col("ts"), window_s))
        .groupBy("window_id", F.col("role").alias("service"), F.col("action").alias("exception_type"))
        .agg(F.count(F.lit(1)).alias("exception_count"))
    )


# ---------------------------------------------------------------------------
# tail sampling
# ---------------------------------------------------------------------------


@dataclass
class TailPolicy:
    """One tailsamplingprocessor policy (config.go:12-52 PolicyType set).

    Supported types: always_sample, latency, numeric_attribute,
    probabilistic, status_code, string_attribute, boolean_attribute,
    span_count, trace_state, ottl_condition, and, rate_limiting, composite.
    """

    type: str
    name: str = ""
    # latency
    threshold_ms: int | None = None
    upper_threshold_ms: int | None = None
    # *_attribute / trace_state
    key: str | None = None
    min_value: float | None = None
    max_value: float | None = None
    values: list[str] = field(default_factory=list)
    value: bool | None = None
    enabled_regex_matching: bool = False
    invert_match: bool = False
    # probabilistic
    sampling_percentage: float = 10.0
    hash_salt: str = ""
    # status_code
    status_codes: list[str] = field(default_factory=list)
    # span_count
    min_spans: int | None = None
    max_spans: int | None = None
    # ottl_condition
    span_conditions: list[str] = field(default_factory=list)
    # rate_limiting / composite
    spans_per_second: int | None = None
    max_total_spans_per_second: int | None = None
    sub_policies: list["TailPolicy"] = field(default_factory=list)
    rate_allocation_percent: float = 100.0


def _span_match(p: TailPolicy, spans: DataFrame) -> Column:
    """Per-SPAN predicate for span-scoped policy types (aggregated to
    any-span-in-trace by the decision stage)."""
    if p.type == "numeric_attribute":
        c = F.col(p.key).cast("double")
        cond = F.lit(True)
        if p.min_value is not None:
            cond = cond & (c >= p.min_value)
        if p.max_value is not None:
            cond = cond & (c <= p.max_value)
        return F.coalesce(cond & c.isNotNull(), F.lit(False))
    if p.type == "string_attribute":
        c = F.col(p.key).cast("string")
        if p.enabled_regex_matching:
            cond = F.lit(False)
            for v in p.values:
                cond = cond | c.rlike(v)
        else:
            cond = c.isin(p.values) if p.values else c.isNotNull()
        return F.coalesce(cond, F.lit(False))
    if p.type == "boolean_attribute":
        return F.coalesce(F.col(p.key).cast("boolean") == bool(p.value), F.lit(False))
    if p.type == "status_code":
        return F.coalesce(F.col("status").isin(p.status_codes), F.lit(False))
    if p.type == "trace_state":
        # W3C tracestate "k1=v1,k2=v2": match when p.key carries one of values
        ts_val = F.regexp_extract(
            F.coalesce(F.col("trace_state"), F.lit("")), rf"(?:^|,)\s*{p.key}=([^,]*)", 1
        )
        return ts_val.isin(p.values)
    if p.type == "ottl_condition":
        # first-class span grammar (span.kind, status.code enums, end_time
        # math, IsRootSpan) — `tailsamplingprocessor/internal/sampling/
        # ottl.go:31-60` parses these with the span context
        from ..ottl import SpanContext, compile_conditions_or

        return compile_conditions_or(p.span_conditions, SpanContext(spans))
    raise ValueError(f"not a span-scoped policy: {p.type}")


_SPAN_SCOPED = {
    "numeric_attribute", "string_attribute", "boolean_attribute",
    "status_code", "trace_state", "ottl_condition",
}


def _trace_decision(p: TailPolicy, idx: int) -> Column:
    """Per-TRACE decision from the aggregated trace stats frame."""
    if p.type == "always_sample":
        return F.lit(True)
    if p.type == "latency":
        # boundary semantics per sampling/latency.go:53-56: no upper bound ->
        # duration >= threshold; with upper -> threshold < d AND d <= upper
        d = F.col("__max_dur")
        if p.upper_threshold_ms is None:
            cond = d >= (p.threshold_ms or 0)
        else:
            cond = (d > (p.threshold_ms or 0)) & (d <= p.upper_threshold_ms)
        return F.coalesce(cond, F.lit(False))
    if p.type == "probabilistic":
        bucket = F.pmod(
            F.xxhash64(F.col("trace_id"), F.lit(p.hash_salt)), F.lit(10000)
        )
        return bucket < int(p.sampling_percentage * 100)
    if p.type == "span_count":
        c = F.col("__span_count")
        cond = F.lit(True)
        if p.min_spans is not None:
            cond = cond & (c >= p.min_spans)
        if p.max_spans is not None:
            cond = cond & (c <= p.max_spans)
        return cond
    if p.type in _SPAN_SCOPED:
        matched = F.col(f"__p{idx}") == 1
        return ~matched if p.invert_match else matched
    if p.type == "and":
        sub = [
            _trace_decision(sp, f"{idx}_{j}")  # type: ignore[arg-type]
            for j, sp in enumerate(p.sub_policies)
        ]
        out = sub[0]
        for s in sub[1:]:
            out = out & s
        return out
    raise ValueError(f"unknown tail-sampling policy {p.type!r}")


def _collect_span_scoped(policies: list[TailPolicy], prefix="") -> list[tuple[str, TailPolicy]]:
    out = []
    for i, p in enumerate(policies):
        idx = f"{prefix}{i}"
        if p.type in _SPAN_SCOPED:
            out.append((idx, p))
        elif p.type in ("and", "composite"):
            out += _collect_span_scoped(p.sub_policies, prefix=f"{idx}_")
    return out


def tail_sample_policies(spans: DataFrame, policies: list[TailPolicy]) -> DataFrame:
    """tailsamplingprocessor with the full policy table: one pass
    computes every per-trace stat, policy decisions are OR-composed
    (a trace survives if ANY policy samples it), then all spans of sampled
    traces are released — decision-then-release, the reference's
    shape (processor.go samplingPolicyOnTick) without the in-memory trace
    buffer (the shuffle by trace_id IS the buffer in batch).

    rate_limiting / composite are batch analogs: traces are admitted in
    trace-start-time order until the per-second span budget is exhausted
    (cumulative window sum per second bucket), matching the reference's
    steady-state admission behavior deterministically.

    Without a rate policy the per-trace stats come from
    Window.partitionBy(trace_id) and an inline filter: ONE scan and one
    shuffle. Rate policies order whole TRACES, not spans, so with one
    present the stats are a groupBy and a semi-join releases the spans
    (two scans of the span input).
    """
    has_rate = any(p.type in ("rate_limiting", "composite") for p in policies)
    span_scoped = _collect_span_scoped(policies)
    if not has_rate:
        w = Window.partitionBy("trace_id")
        df = (
            spans.withColumn("__span_count", F.count(F.lit(1)).over(w))
            .withColumn("__max_dur", F.max("duration_ms").over(w))
        )
        for idx, p in span_scoped:
            df = df.withColumn(
                f"__p{idx}", F.max(_span_match(p, spans).cast("int")).over(w)
            )
        decision = F.lit(False)
        for i, p in enumerate(policies):
            decision = decision | _trace_decision(p, i)
        return df.filter(decision).drop(
            "__span_count", "__max_dur", *[f"__p{idx}" for idx, _ in span_scoped]
        )
    aggs = [
        F.count(F.lit(1)).alias("__span_count"),
        F.max("duration_ms").alias("__max_dur"),
        F.min("ts").alias("__t0"),
    ]
    for idx, p in span_scoped:
        aggs.append(F.max(_span_match(p, spans).cast("int")).alias(f"__p{idx}"))
    stats = spans.groupBy("trace_id").agg(*aggs)

    decision = F.lit(False)
    rate_limited: list[tuple[int, TailPolicy]] = []
    for i, p in enumerate(policies):
        if p.type in ("rate_limiting", "composite"):
            rate_limited.append((i, p))
            continue
        decision = decision | _trace_decision(p, i)

    stats = stats.withColumn("__keep", decision)

    if rate_limited:
        sec = F.floor(F.unix_timestamp("__t0")).cast("long")
        stats = stats.withColumn("__sec", sec)
        for i, p in rate_limited:
            if p.type == "rate_limiting":
                w = (
                    Window.partitionBy("__sec")
                    .orderBy(F.col("__t0"), F.col("trace_id"))
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                admitted = F.sum("__span_count").over(w) <= (p.spans_per_second or 0)
                stats = stats.withColumn("__keep", F.col("__keep") | admitted)
            else:  # composite: first matching sub-policy claims the trace,
                # each sub-policy spends its allocated share of the budget
                total = p.max_total_spans_per_second or 0
                claims = [
                    F.when(_trace_decision(sp, f"{i}_{j}"), F.lit(j))
                    for j, sp in enumerate(p.sub_policies)
                ]
                stats = stats.withColumn("__claim", F.coalesce(*claims, F.lit(-1)))
                admitted = F.lit(False)
                for j, sp in enumerate(p.sub_policies):
                    budget = int(total * sp.rate_allocation_percent / 100.0)
                    w = (
                        Window.partitionBy("__sec", "__claim")
                        .orderBy(F.col("__t0"), F.col("trace_id"))
                        .rowsBetween(Window.unboundedPreceding, 0)
                    )
                    admitted = admitted | (
                        (F.col("__claim") == j)
                        & (F.sum("__span_count").over(w) <= budget)
                    )
                stats = stats.withColumn("__keep", F.col("__keep") | admitted)

    sampled = stats.filter(F.col("__keep")).select("trace_id")
    return spans.join(sampled, "trace_id", "left_semi")
