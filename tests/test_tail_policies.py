"""Full tail-sampling policy table tests
(processor/tailsamplingprocessor/config.go:12-52)."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.operators.traces import (
    TailPolicy,
    tail_sample_policies,
)


def _spans(spark):
    rows = []
    # trace A: 3 spans, one err, low latency
    for i, st in enumerate(["ok", "err", "ok"]):
        rows.append(("A", f"A#{i}", "svc1", st, 100, datetime(2024, 1, 1, 0, 0, 0), None))
    # trace B: 2 spans, slow
    for i in range(2):
        rows.append(("B", f"B#{i}", "svc2", "ok", 5000, datetime(2024, 1, 1, 0, 0, 1), None))
    # trace C: 1 span, boring
    rows.append(("C", "C#0", "svc3", "ok", 10, datetime(2024, 1, 1, 0, 0, 2), None))
    # trace D: 6 spans, tracestate vendor=x
    for i in range(6):
        rows.append(("D", f"D#{i}", "svc1", "ok", 50, datetime(2024, 1, 1, 0, 0, 3), "vendor=x,o=y"))
    return spark.createDataFrame(
        rows,
        ["trace_id", "span_id", "service", "status", "duration_ms", "ts", "trace_state"],
    ).withColumn("duration_ms", F.col("duration_ms").cast("long"))


def _kept(spark, policies):
    out = tail_sample_policies(_spans(spark), policies)
    return {r.trace_id for r in out.select("trace_id").distinct().collect()}


def test_status_and_latency_policies(spark):
    assert _kept(spark, [TailPolicy("status_code", status_codes=["err"])]) == {"A"}
    assert _kept(spark, [TailPolicy("latency", threshold_ms=2000)]) == {"B"}
    assert _kept(
        spark, [TailPolicy("latency", threshold_ms=2000, upper_threshold_ms=4000)]
    ) == set()


def test_latency_policy_boundaries(spark):
    """sampling/latency.go:53-56 boundary semantics: no upper bound keeps
    duration >= threshold (inclusive); with an upper bound the window is
    threshold < d <= upper (exclusive low, inclusive high)."""
    # A max dur = 100, B = 5000, C = 10, D = 50
    assert _kept(spark, [TailPolicy("latency", threshold_ms=100)]) == {"A", "B"}
    assert _kept(
        spark, [TailPolicy("latency", threshold_ms=100, upper_threshold_ms=5000)]
    ) == {"B"}  # A excluded (d == threshold), B included (d == upper)


def test_attribute_policies(spark):
    assert _kept(
        spark, [TailPolicy("string_attribute", key="service", values=["svc2"])]
    ) == {"B"}
    assert _kept(
        spark,
        [TailPolicy("string_attribute", key="service", values=["svc[23]"], enabled_regex_matching=True)],
    ) == {"B", "C"}
    # invert: traces where NO span has service svc1
    assert _kept(
        spark,
        [TailPolicy("string_attribute", key="service", values=["svc1"], invert_match=True)],
    ) == {"B", "C"}
    assert _kept(
        spark,
        [TailPolicy("numeric_attribute", key="duration_ms", min_value=4000, max_value=6000)],
    ) == {"B"}


def test_span_count_tracestate_always(spark):
    assert _kept(spark, [TailPolicy("span_count", min_spans=4)]) == {"D"}
    assert _kept(spark, [TailPolicy("span_count", min_spans=2, max_spans=3)]) == {"A", "B"}
    assert _kept(
        spark, [TailPolicy("trace_state", key="vendor", values=["x"])]
    ) == {"D"}
    assert _kept(spark, [TailPolicy("always_sample")]) == {"A", "B", "C", "D"}


def test_and_composition_and_or_of_policies(spark):
    both = TailPolicy(
        "and",
        sub_policies=[
            TailPolicy("string_attribute", key="service", values=["svc1"]),
            TailPolicy("span_count", min_spans=4),
        ],
    )
    assert _kept(spark, [both]) == {"D"}
    # OR across table entries
    assert _kept(
        spark,
        [TailPolicy("status_code", status_codes=["err"]), TailPolicy("latency", threshold_ms=2000)],
    ) == {"A", "B"}


def test_ottl_condition_policy(spark):
    assert _kept(
        spark,
        [TailPolicy("ottl_condition", span_conditions=['status == "err"'])],
    ) == {"A"}


def test_rate_limiting_admits_in_time_order(spark):
    # all 4 traces in distinct seconds -> each second admits up to budget
    assert _kept(spark, [TailPolicy("rate_limiting", spans_per_second=2)]) == {"B", "C"}
    # budget 6: every trace fits its own second
    assert _kept(spark, [TailPolicy("rate_limiting", spans_per_second=6)]) == {
        "A", "B", "C", "D",
    }


def test_composite_rate_allocation(spark):
    comp = TailPolicy(
        "composite",
        max_total_spans_per_second=10,
        sub_policies=[
            TailPolicy("string_attribute", key="service", values=["svc1"], rate_allocation_percent=50),
            TailPolicy("always_sample", rate_allocation_percent=20),
        ],
    )
    # svc1 traces (A: 3 spans, D: 6 spans) claim sub-policy 0 (budget 5):
    # A admitted (3 <= 5), D in its own second also starts fresh (6 > 5 -> out)
    # B (2 spans) and C (1 span) fall to always_sample (budget 2): admitted.
    assert _kept(spark, [comp]) == {"A", "B", "C"}


def test_window_strategy_matches_join_and_single_scan(spark, tmp_path):
    """Without a rate policy the window path runs: ONE scan/shuffle, and
    decisions identical to the join path that a rate policy selects (a
    zero span budget admits no trace, so it adds nothing to the OR)."""
    policies = [
        TailPolicy("status_code", status_codes=["err"]),
        TailPolicy("latency", threshold_ms=2000),
        TailPolicy("span_count", min_spans=4),
    ]
    joined_policies = policies + [TailPolicy("rate_limiting", spans_per_second=0)]
    df = _spans(spark)
    j = {(r.trace_id, r.span_id) for r in tail_sample_policies(df, joined_policies).collect()}
    w = {(r.trace_id, r.span_id) for r in tail_sample_policies(df, policies).collect()}
    assert j == w and {t for t, _ in j} == {"A", "B", "D"}
    # plan shape: one scan over a parquet source
    path = str(tmp_path / "spans")
    df.write.parquet(path)
    src = spark.read.parquet(path)

    def tree(ps):
        return (
            tail_sample_policies(src, ps)
            ._jdf.queryExecution()
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        ).split("\n\n")[0]

    assert tree(policies).count("Scan parquet") == 1
    assert tree(joined_policies).count("Scan parquet") == 2  # why rates cost more
