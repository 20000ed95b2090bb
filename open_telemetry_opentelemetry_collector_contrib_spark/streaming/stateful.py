"""Custom stateful streaming operators via applyInPandasWithState.

The reference's stateful processors keep per-stream in-memory state with
staleness eviction:
- deltatocumulativeprocessor: running sum per stream identity, ``max_stale``
  eviction, ``max_streams`` cap (`processor/deltatocumulativeprocessor/config.go:19-31`);
- cumulativetodeltaprocessor: previous-value memory per stream.

Structured Streaming analog: ``applyInPandasWithState`` with GroupState —
state = the running sum per stream key, eviction = state timeout. Batch
parity lives in operators/metrics.py (window functions); this module is the
streaming-native path for unbounded inputs.
"""

from __future__ import annotations

import uuid
from collections import OrderedDict
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("vi", T.LongType()),
        T.StructField("cumulative", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("running", T.LongType())])


def _d2c_fn(
    key, pdf_iter: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-stream running sum; state survives across micro-batches."""
    running = state.get[0] if state.exists else 0
    for pdf in pdf_iter:
        pdf = pdf.sort_values(["ts", "event_id"])
        cum = pdf["vi"].cumsum() + running
        running = int(cum.iloc[-1]) if len(cum) else running
        yield pd.DataFrame(
            {
                "user_id": pdf["user_id"],
                "event_type": pdf["event_type"],
                "event_id": pdf["event_id"],
                "vi": pdf["vi"],
                "cumulative": cum.astype("int64"),
            }
        )
    state.update((running,))


# per-worker stream admission registry: (query token, partition id) ->
# admitted stream keys. applyInPandasWithState sees one key at a time, so
# the max_streams cap (a per-collector memory bound in the reference) is
# enforced per state PARTITION via this registry. Namespacing by a per-query
# token (minted at plan-build time) keeps stale keys from a previous
# stream/query in the same long-lived Python worker from consuming a later
# query's capacity. Worker memory, not checkpointed: after a restart it
# refills from traffic — the bound re-establishes within one batch, erring
# briefly toward admitting. Note also that each Python worker process holds
# its own registry, so the effective cap is per (worker, partition) — a
# memory-protection backstop, not an exactness contract; documented
# divergence. The registry itself is LRU-bounded: a long-lived worker that
# serves many successive queries would otherwise accumulate one admitted-key
# set per (query, partition) forever — finished queries never signal the
# worker, so eviction is by recency, sized far above any plausible number
# of concurrently-live (query, partition) pairs on one worker.
_ADMITTED: "OrderedDict[tuple[str, int], set]" = OrderedDict()
_ADMITTED_MAX = 512


def _admitted_set(token: str, pid: int) -> set:
    key = (token, pid)
    s = _ADMITTED.get(key)
    if s is None:
        s = _ADMITTED[key] = set()
    else:
        _ADMITTED.move_to_end(key)
    while len(_ADMITTED) > _ADMITTED_MAX:
        _ADMITTED.popitem(last=False)
    return s


def _partition_id() -> int:
    from pyspark import TaskContext

    tc = TaskContext.get()
    return tc.partitionId() if tc is not None else 0


def _d2c_guarded(
    max_stale_ms: int | None,
    max_streams_per_partition: int | None,
    query_token: str = "",
):
    """Compose the running-sum fn with max_stale TTL eviction and the
    max_streams admission cap (`deltatocumulativeprocessor/processor.go:88-93`:
    'if stream new and state capacity reached, reject' -> datapoints of
    rejected streams DROP; existing streams keep flowing; an evicted (stale)
    stream frees capacity)."""

    def fn(key, pdf_iter, state: GroupState):
        adm = None
        if max_streams_per_partition is not None:
            adm = _admitted_set(query_token, _partition_id())
        if max_stale_ms and state.hasTimedOut:
            state.remove()
            if adm is not None:
                adm.discard(key)
            return iter(())
        if adm is not None:
            if state.exists:
                adm.add(key)  # repopulate after worker restart
            elif key not in adm:
                if len(adm) >= max_streams_per_partition:
                    return iter(())  # reject: new stream at capacity
                adm.add(key)
        out = list(_d2c_fn(key, pdf_iter, state))
        if max_stale_ms:
            state.setTimeoutDuration(max_stale_ms)
        return iter(out)

    return fn


def delta_to_cumulative_stream(
    events: DataFrame,
    max_stale_ms: int | None = None,
    max_streams_per_partition: int | None = None,
) -> DataFrame:
    """Streaming deltatocumulative over (user_id, event_type) streams.

    Input: streaming frame with (user_id, event_type, event_id, vi, ts).
    ``max_stale_ms``: optional state eviction (the reference's max_stale);
    off by default — a ProcessingTime timeout keeps the query ticking, which
    never terminates under availableNow drains.
    ``max_streams_per_partition``: the reference's ``max_streams`` cap
    (`config.go:19-31`), sharded: state lives in one store per shuffle
    partition, so the global cap is max_streams / shuffle partitions.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if max_stale_ms
        else GroupStateTimeout.NoTimeout
    )
    fn = (
        _d2c_fn
        if not max_stale_ms and max_streams_per_partition is None
        else _d2c_guarded(max_stale_ms, max_streams_per_partition, uuid.uuid4().hex)
    )
    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# streaming deltatocumulative for EXPONENTIAL histograms
# ---------------------------------------------------------------------------

EXPO_STATE_SCHEMA = T.StructType(
    [
        T.StructField("scale", T.LongType()),
        T.StructField("idxs", T.ArrayType(T.LongType())),
        T.StructField("cnts", T.ArrayType(T.LongType())),
    ]
)


def _expo_fn_factory(series_cols: list[str]):
    """Per-series streaming merge for exponential-histogram deltas
    (`deltatocumulativeprocessor/internal/data/expo/scale.go:43-90`
    Downscale/Collapse + `merge.go:12-37` Merge). State = (current scale,
    running bucket map); each window's deltas merge in O(buckets):

    - target scale = min(state scale, window's scale) — the running MIN, as
      upscaling would fabricate distribution detail (the reference panics
      on it);
    - when the target drops, every existing state bucket collapses
      idx -> floor(idx / 2^d) (Python ``//`` floors toward -inf, matching
      the batch twin's (i - pmod(i, 2^d)) / 2^d for negative indices);
    - incoming deltas downscale from their own scale, then add in;
    - after each window the FULL cumulative histogram is emitted.

    This is the unbounded-input production path whose batch twin
    (operators/metrics.py expo_cumulative, a per-series range join onto
    the output grid) is the oracle; parity is pinned in
    tests/test_stateful_streaming.py. Windows must arrive in order within
    a series (guaranteed per micro-batch by the sort below; cross-batch
    ordering is the source's contract, as for every cumulative stream).
    """

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            scale, idxs, cnts = state.get
            buckets = dict(zip(idxs, cnts))
        else:
            scale, buckets = None, {}
        pdfs = [pdf for pdf in pdf_iter]
        out_rows: list[tuple] = []
        if pdfs:
            allpdf = pd.concat(pdfs, ignore_index=True)
            for win, grp in allpdf.sort_values("window_id").groupby(
                "window_id", sort=True
            ):
                wmin = int(grp["scale"].min())
                target = wmin if scale is None else min(int(scale), wmin)
                if scale is not None and target < int(scale):
                    d = int(scale) - target
                    collapsed: dict[int, int] = {}
                    for i, c in buckets.items():
                        ni = int(i) // (1 << d)
                        collapsed[ni] = collapsed.get(ni, 0) + int(c)
                    buckets = collapsed
                scale = target
                for row_scale, row_idx, row_cnt in zip(
                    grp["scale"], grp["idx"], grp["cnt"]
                ):
                    d = int(row_scale) - target
                    ni = int(row_idx) // (1 << d)
                    buckets[ni] = buckets.get(ni, 0) + int(row_cnt)
                for i in sorted(buckets):
                    out_rows.append((*key, int(win), target, i, buckets[i]))
        state.update(
            (
                None if scale is None else int(scale),
                [int(i) for i in buckets],
                [int(c) for c in buckets.values()],
            )
        )
        if out_rows:
            yield pd.DataFrame(
                out_rows,
                columns=[*series_cols, "window_id", "scale", "idx", "cum_cnt"],
            )

    return fn


def expo_cumulative_stream(
    deltas: DataFrame, series_cols: list[str] | None = None
) -> DataFrame:
    """Streaming expo-histogram d2c over (series, window_id, scale, idx,
    cnt) delta rows; output one row per (series, window, running-min scale,
    collapsed idx, cumulative count) — the schema of the batch twin."""
    series_cols = series_cols or ["series"]
    fields = {f.name: f.dataType for f in deltas.schema.fields}
    out_schema = T.StructType(
        [T.StructField(c, fields[c]) for c in series_cols]
        + [
            T.StructField("window_id", T.LongType()),
            T.StructField("scale", T.LongType()),
            T.StructField("idx", T.LongType()),
            T.StructField("cum_cnt", T.LongType()),
        ]
    )
    return deltas.groupBy(*series_cols).applyInPandasWithState(
        _expo_fn_factory(series_cols),
        outputStructType=out_schema,
        stateStructType=EXPO_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,  # availableNow-drain safe
    )


# ---------------------------------------------------------------------------
# streaming groupbytrace (wait_duration buffering, whole-trace release)
# ---------------------------------------------------------------------------

GBT_OUT_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("span_ids", T.ArrayType(T.StringType())),
        T.StructField("max_duration_ms", T.LongType()),
        T.StructField("error_spans", T.LongType()),
    ]
)

GBT_STATE_SCHEMA = T.StructType(
    [
        T.StructField("first_ts_ms", T.LongType()),
        T.StructField("buffered", T.StringType()),
    ]
)


def _gbt_fn_factory(wait_ms: int, error_status: str = "err"):
    """Streaming groupbytraceprocessor
    (`groupbytraceprocessor/processor.go:138-190`): the FIRST span of a
    trace schedules its release wait_duration later; until then every
    span buffers; at release the COMPLETE trace emits as one aggregated
    row (the batch group_by_trace shape) and state clears. The
    reference's wall-clock AfterFunc timer becomes an EVENT-time timeout
    at first_span_time + wait_duration — on a drained stream that means
    exactly the traces whose release point the final watermark passed
    are out, and late-starting traces are still held, which is the
    observable contract the parity test pins."""
    import json as _json

    def fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            first_ts, buffered = state.get
            rows = _json.loads(buffered)
            state.remove()
            if rows:
                rows.sort(key=lambda r: (r["o"], r["s"]))
                yield pd.DataFrame(
                    [
                        (
                            key[0],
                            len(rows),
                            [r["s"] for r in rows],
                            max(r["d"] for r in rows),
                            sum(1 for r in rows if r["st"] == error_status),
                        )
                    ],
                    columns=[
                        "trace_id",
                        "span_count",
                        "span_ids",
                        "max_duration_ms",
                        "error_spans",
                    ],
                )
            return
        if state.exists:
            first_ts, buffered = state.get
            buf = _json.loads(buffered)
        else:
            first_ts, buf = None, []
        for pdf in pdf_iter:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).astype("int64")
            batch_first = int(ts_ms.min()) if len(ts_ms) else None
            if batch_first is not None:
                first_ts = batch_first if first_ts is None else min(first_ts, batch_first)
            for o, s, d, st in zip(
                pdf["turn_idx"], pdf["span_id"], pdf["duration_ms"], pdf["status"]
            ):
                buf.append(
                    {"o": int(o), "s": str(s), "d": int(d), "st": str(st)}
                )
        state.update((first_ts, _json.dumps(buf)))
        if first_ts is not None:
            # the release timer; must stay ahead of the current watermark
            # (Spark rejects a timeout at/below it)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(first_ts + wait_ms, wm + 1))
        return

    return fn


def group_by_trace_stream(
    spans: DataFrame, wait_duration_ms: int, error_status: str = "err"
) -> DataFrame:
    """groupbytrace under streaming: buffer per trace_id, release the
    assembled trace wait_duration after its first span (event time).
    Input must carry a watermark on ``ts``."""
    return spans.groupBy("trace_id").applyInPandasWithState(
        _gbt_fn_factory(wait_duration_ms, error_status),
        outputStructType=GBT_OUT_SCHEMA,
        stateStructType=GBT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# streaming tail sampling (decision-then-release with a decision cache)
# ---------------------------------------------------------------------------

TAIL_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("trace_id", T.StringType()),
        T.StructField("span_id", T.StringType()),
        T.StructField("service", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

# decided flag + running per-trace stats + undecided span buffer (JSON rows)
TAIL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("decided", T.BooleanType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("max_dur", T.LongType()),
        T.StructField("err_count", T.LongType()),
        T.StructField("buffered", T.StringType()),
    ]
)


def _tail_fn_factory(
    latency_threshold_ms: int | None,
    error_status: str,
    min_spans: int | None,
):
    """Streaming tailsampling decision function.

    Mirrors the reference's flow (`tailsamplingprocessor/processor.go`
    samplingPolicyOnTick + decision cache): spans buffer per trace until a
    policy fires; once Sampled, the decision is CACHED — later spans of the
    trace release immediately. Undecided traces never emit (= NotSampled at
    stream end). Only monotone policies are offered here (latency at or
    over threshold, `sampling/latency.go:53-54`; error status; min span
    count): a decision that is true on a prefix stays true on the full
    trace, so early release is exactly the batch semantics.
    """
    import json as _json

    def fn(key, pdf_iter, state: GroupState):
        if state.exists:
            decided, cnt, mx, err, buffered = state.get
        else:
            decided, cnt, mx, err, buffered = False, 0, 0, 0, "[]"
        buf = _json.loads(buffered)
        for pdf in pdf_iter:
            cnt += len(pdf)
            durs = pdf["duration_ms"].dropna()
            if len(durs):
                mx = max(mx, int(durs.max()))
            err += int((pdf["status"] == error_status).sum())
            rows = pdf.assign(ts=pdf["ts"].astype("int64"))  # ns since epoch
            if decided:
                yield pdf
            else:
                buf.extend(rows.to_dict("records"))
        if not decided:
            hit = (err > 0) or (
                latency_threshold_ms is not None and mx >= latency_threshold_ms
            ) or (min_spans is not None and cnt >= min_spans)
            if hit:
                decided = True
                if buf:
                    out = pd.DataFrame(buf)
                    out["ts"] = pd.to_datetime(out["ts"])
                    yield out
                buf = []
        state.update((decided, cnt, mx, err, _json.dumps(buf)))

    return fn


def tail_sample_stream(
    spans: DataFrame,
    latency_threshold_ms: int | None = None,
    error_status: str = "err",
    min_spans: int | None = None,
) -> DataFrame:
    """Streaming tail sampler over a span stream keyed by trace_id."""
    fn = _tail_fn_factory(latency_threshold_ms, error_status, min_spans)
    return spans.groupBy("trace_id").applyInPandasWithState(
        fn,
        outputStructType=TAIL_SPAN_SCHEMA,
        stateStructType=TAIL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,  # availableNow-drain safe
    )
