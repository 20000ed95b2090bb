"""Operator-suite query catalog: each SURVEY.md §2 operator exposed as a
(spark, sf_dir) -> DataFrame callable with a DuckDB oracle twin.

Compared outputs avoid raw doubles/timestamps (epoch-second or scaled-integer
surrogates) so value hashes are engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen
from ..functions import dedupe as dedupe_fns
from ..operators import dedup as dedup_ops
from ..operators import filter as filter_ops
from ..operators import metrics as metric_ops
from ..operators import recombine as recombine_ops
from ..operators import sample as sample_ops
from ..operators import transform as transform_ops
from ..operators.route import Route, with_route_match_all
from ..sources.tables import load_table, spread_scan
from . import pipeline

_PREFIX = datagen.duckdb_cte_prefix()

# DuckDB parsed-transcripts CTE for this catalog's oracles: the flagship
# regex fields plus the raw ``text``, without ``prop_k``/``parse_ok``
_PARSED_CTE = r"""
, parsed AS (
  SELECT conv_id, turn_idx, role, tool, ts,
    nullif(regexp_extract(text, '^(INFO|ERROR|WARN|DEBUG) ', 1), '') AS level,
    nullif(regexp_extract(text, 'action=([a-z_]+)', 1), '') AS action,
    CAST(nullif(regexp_extract(text, 'latency_ms=([0-9]+)', 1), '') AS BIGINT) AS latency_ms,
    nullif(regexp_extract(text, 'status=([a-z]+)', 1), '') AS status,
    nullif(regexp_extract(text, 'msg="([^"]*)"', 1), '') AS msg,
    text
  FROM transcripts_cte
)
"""


def _events_vi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with an integer value surrogate (engine-portable)."""
    return load_table(spark, sf_dir, "events").withColumn(
        "vi", F.floor(F.col("value") * 1000).cast("bigint")
    )


_EVENTS_VI = "SELECT *, CAST(floor(value * 1000) AS BIGINT) AS vi FROM events"


# ---------------------------------------------------------------------------
# filterprocessor
# ---------------------------------------------------------------------------


def q_filter_ottl_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = filter_ops.filter_ottl(ev, ['event_type == "view"', "value < 1.0"])
    return out.select("event_id", "event_type", F.unix_timestamp("ts").alias("ts_s"))


O_FILTER_OTTL = """
SELECT event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
FROM events
WHERE NOT coalesce(event_type = 'view' OR value < 1.0, FALSE)
"""


def q_filter_match_props(spark, sf_dir):
    df = pipeline.parsed(spark, sf_dir)
    out = filter_ops.filter_match_properties(
        df,
        include=filter_ops.LogMatchProperties(match_type="regexp", bodies=["^INFO.*"]),
        exclude=filter_ops.LogMatchProperties(match_type="strict", attributes={"status": "err"}),
    )
    return out.select("conv_id", "turn_idx")


O_FILTER_MATCH = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT conv_id, turn_idx FROM parsed
WHERE coalesce(regexp_matches(text, '^INFO.*'), FALSE)
  AND NOT coalesce(status = 'err', FALSE)
"""
)


# ---------------------------------------------------------------------------
# transformprocessor (OTTL statement groups)
# ---------------------------------------------------------------------------

_TRANSFORM_STATEMENTS = [
    'set(level_lc, ConvertCase(level, "lower"))',
    'replace_pattern(msg, "payload [0-9]+", "payload <n>")',
    "set(is_slow, latency_ms > 500)",
    'set(sev_num, 9) where level == "INFO"',
    'set(sev_num, 17) where level == "ERROR"',
]


def q_transform_statements(spark, sf_dir):
    df = pipeline.parsed(spark, sf_dir)
    out = transform_ops.transform(
        df, [transform_ops.StatementGroup(statements=_TRANSFORM_STATEMENTS)]
    )
    return out.select("conv_id", "turn_idx", "level_lc", "msg", "is_slow", "sev_num")


O_TRANSFORM = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT conv_id, turn_idx,
       lower(level) AS level_lc,
       regexp_replace(msg, 'payload [0-9]+', 'payload <n>') AS msg,
       coalesce(latency_ms > 500, FALSE) AS is_slow,
       CASE level WHEN 'INFO' THEN 9 WHEN 'ERROR' THEN 17 END AS sev_num
FROM parsed
"""
)


# ---------------------------------------------------------------------------
# logdedupprocessor
# ---------------------------------------------------------------------------

_DEDUP_EXCLUDE = ["conv_id", "turn_idx", "text", "msg", "prop_k", "latency_ms"]


def q_boilerplate_turns(spark, sf_dir):
    """Cross-conversation boilerplate suppression (C4 duplicate-line policy
    lifted to transcript turns): drop turns whose exact text appears in >= 3
    distinct conversations. One distinct-count aggregate builds the (tiny)
    boilerplate set; the corpus takes a broadcast LEFT ANTI join and never
    shuffles (functions/dedupe.py suppress_boilerplate_turns)."""
    from ..functions.dedupe import suppress_boilerplate_turns

    t = pipeline.transcripts(spark, sf_dir)
    out = suppress_boilerplate_turns(t, min_groups=3)
    return out.select(
        "conv_id", "turn_idx", "role", "tool", "text",
        F.unix_timestamp("ts").alias("ts_s"),
    )


O_BOILERPLATE_TURNS = (
    _PREFIX
    + """
, boiler AS (
  SELECT text FROM transcripts_cte GROUP BY text
  HAVING count(DISTINCT conv_id) >= 3
)
SELECT conv_id, turn_idx, role, tool, text,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
FROM transcripts_cte
WHERE text NOT IN (SELECT text FROM boiler)
"""
)


def q_expo_cumulative(spark, sf_dir):
    """deltatocumulative for exponential histograms with scale
    reconciliation (`data/expo` Downscale/Merge). Synthetic delta
    histogram points are derived from events with deterministic integer
    arithmetic (series=event_type, alternating per-window scales, bucket
    idx spread over negatives and positives) so the downscale's
    floor-division-of-negative-indices path is exercised and the whole
    merge is hash-checked vs DuckDB (operators/metrics.py
    expo_cumulative)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    deltas = (
        ev.select(
            F.col("event_type").alias("series"),
            win.alias("window_id"),
            (F.lit(2) - F.pmod(win, F.lit(2))).cast("bigint").alias("scale"),
            (F.pmod(F.col("event_id") * 7, F.lit(37)) - F.lit(12))
            .cast("bigint")
            .alias("idx"),
        )
        .groupBy("series", "window_id", "scale", "idx")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return metric_ops.expo_cumulative(deltas, series_cols=["series"])


O_EXPO_CUMULATIVE = """
WITH deltas AS (
  SELECT event_type AS series,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
         CAST(2 - (CAST(floor(epoch(ts) / 86400) AS BIGINT) % 2) AS BIGINT) AS scale,
         CAST(((event_id * 7) % 37 + 37) % 37 - 12 AS BIGINT) AS idx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2, 3, 4
), targets AS (
  SELECT DISTINCT series, window_id,
         min(scale) OVER (PARTITION BY series ORDER BY window_id
                          ROWS UNBOUNDED PRECEDING) AS target_scale
  FROM deltas
), joined AS (
  SELECT t.series, t.window_id, t.target_scale,
         d.idx, d.cnt,
         CAST(power(2, d.scale - t.target_scale) AS BIGINT) AS p
  FROM targets t JOIN deltas d
    ON d.series = t.series AND d.window_id <= t.window_id
)
SELECT series, window_id, CAST(target_scale AS BIGINT) AS scale,
       CAST((idx - ((idx % p + p) % p)) / p AS BIGINT) AS idx,
       CAST(sum(cnt) AS BIGINT) AS cum_cnt
FROM joined
GROUP BY series, window_id, target_scale, 4
"""


def q_conv_quality(spark, sf_dir):
    """Conversation-level quality roll-up for transcript training data:
    per conv_id — turn/error/tool-call counts, parse-ok ratio, total
    latency, and a composite keep flag (the SFT-corpus conversation filter:
    parseable, not error-dominated). One aggregation on conv_id; on the
    bucketed production layout (bucket(conv_id)) this is exchange-free,
    same as the flagship windowed counts."""
    df = pipeline.parsed(spark, sf_dir)
    agg = df.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.sum(
            F.when((F.col("level") == "ERROR") | (F.col("status") == "err"), 1)
            .otherwise(0)
        ).cast("bigint").alias("n_errors"),
        F.sum(
            F.when((F.col("role") == "tool") & (F.col("tool") != ""), 1).otherwise(0)
        ).cast("bigint").alias("n_tool_calls"),
        F.sum(F.when(F.col("parse_ok"), 1).otherwise(0)).cast("bigint").alias("n_parsed"),
        F.coalesce(F.sum("latency_ms"), F.lit(0)).cast("bigint").alias("total_latency_ms"),
    )
    parse_ratio = F.col("n_parsed").cast("double") / F.col("n_turns")
    err_ratio = F.col("n_errors").cast("double") / F.col("n_turns")
    return agg.select(
        "conv_id", "n_turns", "n_errors", "n_tool_calls", "n_parsed",
        "total_latency_ms",
        F.floor(parse_ratio * 1_000_000).cast("bigint").alias("parse_ok_ppm"),
        ((parse_ratio >= 0.9) & (err_ratio <= 0.5)).alias("keep"),
    )


O_CONV_QUALITY = (
    _PREFIX
    + _PARSED_CTE
    + """
, agg AS (
  SELECT conv_id,
    CAST(count(*) AS BIGINT) AS n_turns,
    CAST(sum(CASE WHEN level = 'ERROR' OR status = 'err' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
    CAST(sum(CASE WHEN role = 'tool' AND tool <> '' THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_calls,
    CAST(sum(CASE WHEN level IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed,
    CAST(coalesce(sum(latency_ms), 0) AS BIGINT) AS total_latency_ms
  FROM parsed GROUP BY conv_id
)
SELECT conv_id, n_turns, n_errors, n_tool_calls, n_parsed, total_latency_ms,
  CAST(floor((CAST(n_parsed AS DOUBLE) / n_turns) * 1000000.0) AS BIGINT) AS parse_ok_ppm,
  (CAST(n_parsed AS DOUBLE) / n_turns >= 0.9
   AND CAST(n_errors AS DOUBLE) / n_turns <= 0.5) AS keep
FROM agg
"""
)


def q_conv_integrity(spark, sf_dir):
    """Turn-ordering integrity audit — the north-rule invariant (stable
    per-conv turn order) as a checkable table: per conv_id, turn count,
    index range, distinct-index count, and a contiguity flag
    (0..n-1 with no gaps or duplicates). A violation here means routed-row
    order vs the reference collector's golden output cannot be byte-equal."""
    t = pipeline.transcripts(spark, sf_dir)
    agg = t.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.min("turn_idx").cast("bigint").alias("min_idx"),
        F.max("turn_idx").cast("bigint").alias("max_idx"),
        F.count_distinct("turn_idx").cast("bigint").alias("n_distinct_idx"),
    )
    return agg.withColumn(
        "contiguous",
        (F.col("min_idx") == 0)
        & (F.col("max_idx") == F.col("n_turns") - 1)
        & (F.col("n_distinct_idx") == F.col("n_turns")),
    )


O_CONV_INTEGRITY = (
    _PREFIX
    + """
SELECT conv_id,
  CAST(count(*) AS BIGINT) AS n_turns,
  CAST(min(turn_idx) AS BIGINT) AS min_idx,
  CAST(max(turn_idx) AS BIGINT) AS max_idx,
  CAST(count(DISTINCT turn_idx) AS BIGINT) AS n_distinct_idx,
  (min(turn_idx) = 0 AND max(turn_idx) = count(*) - 1
   AND count(DISTINCT turn_idx) = count(*)) AS contiguous
FROM transcripts_cte GROUP BY conv_id
"""
)


def q_conv_sessions(spark, sf_dir):
    """Inactivity-gap sessionization (24 h gap): one row per conversation
    session with turn count and epoch-second extent. Batch twin of the
    Structured Streaming session_window path — semantics aligned to the
    half-open streaming window (>= gap starts a new session), gap math in
    integer microseconds (operators/recombine.py session_split)."""
    t = pipeline.transcripts(spark, sf_dir)
    return recombine_ops.session_split(t, gap_s=86400)


O_CONV_SESSIONS = (
    _PREFIX
    + """
, g AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS us,
    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 86400000000
         THEN 1 ELSE 0 END AS new_s
  FROM transcripts_cte
  WINDOW w AS (PARTITION BY conv_id ORDER BY epoch_us(ts), turn_idx)
), s AS (
  SELECT conv_id, us,
         sum(new_s) OVER (PARTITION BY conv_id ORDER BY us, turn_idx
                          ROWS UNBOUNDED PRECEDING) - 1 AS session_idx
  FROM g
)
SELECT conv_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(floor(min(us) / 1000000) AS BIGINT) AS start_s,
       CAST(floor(max(us) / 1000000) AS BIGINT) AS end_s
FROM s GROUP BY conv_id, session_idx
"""
)


def q_logdedup_transcripts(spark, sf_dir):
    df = pipeline.parsed(spark, sf_dir)
    out = dedup_ops.logdedup(
        df, interval_s=86400, exclude_fields=_DEDUP_EXCLUDE, order_col="conv_id"
    )
    return out.select(
        "window_id", "level", "action", "status", "role", "tool", "parse_ok",
        "log_count", "first_observed_s",
    )


O_LOGDEDUP = (
    _PREFIX
    + _PARSED_CTE
    + """
SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
       level, action, status, role, tool, level IS NOT NULL AS parse_ok,
       count(*) AS log_count,
       min(CAST(floor(epoch(ts)) AS BIGINT)) AS first_observed_s
FROM parsed
GROUP BY 1, 2, 3, 4, 5, 6, 7
"""
)


# ---------------------------------------------------------------------------
# probabilistic sampler
# ---------------------------------------------------------------------------


def q_conv_dedup(spark, sf_dir):
    """Conversation-level exact dedup (functions/dedupe.py
    conv_exact_dedup): planted full-conversation copies (every '-0'
    bucket conv duplicated under a 'dup:' id) guarantee non-trivial
    duplicate groups; originals win the min-id keep rule."""
    t = datagen.transcripts(spark, sf_dir)
    planted = t.unionByName(
        t.filter(F.col("conv_id").endswith("-0")).withColumn(
            "conv_id", F.concat(F.lit("dup:"), F.col("conv_id"))
        )
    )
    return dedupe_fns.conv_exact_dedup(planted)


O_CONV_DEDUP = (
    _PREFIX
    + """
, planted AS (
  SELECT conv_id, turn_idx, role, text, tool FROM transcripts_cte
  UNION ALL
  SELECT 'dup:' || conv_id, turn_idx, role, text, tool
  FROM transcripts_cte WHERE conv_id LIKE '%-0'
), g AS (
  SELECT conv_id,
         md5(string_agg(concat_ws(chr(30), role, text, tool),
                        chr(31) ORDER BY turn_idx)) AS fingerprint,
         CAST(count(*) AS BIGINT) AS n_turns
  FROM planted GROUP BY conv_id
), reps AS (
  SELECT fingerprint, min(conv_id) AS rep,
         CAST(count(*) AS BIGINT) AS group_n
  FROM g GROUP BY fingerprint
)
SELECT g.conv_id, g.fingerprint, g.n_turns, r.group_n,
       g.conv_id = r.rep AS kept
FROM g JOIN reps r USING (fingerprint)
"""
)


def q_sample_lcg_events(spark, sf_dir):
    """Engine-portable deterministic sampler (LCG arithmetic hash) — the
    oracle-checkable twin of the xxhash64 hash_seed sampler."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.pmod(F.col("event_id") * 1103515245 + 12345, F.lit(16384))
    return ev.filter(bucket < 4096).select("event_id", "event_type")


O_SAMPLE_LCG = """
SELECT event_id, event_type FROM events
WHERE (event_id * 1103515245 + 12345) % 16384 < 4096
"""


def _otep_rnd_col():
    """Deterministic 56-bit randomness from event_id (two 28-bit LCG halves)
    — engine-portable stand-in for trace-id randomness so the OTEP-235
    decision arithmetic is oracle-checkable."""
    a = F.pmod(F.col("event_id") * 1103515245 + 12345, F.lit(1 << 28))
    b = F.pmod(F.col("event_id") * 69069 + 1, F.lit(1 << 28))
    return (a * F.lit(1 << 28) + b).cast("long")


_OTEP_RND_SQL = (
    f"(((event_id * 1103515245 + 12345) % {1 << 28}) * {1 << 28}"
    f" + ((event_id * 69069 + 1) % {1 << 28}))"
)
_T50 = 36028797018963968  # prob_to_threshold_py(0.5, 4)  tvalue '8'
_T25 = 54043195528445952  # prob_to_threshold_py(0.25, 4) tvalue 'c'
_T10 = 64851394829484032  # prob_to_threshold_py(0.1, 4)  tvalue 'e666'


def q_sample_otep235_proportional(spark, sf_dir):
    """OTEP-235 proportional mode (sampler_mode.go:284-303): 'click' rows
    arrive with an incoming 50% threshold, so 50% * 50% = 25% effective;
    other rows get the configured 50%."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "tin",
        F.when(F.col("event_type") == "click", F.lit(_T50).cast("long")),
    )
    out = sample_ops.otep235_sample(
        ev, 50.0, "proportional",
        randomness_col=_otep_rnd_col(),
        incoming_threshold_col="tin",
    )
    return out.select("event_id", "event_type", "sampling_threshold")


O_OTEP_PROP = f"""
SELECT event_id, event_type,
       CASE WHEN event_type = 'click' THEN 'c' ELSE '8' END AS sampling_threshold
FROM events
WHERE (CASE WHEN event_type = 'click' THEN {_T25} ELSE {_T50} END) <= {_OTEP_RND_SQL}
"""


def q_sample_otep235_equalizing(spark, sf_dir):
    """OTEP-235 equalizing mode (sampler_mode.go:259-272): configured 50%
    threshold, but 'view' rows carry a stricter incoming 10% threshold that
    must never be lowered."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "tin",
        F.when(F.col("event_type") == "view", F.lit(_T10).cast("long")),
    )
    out = sample_ops.otep235_sample(
        ev, 50.0, "equalizing",
        randomness_col=_otep_rnd_col(),
        incoming_threshold_col="tin",
    )
    return out.select("event_id", "event_type", "sampling_threshold")


O_OTEP_EQ = f"""
SELECT event_id, event_type,
       CASE WHEN event_type = 'view' THEN 'e666' ELSE '8' END AS sampling_threshold
FROM events
WHERE (CASE WHEN event_type = 'view' THEN {_T10} ELSE {_T50} END) <= {_OTEP_RND_SQL}
"""


def q_sample_hash_transcripts(spark, sf_dir):
    """hash_seed sampler on conv_id — portable md5-48 hash variant so the
    bucket arithmetic is oracle-checked (the xxhash64 production default is
    the same program with a different hash constant)."""
    t = datagen.transcripts(spark, sf_dir)
    return sample_ops.probabilistic_sample(
        t, "conv_id", 25.0, hash_impl="md5_48"
    ).select("conv_id", "turn_idx")


O_SAMPLE_HASH = (
    _PREFIX
    + """
SELECT conv_id, turn_idx FROM transcripts_cte
WHERE (list_reduce([strpos('0123456789abcdef', substring(md5(conv_id || ':22'), i, 1)) - 1
                    for i in range(1, 13)], (a,b) -> a*16 + b)) % 16384 < 4096
"""
)


# ---------------------------------------------------------------------------
# metric-stream processors
# ---------------------------------------------------------------------------

_STREAM_KEYS = ["user_id", "event_type"]


def q_delta_to_cumulative(spark, sf_dir):
    out = metric_ops.delta_to_cumulative(
        _events_vi(spark, sf_dir), _STREAM_KEYS, "vi", order_cols=["event_id"]
    )
    return out.select("user_id", "event_type", "event_id", "vi", "cumulative")


O_D2C = f"""
SELECT user_id, event_type, event_id, vi,
       CAST(sum(vi) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative
FROM ({_EVENTS_VI})
"""


def q_cumulative_to_delta(spark, sf_dir):
    out = metric_ops.cumulative_to_delta(
        _events_vi(spark, sf_dir), _STREAM_KEYS, "vi",
        first_point="drop", order_cols=["event_id"],
    )
    return out.select("user_id", "event_type", "event_id", "delta")


O_C2D = f"""
SELECT user_id, event_type, event_id, delta FROM (
  SELECT user_id, event_type, event_id,
         vi - lag(vi) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS delta
  FROM ({_EVENTS_VI})
) WHERE delta IS NOT NULL
"""


_HIST_BOUNDS = (0.25, 0.5, 0.75)  # 4 explicit buckets over `value`


def _histogram_deltas(spark, sf_dir):
    """Per-(series=event_type, day-window) explicit-bucket histogram DELTA
    points synthesized from events with integer arithmetic only (sum =
    sum(floor(value*100)) so delta math is hash-exact cross-engine):
    columns (series, window_id, d_cnt, d_sum, b0..b3)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.floor(F.unix_timestamp("ts") / 86400).cast("bigint")
    lo, mid, hi = _HIST_BOUNDS
    return (
        ev.select(
            F.col("event_type").alias("series"),
            win.alias("window_id"),
            F.floor(F.col("value") * 100).cast("bigint").alias("vi"),
            F.col("value"),
        )
        .groupBy("series", "window_id")
        .agg(
            F.count("*").cast("bigint").alias("d_cnt"),
            F.sum("vi").cast("bigint").alias("d_sum"),
            F.sum(F.when(F.col("value") < lo, 1).otherwise(0))
            .cast("bigint")
            .alias("b0"),
            F.sum(
                F.when((F.col("value") >= lo) & (F.col("value") < mid), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("b1"),
            F.sum(
                F.when((F.col("value") >= mid) & (F.col("value") < hi), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("b2"),
            F.sum(F.when(F.col("value") >= hi, 1).otherwise(0))
            .cast("bigint")
            .alias("b3"),
        )
    )


def q_histogram_cumulative_to_delta(spark, sf_dir):
    """cumulativetodelta over explicit-bucket histogram streams
    (`cumulativetodeltaprocessor/processor.go:160-201`,
    `tracking/tracker.go:150-173`). The cumulative input re-accumulates
    the synthetic deltas within 3-window segments, so segment boundaries
    exercise the count-RESET branch (raw cumulative flows out unchanged)
    while interior windows exercise the subtract branch; the operator is
    applied per SERIES (not per segment), exactly like a collector seeing
    a restarted producer. Long bucket output keeps every compared column
    a scalar BIGINT."""
    from pyspark.sql import Window as W

    d = _histogram_deltas(spark, sf_dir).withColumn(
        "seg", F.floor(F.col("window_id") / 3).cast("bigint")
    )
    wseg = (
        W.partitionBy("series", "seg")
        .orderBy("window_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = d.select(
        "series",
        "window_id",
        F.sum("d_cnt").over(wseg).alias("cnt"),
        F.sum("d_sum").over(wseg).alias("hsum"),
        F.array(
            *[F.sum(b).over(wseg) for b in ("b0", "b1", "b2", "b3")]
        ).alias("buckets"),
    )
    out = metric_ops.histogram_cumulative_to_delta(
        cum, keys=["series"], ts_col="window_id", count_col="cnt",
        sum_col="hsum", buckets_col="buckets", first_point="drop",
    )
    return out.select(
        "series",
        "window_id",
        F.col("delta_cnt").cast("bigint").alias("delta_cnt"),
        F.col("delta_sum").cast("bigint").alias("delta_sum"),
        F.posexplode("delta_buckets").alias("bucket_idx", "delta_bucket"),
    ).select(
        "series",
        "window_id",
        "delta_cnt",
        "delta_sum",
        F.col("bucket_idx").cast("bigint").alias("bucket_idx"),
        F.col("delta_bucket").cast("bigint").alias("delta_bucket"),
    )


_O_HIST_PER = """
  SELECT event_type AS series,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id,
         CAST(count(*) AS BIGINT) AS d_cnt,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS d_sum,
         CAST(sum(CASE WHEN value < 0.25 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
         CAST(sum(CASE WHEN value >= 0.25 AND value < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
         CAST(sum(CASE WHEN value >= 0.5 AND value < 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
         CAST(sum(CASE WHEN value >= 0.75 THEN 1 ELSE 0 END) AS BIGINT) AS b3
  FROM events GROUP BY 1, 2
"""

O_HIST_C2D = f"""
WITH per AS ({_O_HIST_PER}
), cum AS (
  SELECT series, window_id,
         CAST(sum(d_cnt) OVER wseg AS BIGINT) AS cnt,
         CAST(sum(d_sum) OVER wseg AS BIGINT) AS hsum,
         CAST(sum(b0) OVER wseg AS BIGINT) AS c0,
         CAST(sum(b1) OVER wseg AS BIGINT) AS c1,
         CAST(sum(b2) OVER wseg AS BIGINT) AS c2,
         CAST(sum(b3) OVER wseg AS BIGINT) AS c3
  FROM per
  WINDOW wseg AS (PARTITION BY series, window_id // 3 ORDER BY window_id
                  ROWS UNBOUNDED PRECEDING)
), lagd AS (
  SELECT series, window_id, cnt, hsum, c0, c1, c2, c3,
         lag(cnt) OVER wst AS pc, lag(hsum) OVER wst AS ps,
         lag(c0) OVER wst AS p0, lag(c1) OVER wst AS p1,
         lag(c2) OVER wst AS p2, lag(c3) OVER wst AS p3
  FROM cum
  WINDOW wst AS (PARTITION BY series ORDER BY window_id)
), delta AS (
  SELECT series, window_id,
         CASE WHEN cnt < pc THEN cnt ELSE cnt - pc END AS delta_cnt,
         CASE WHEN cnt < pc THEN hsum ELSE hsum - ps END AS delta_sum,
         CASE WHEN cnt < pc THEN c0 ELSE c0 - p0 END AS db0,
         CASE WHEN cnt < pc THEN c1 ELSE c1 - p1 END AS db1,
         CASE WHEN cnt < pc THEN c2 ELSE c2 - p2 END AS db2,
         CASE WHEN cnt < pc THEN c3 ELSE c3 - p3 END AS db3
  FROM lagd WHERE pc IS NOT NULL
)
SELECT series, window_id, delta_cnt, delta_sum,
       CAST(i.bucket_idx AS BIGINT) AS bucket_idx,
       CASE i.bucket_idx WHEN 0 THEN db0 WHEN 1 THEN db1
                         WHEN 2 THEN db2 ELSE db3 END AS delta_bucket
FROM delta CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(bucket_idx)
"""


def q_histogram_delta_to_cumulative(spark, sf_dir):
    """deltatocumulative over explicit-bucket histogram streams
    (`deltatocumulativeprocessor/internal/data/add.go:35-41`: element-wise
    count/sum/bucket sums). Long output: the shuffle key widens to
    (series, bucket_idx), sharding state finer than per-series."""
    d = _histogram_deltas(spark, sf_dir)
    inp = d.select(
        "series",
        "window_id",
        F.col("d_cnt").alias("cnt"),
        F.col("d_sum").alias("hsum"),
        F.array("b0", "b1", "b2", "b3").alias("buckets"),
    )
    out = metric_ops.histogram_delta_to_cumulative(
        inp, keys=["series"], ts_col="window_id", count_col="cnt",
        sum_col="hsum", buckets_col="buckets",
    )
    return out.select(
        "series",
        "window_id",
        F.col("bucket_idx").cast("bigint").alias("bucket_idx"),
        F.col("cum_cnt").cast("bigint").alias("cum_cnt"),
        F.col("cum_sum").cast("bigint").alias("cum_sum"),
        F.col("cum_bucket").cast("bigint").alias("cum_bucket"),
    )


O_HIST_D2C = f"""
WITH per AS ({_O_HIST_PER}
), cum AS (
  SELECT series, window_id,
         CAST(sum(d_cnt) OVER wst AS BIGINT) AS cum_cnt,
         CAST(sum(d_sum) OVER wst AS BIGINT) AS cum_sum,
         CAST(sum(b0) OVER wst AS BIGINT) AS c0,
         CAST(sum(b1) OVER wst AS BIGINT) AS c1,
         CAST(sum(b2) OVER wst AS BIGINT) AS c2,
         CAST(sum(b3) OVER wst AS BIGINT) AS c3
  FROM per
  WINDOW wst AS (PARTITION BY series ORDER BY window_id
                 ROWS UNBOUNDED PRECEDING)
)
SELECT series, window_id, CAST(i.bucket_idx AS BIGINT) AS bucket_idx,
       cum_cnt, cum_sum,
       CASE i.bucket_idx WHEN 0 THEN c0 WHEN 1 THEN c1
                         WHEN 2 THEN c2 ELSE c3 END AS cum_bucket
FROM cum CROSS JOIN (VALUES (0), (1), (2), (3)) AS i(bucket_idx)
"""


def q_delta_to_rate(spark, sf_dir):
    out = metric_ops.delta_to_rate(
        _events_vi(spark, sf_dir), _STREAM_KEYS, "vi", order_cols=["event_id"]
    )
    return out.select(
        "user_id", "event_type", "event_id",
        F.floor(F.col("rate") * 1000).cast("bigint").alias("rate_milli"),
    )


O_RATE = f"""
SELECT user_id, event_type, event_id,
       CAST(floor(CAST(vi AS DOUBLE) / dt * 1000) AS BIGINT) AS rate_milli
FROM (
  SELECT *, CAST(floor(epoch(ts)) AS BIGINT)
            - lag(CAST(floor(epoch(ts)) AS BIGINT))
              OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS dt
  FROM ({_EVENTS_VI})
) WHERE dt > 0
"""


def q_interval_last(spark, sf_dir):
    out = metric_ops.interval_aggregate(
        _events_vi(spark, sf_dir), _STREAM_KEYS, "vi", 86400, order_cols=["event_id"]
    )
    return out.select("window_id", "user_id", "event_type", "vi")


O_INTERVAL = f"""
SELECT window_id, user_id, event_type, vi FROM (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id, user_id, event_type, vi,
         row_number() OVER (PARTITION BY CAST(floor(epoch(ts) / 86400) AS BIGINT), user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM ({_EVENTS_VI})
) WHERE rn = 1
"""


def q_interval_passthrough(spark, sf_dir):
    """intervalprocessor pass_through config (`config.go:26-33`,
    `processor.go:107-121`): gauge-typed streams (synthetic metric_type =
    1 + len(event_type) % 3, so type 1 = gauge) bypass the interval
    last-value aggregation row-for-row; other types last-value per
    (stream, day). The passthrough side is a pure filter — no shuffle."""
    ev = _events_vi(spark, sf_dir).withColumn(
        "metric_type", (F.lit(1) + F.pmod(F.length("event_type"), F.lit(3))).cast("int")
    )
    out = metric_ops.interval_process(
        ev, _STREAM_KEYS, "vi", 86400,
        pass_through_gauge=True, order_cols=["event_id"],
    )
    return out.select(
        F.col("window_id").cast("bigint").alias("window_id"),
        "user_id", "event_type",
        F.col("vi").cast("bigint").alias("vi"),
    )


O_INTERVAL_PASSTHROUGH = f"""
WITH ev AS (
  SELECT *, 1 + (length(event_type) % 3) AS metric_type FROM ({_EVENTS_VI})
), agg AS (
  SELECT window_id, user_id, event_type, vi FROM (
    SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id, user_id, event_type, vi,
           row_number() OVER (PARTITION BY CAST(floor(epoch(ts) / 86400) AS BIGINT), user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM ev WHERE metric_type <> 1
  ) WHERE rn = 1
), passed AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id, user_id, event_type, vi
  FROM ev WHERE metric_type = 1
)
SELECT * FROM agg UNION ALL SELECT * FROM passed
"""


# ---------------------------------------------------------------------------
# spanmetrics connector
# ---------------------------------------------------------------------------


def q_span_metrics(spark, sf_dir):
    df = pipeline.parsed(spark, sf_dir).filter(F.col("latency_ms").isNotNull())
    out = metric_ops.span_metrics(df, ["role", "action"], "latency_ms", window_s=86400)
    return out.select(
        "window_id", "role", "action", "calls",
        F.col("duration_sum").cast("bigint").alias("duration_sum"),
        F.col("duration_min").cast("bigint").alias("duration_min"),
        F.col("duration_max").cast("bigint").alias("duration_max"),
        F.array_join(F.transform("bucket_counts", lambda x: x.cast("string")), ",").alias("buckets"),
    )


def span_metrics_oracle() -> str:
    bounds = metric_ops.DEFAULT_BUCKETS_MS
    idx = " + ".join(
        f"CASE WHEN CAST(latency_ms AS DOUBLE) > {float(b)} THEN 1 ELSE 0 END" for b in bounds
    )
    n = len(bounds) + 1
    per_bucket = ", ".join(
        f"CAST(sum(CASE WHEN idx = {i} THEN 1 ELSE 0 END) AS VARCHAR)" for i in range(n)
    )
    return (
        _PREFIX
        + _PARSED_CTE
        + f"""
, spans AS (
  SELECT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS window_id, role, action,
         latency_ms, ({idx}) AS idx
  FROM parsed WHERE latency_ms IS NOT NULL
)
SELECT window_id, role, action,
       count(*) AS calls,
       CAST(sum(latency_ms) AS BIGINT) AS duration_sum,
       CAST(min(latency_ms) AS BIGINT) AS duration_min,
       CAST(max(latency_ms) AS BIGINT) AS duration_max,
       concat_ws(',', {per_bucket}) AS buckets
FROM spans GROUP BY 1, 2, 3
"""
    )


# ---------------------------------------------------------------------------
# recombine (sessionization)
# ---------------------------------------------------------------------------


def q_recombine_conversations(spark, sf_dir):
    t = datagen.transcripts(spark, sf_dir)
    out = recombine_ops.recombine(
        t, ["conv_id"], "turn_idx", "text",
        is_first_entry=(F.col("role") == "user"),
    )
    return out.select("conv_id", "turn_idx", "combined", "member_count")


O_RECOMBINE = (
    _PREFIX
    + """
, flagged AS (
  SELECT conv_id, turn_idx, text,
         CASE WHEN role = 'user' THEN 1 ELSE 0 END AS f
  FROM transcripts_cte
), grouped AS (
  SELECT *, sum(f) OVER (PARTITION BY conv_id ORDER BY turn_idx
                         ROWS UNBOUNDED PRECEDING) AS g
  FROM flagged
)
SELECT conv_id, min(turn_idx) AS turn_idx,
       string_agg(text, chr(10) ORDER BY turn_idx) AS combined,
       count(*) AS member_count
FROM grouped GROUP BY conv_id, g
"""
)


# ---------------------------------------------------------------------------
# routing connector: match_once=false (duplicate to every matching route)
# ---------------------------------------------------------------------------


def q_route_match_all(spark, sf_dir):
    df = pipeline.enriched(spark, sf_dir)
    out = with_route_match_all(df, pipeline.routing_table())
    return out.select("conv_id", "turn_idx", "route")


O_ROUTE_ALL = (
    _PREFIX
    + _PARSED_CTE
    + f"""
, enriched AS (
  SELECT p.*, rd.is_human
  FROM parsed p
  LEFT JOIN {datagen.role_dim_values_sql().replace('__t', 'rd')} ON p.role = rd.role
), m AS (
  SELECT conv_id, turn_idx,
         coalesce(level = 'ERROR' OR status = 'err', FALSE) AS c1,
         coalesce(role = 'tool' AND tool <> '', FALSE) AS c2,
         coalesce(is_human, FALSE) AS c3
  FROM enriched
)
SELECT conv_id, turn_idx, 'errors' AS route FROM m WHERE c1
UNION ALL SELECT conv_id, turn_idx, 'tool_calls' FROM m WHERE c2
UNION ALL SELECT conv_id, turn_idx, 'human' FROM m WHERE c3
UNION ALL SELECT conv_id, turn_idx, 'default' FROM m WHERE NOT (c1 OR c2 OR c3)
"""
)


# ---------------------------------------------------------------------------
# lookup enrichment over the star schema (multi-hop broadcast joins)
# ---------------------------------------------------------------------------


def q_enrich_star_join(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    out = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
    )
    return out.select("s_suppkey", "s_name", "n_name", "r_name")


O_STAR_JOIN = """
SELECT s_suppkey, s_name, n_name, r_name
FROM supplier
LEFT JOIN nation ON s_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
"""


# ---------------------------------------------------------------------------
# otlpjson connector analog: parse embedded JSON bodies
# ---------------------------------------------------------------------------


def q_events_props_json(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


O_PROPS_JSON = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events
"""


def q_kv_roundtrip_events(spark, sf_dir):
    """ParseKeyValue -> ToKeyValueString roundtrip with re-delimiting and
    quote-escaping (func_to_key_value_string.go:38-121): the 'note' value
    contains the output pair delimiter, so it must come back quoted."""
    from ..ottl import apply_statement

    ev = load_table(spark, sf_dir, "events")
    df = ev.withColumn(
        "kv_src",
        F.concat(
            F.lit("type:"), F.col("event_type"),
            F.lit(",uid:"), F.col("user_id").cast("string"),
            F.lit(",note:x y"),
        ),
    )
    out = apply_statement(
        df,
        'set(kv_out, ToKeyValueString(ParseKeyValue(kv_src, ":", ","), "=", " ", true))',
    )
    return out.select("event_id", "kv_out")


O_KV_ROUNDTRIP = """
SELECT event_id,
       'note="x y" type=' || event_type || ' uid=' || CAST(user_id AS VARCHAR) AS kv_out
FROM events
"""


def q_grok_apache_clf(spark, sf_dir):
    """Apache common-log grok parse over a deterministically derived text
    column (%{COMMONAPACHELOG}; go-grok library parity,
    func_extract_grok_patterns.go:17-22)."""
    from ..ottl import apply_statement

    ev = load_table(spark, sf_dir, "events")
    df = ev.withColumn(
        "line",
        F.concat(
            F.lit("10."), (F.col("user_id") % 250).cast("string"),
            F.lit(".0."), (F.col("event_id") % 250).cast("string"),
            F.lit(' - frank [10/Oct/2000:13:55:36 -0700] "GET /page/'),
            F.col("event_id").cast("string"),
            F.lit(' HTTP/1.0" 200 '),
            (F.col("event_id") % 5000).cast("string"),
        ),
    )
    # single-pass pandas grok (one compiled match per row) — the production
    # path for many-group patterns; the per-group regexp_extract OTTL path
    # re-matches the composite regex k times per row (measured 14s vs ~4s
    # at sf0.1). ExtractGrokPatterns map semantics stay covered by the OTTL
    # conformance suite.
    from ..functions.grok import grok_parse_pandas

    out = grok_parse_pandas(df, "%{COMMONAPACHELOG}", "line")
    return out.select(
        "event_id", "clientip", "verb", "request", "httpversion", "response", "bytes"
    )


O_GROK_CLF = """
SELECT event_id,
       '10.' || CAST(user_id % 250 AS VARCHAR) || '.0.' || CAST(event_id % 250 AS VARCHAR) AS clientip,
       'GET' AS verb,
       '/page/' || CAST(event_id AS VARCHAR) AS request,
       '1.0' AS httpversion,
       '200' AS response,
       CAST(event_id % 5000 AS VARCHAR) AS bytes
FROM events
"""


_OTLP_BODY_SQL = (
    """'{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc-'"""
    """ || CAST(user_id % 5 AS {STR}) || '"}}]},"scopeLogs":[{"scope":{"name":"gen"},"logRecords":["""
    """{"timeUnixNano":"' || CAST({EPOCH} AS {STR}) || '000000000","severityNumber":9,"severityText":"INFO","""
    """"body":{"stringValue":"' || event_type || ' #' || CAST(event_id AS {STR}) || '"},"""
    """"attributes":[{"key":"k","value":{"stringValue":"' || CAST(event_id % 7 AS {STR}) || '"}}]},"""
    """{"timeUnixNano":"' || CAST({EPOCH} AS {STR}) || '000000001","severityNumber":17,"severityText":"ERROR","""
    """"body":{"stringValue":"fail #' || CAST(event_id AS {STR}) || '"},"""
    """"attributes":[{"key":"k","value":{"stringValue":"x"}}]}]}]}]}'"""
)


def q_otlpjson_explode(spark, sf_dir):
    """otlpjsonconnector: bodies embedding OTLP/JSON Logs batches explode to
    one row per inner logRecord (connector/otlpjsonconnector/logs.go:43-79);
    from_json + triple Generate, all Catalyst."""
    from ..operators.otlpjson import explode_otlp_logs

    # spread (r6): 100k from_json parses of ~700 B payloads are the whole
    # cost and run pre-shuffle — a single-row-group input file would pin
    # them to one task (see tables.spread_scan)
    ev = spread_scan(load_table(spark, sf_dir, "events"))
    ev.createOrReplaceTempView("events")
    body = _OTLP_BODY_SQL.replace("{STR}", "STRING").replace(
        "{EPOCH}", "unix_timestamp(ts)"
    )
    df = spark.sql(f"SELECT event_id, {body} AS body FROM events")
    out = explode_otlp_logs(df, keep_cols=["event_id"])
    return out.select(
        "event_id",
        F.col("resource_attrs")["service.name"].alias("service_name"),
        "scope_name",
        "time_unix_nano",
        "severity_number",
        "severity_text",
        "body",
        F.col("attributes")["k"].alias("attr_k"),
    )


O_OTLP_EXPLODE = """
SELECT event_id,
       'svc-' || CAST(user_id % 5 AS VARCHAR) AS service_name,
       'gen' AS scope_name,
       CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 AS time_unix_nano,
       9 AS severity_number, 'INFO' AS severity_text,
       event_type || ' #' || CAST(event_id AS VARCHAR) AS body,
       CAST(event_id % 7 AS VARCHAR) AS attr_k
FROM events
UNION ALL
SELECT event_id,
       'svc-' || CAST(user_id % 5 AS VARCHAR),
       'gen',
       CAST(floor(epoch(ts)) AS BIGINT) * 1000000000 + 1,
       17, 'ERROR',
       'fail #' || CAST(event_id AS VARCHAR),
       'x'
FROM events
"""
