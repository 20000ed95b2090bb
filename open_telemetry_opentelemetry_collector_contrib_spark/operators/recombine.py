"""recombine transformer — merge consecutive lines/turns into one record.

Reference semantics (`pkg/stanza/operator/transformer/recombine/config.go:49-62`):
- a group starts where ``is_first_entry`` matches (or ends where
  ``is_last_entry`` matches), scoped per ``source_identifier`` (one or more
  columns here: CRI container lines scope by file AND stream);
- member payloads are joined with ``combine_with`` (default "\\n");
- max_batch_size / force_flush_period are memory-pressure valves, not
  semantics — irrelevant in batch.

Spark: sessionization — a running sum of the boundary flag over
``Window.partitionBy(source).orderBy(order)`` assigns group ids, then
`groupBy(group).agg(concat_ws(collect_list))`. The orderBy is the canonical
``conv_id / turn_idx`` stabilization the BASELINE mandates; collect_list
ordering is made deterministic by sorting the collected (order, text) structs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def session_split(
    df: DataFrame,
    source_col: str = "conv_id",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    gap_s: int = 86400,
) -> DataFrame:
    """Inactivity-gap sessionization: split each conversation into sessions
    wherever consecutive turns are >= ``gap_s`` apart (the transcript analog
    of session-window log grouping; long-running agent conversations get
    segmented at idle gaps).

    Semantics match Structured Streaming's ``F.session_window(ts, gap)``
    half-open windows exactly (a turn at EXACTLY prev + gap starts a new
    session — hence ``>=``), so the scale path for unbounded input is the
    native streaming session window and this batch form is its
    oracle-checkable twin (see test_streaming's parity case). Gap math is
    integer microseconds (unix_micros) — no truncated-seconds boundary
    drift vs engines computing exact timestamp differences.

    Output: one row per (source, session_idx): n_turns, start_s, end_s.
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    w = Window.partitionBy(source_col).orderBy(us, order_col)
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull() | (us - prev >= gap_s * 1_000_000), 1).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        df.withColumn("__us", us)
        .withColumn("__new", new_s)
        .withColumn("session_idx", F.sum("__new").over(wc) - 1)
    )
    return (
        sess.groupBy(source_col, "session_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_turns"),
            F.floor(F.min("__us") / 1_000_000).cast("bigint").alias("start_s"),
            F.floor(F.max("__us") / 1_000_000).cast("bigint").alias("end_s"),
        )
        .withColumn("session_idx", F.col("session_idx").cast("bigint"))
    )


def recombine(
    df: DataFrame,
    source_cols: list[str],
    order_col: str,
    text_col: str,
    is_first_entry: Column | None = None,
    is_last_entry: Column | None = None,
    combine_with: str = "\n",
    out_col: str = "combined",
) -> DataFrame:
    """Returns one row per group: source columns, first order value,
    combined text, member count."""
    if (is_first_entry is None) == (is_last_entry is None):
        raise ValueError("exactly one of is_first_entry / is_last_entry required")
    w = Window.partitionBy(*source_cols).orderBy(order_col)
    if is_first_entry is not None:
        flag = F.coalesce(is_first_entry, F.lit(False)).cast("int")
        group = F.sum(flag).over(w)  # rows before the first boundary share group 0
    else:
        flag = F.coalesce(is_last_entry, F.lit(False)).cast("int")
        # end-marked: a row belongs with the *following* rows' group after a
        # previous end -> cumulative count of prior end-markers
        group = F.sum(flag).over(w) - flag
    grouped = df.withColumn("__grp", group)
    member = F.struct(F.col(order_col).alias("o"), F.col(text_col).alias("t"))
    return (
        grouped.groupBy(*source_cols, "__grp")
        .agg(
            F.min(order_col).alias(order_col),
            F.concat_ws(
                combine_with,
                F.transform(F.array_sort(F.collect_list(member)), lambda s: s["t"]),
            ).alias(out_col),
            F.count(F.lit(1)).alias("member_count"),
        )
        .drop("__grp")
    )
