"""The flagship parse -> enrich -> route -> aggregate pipeline.

This composes the stage operators into the BASELINE north-star program over
the canonical transcripts table. Each stage function is pure
DataFrame -> DataFrame, so the whole pipeline is one Catalyst plan: a single
scan, one projection for parse+enrich+route (broadcast join folds in), and a
shuffle only at the aggregate — the minimal-shuffle shape that scales to
10^12 turns.

Routing table mirrors the reference's routing-connector config shape
(`connector/routingconnector/README.md:83-98`), evaluated first-match-wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..datagen import role_dim, tool_dim, transcripts
from ..operators import aggregate as agg_ops
from ..operators import enrich as enrich_ops
from ..operators import parse as parse_ops
from ..operators.route import Route, with_route_first_match

SINKS = ["errors", "tool_calls", "human", "default"]
WINDOW_S = 86400  # daily tumbling windows over the synthetic month of data


def enrich(df: DataFrame) -> DataFrame:
    """Broadcast-join the role and tool dimensions onto parsed rows. The
    dims come from ``df.sparkSession``, so batch and streaming frames share
    this one definition."""
    spark = df.sparkSession
    df = enrich_ops.lookup_enrich(df, role_dim(spark), on="role")
    df = enrich_ops.lookup_enrich(df, tool_dim(spark), on="tool")
    # attributesprocessor analog: upsert a default category for tools absent
    # from the dimension ('sql' is deliberately missing), insert a constant
    # pipeline tag (attraction.go INSERT/UPSERT semantics).
    df = enrich_ops.upsert(df, "tool_category", F.coalesce(F.col("tool_category"), F.lit("unknown")))
    df = enrich_ops.upsert(df, "tool_owner", F.coalesce(F.col("tool_owner"), F.lit("unknown")))
    df = enrich_ops.insert(df, "pipeline_tag", F.lit("otelcol-spark"))
    return df


def routing_table() -> list[Route]:
    return [
        Route("errors", (F.col("level") == "ERROR") | (F.col("status") == "err")),
        Route("tool_calls", (F.col("role") == "tool") & (F.col("tool") != "")),
        Route("human", F.col("is_human") == True),  # noqa: E712
    ]


def route_transcripts(t: DataFrame) -> DataFrame:
    """parse -> enrich -> first-match route over any transcripts-shaped
    frame (conv_id, turn_idx, role, text, tool, ts), batch or streaming:
    the one definition of the flagship stages."""
    return with_route_first_match(enrich(parse_ops.parse_transcripts(t)), routing_table())


def count_routes(routed: DataFrame) -> DataFrame:
    """countconnector per sink: tumbling-window counts keyed
    (conv_id, role, tool) — the BASELINE aggregate contract."""
    return agg_ops.windowed_count(
        routed, keys=["route", "conv_id", "role", "tool"], window_s=WINDOW_S
    )


def parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return parse_ops.parse_transcripts(transcripts(spark, sf_dir))


def enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich(parsed(spark, sf_dir))


def routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return route_transcripts(transcripts(spark, sf_dir))


def sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return count_routes(routed(spark, sf_dir))
