"""Deterministic synthetic transcript table + enrichment dimensions.

BASELINE.json ``input_hint`` mandates an input table of shape
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``. No external data is allowed, so the transcripts are derived
*deterministically* from the driver-provided ``events`` parquet table using
only expressions that evaluate identically in Spark SQL and DuckDB — which
lets every pipeline stage carry an exact DuckDB oracle in
``__spark_entry__.oracle_sql`` (value-hash correctness gate).

Skew design (FIXTURES.md §1): ``conv_bucket`` folds 30% of rows into bucket 0,
so each user has one hot conversation ~3x the size of the others — the
hot keys that partial aggregation, the runner's conv_id-partitioned fan-out
and AQE get exercised against.

Text shape mirrors the reference's stanza/regex-parser fixtures
(`pkg/stanza/operator/parser/regex/parser.go:46-63` named capture groups):
``INFO action=click latency_ms=123 status=ok msg="..." props={"k": 1}``,
with ~2% MALFORMED rows to exercise on_error semantics
(`pkg/stanza/operator/helper/parser.go:26-35`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .sources.tables import load_table, local_frame

# One template, two dialects. Placeholders:
#   {STR}    -> STRING (Spark) / VARCHAR (DuckDB)
#   {events} -> source relation name
TRANSCRIPTS_TEMPLATE = """
WITH __base AS (
  SELECT event_id, user_id, event_type, value, props, ts,
         CASE WHEN event_id % 10 < 3 THEN CAST(0 AS BIGINT)
              ELSE event_id % 10 END AS conv_bucket
  FROM {events}
),
transcripts_cte AS (
  SELECT
    'conv-' || lpad(CAST(user_id AS {STR}), 6, '0') || '-'
            || CAST(conv_bucket AS {STR})                         AS conv_id,
    CAST(row_number() OVER (PARTITION BY user_id, conv_bucket
                            ORDER BY event_id) - 1 AS INT)        AS turn_idx,
    CASE CAST(event_id % 4 AS INT)
         WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
         WHEN 2 THEN 'system' ELSE 'tool' END                     AS role,
    CASE WHEN event_id % 47 = 0
         THEN 'MALFORMED ' || props
         ELSE CASE WHEN event_type = 'error' THEN 'ERROR' ELSE 'INFO' END
           || ' action=' || event_type
           || ' latency_ms=' || CAST(CAST(floor(value * 10) AS BIGINT) AS {STR})
           || ' status=' || CASE WHEN value > 200.0 THEN 'err' ELSE 'ok' END
           || ' msg="turn payload ' || CAST(event_id AS {STR}) || '"'
           || ' props=' || props
    END                                                           AS text,
    CASE CAST(event_id % 7 AS INT)
         WHEN 0 THEN 'search' WHEN 1 THEN 'code'
         WHEN 2 THEN 'browser' WHEN 3 THEN 'sql'
         WHEN 4 THEN '' WHEN 5 THEN 'search' ELSE 'code' END      AS tool,
    ts
  FROM __base
)
"""

TRANSCRIPTS_SELECT = (
    "SELECT conv_id, turn_idx, role, text, tool, ts FROM transcripts_cte"
)


def transcripts_sql(dialect: str, events_rel: str = "events") -> str:
    """Full CTE prefix + select for the given dialect ('spark'|'duckdb')."""
    str_t = "STRING" if dialect == "spark" else "VARCHAR"
    return TRANSCRIPTS_TEMPLATE.format(STR=str_t, events=events_rel) + TRANSCRIPTS_SELECT


def duckdb_cte_prefix(events_rel: str = "events") -> str:
    """The WITH-prefix for composing oracle SQL on top of transcripts_cte."""
    return TRANSCRIPTS_TEMPLATE.format(STR="VARCHAR", events=events_rel)


def transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical transcripts DataFrame for a test-data scale dir."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(transcripts_sql("spark"))


# ---------------------------------------------------------------------------
# Enrichment dimensions (broadcast-join side; geoip/k8sattributes analog,
# `processor/geoipprocessor/geoip_processor.go:29-94`). Small, static,
# driver-defined. 'tool' value 'sql' is intentionally absent from TOOL_DIM to
# exercise left-join null handling + upsert defaults. Built with
# tables.local_frame, so they plan as LocalTableScan: the JVM broadcasts the
# rows straight from the plan, with no Python worker and no extra job per
# query. The schemas are the ones createDataFrame(rows, cols) would infer
# (pinned in tests/test_plans.py).
# ---------------------------------------------------------------------------

ROLE_DIM_ROWS = [
    ("user", "human", True, 1),
    ("assistant", "model", False, 2),
    ("system", "control", False, 3),
    ("tool", "machine", False, 4),
]
ROLE_DIM_COLS = ["role", "role_kind", "is_human", "priority"]
ROLE_DIM_SCHEMA = "role string, role_kind string, is_human boolean, priority bigint"

TOOL_DIM_ROWS = [
    ("search", "retrieval", "platform"),
    ("code", "execution", "runtime"),
    ("browser", "retrieval", "web"),
    ("", "none", "none"),
]
TOOL_DIM_COLS = ["tool", "tool_category", "tool_owner"]
TOOL_DIM_SCHEMA = "tool string, tool_category string, tool_owner string"


def role_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, ROLE_DIM_ROWS, ROLE_DIM_SCHEMA)


def tool_dim(spark: SparkSession) -> DataFrame:
    return local_frame(spark, TOOL_DIM_ROWS, TOOL_DIM_SCHEMA)


def _values_sql(rows, cols, quote=repr) -> str:
    def lit(v):
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    vals = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return f"(VALUES {vals}) AS __t({', '.join(cols)})"


def role_dim_values_sql() -> str:
    """DuckDB-inlineable VALUES relation for the role dimension."""
    return _values_sql(ROLE_DIM_ROWS, ROLE_DIM_COLS)


def tool_dim_values_sql() -> str:
    return _values_sql(TOOL_DIM_ROWS, TOOL_DIM_COLS)
