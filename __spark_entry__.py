"""Driver contract for the spark-graft builder (PySpark target).

``REGISTRY`` is the one place a query is registered: an ordered table of
``(name, query, oracle_sql_or_None)`` rows, one per implemented operator from
SURVEY.md §2. ``queries()`` maps each name to its (spark, sf_dir) -> DataFrame
callable and ``oracle_sql()`` to its exact DuckDB-ANSI-SQL twin; a row whose
oracle is None gets a rows-only check. Row order is the driver's order, and
the driver checks only a capped prefix, so a new or rewritten query goes at
the top. The query functions and ``O_*`` oracle SQL of the wider operator
suite live in the ``plans`` catalog modules. The flagship pipeline operates on a transcripts table
derived *deterministically* from the driver's ``events`` parquet (see
open_telemetry_opentelemetry_collector_contrib_spark/datagen.py) with
expressions that evaluate identically in Spark and DuckDB, so every stage is
value-hash checkable.

Timestamps are surfaced as epoch-second BIGINTs in compared outputs to avoid
engine-specific timestamp rendering in the hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark import datagen
from open_telemetry_opentelemetry_collector_contrib_spark.plans import (
    catalog as c1,
    catalog2 as c2,
    metric_catalog as mc,
    pipeline,
    training_catalog as tc,
)

# ---------------------------------------------------------------------------
# Spark-side queries
# ---------------------------------------------------------------------------

PARSE_COLS = [
    "conv_id",
    "turn_idx",
    "role",
    "tool",
    "level",
    "action",
    "latency_ms",
    "status",
    "msg",
    "prop_k",
    "parse_ok",
]

ENRICH_COLS = [
    "conv_id",
    "turn_idx",
    "role",
    "role_kind",
    "is_human",
    "priority",
    "tool",
    "tool_category",
    "tool_owner",
    "pipeline_tag",
]


def q_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = datagen.transcripts(spark, sf_dir)
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.unix_timestamp("ts").alias("ts_s"),
    )


def q_pipeline_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.parsed(spark, sf_dir).select(*PARSE_COLS)


def q_pipeline_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.enriched(spark, sf_dir).select(*ENRICH_COLS)


def q_pipeline_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.routed(spark, sf_dir).select("conv_id", "turn_idx", "route")


def q_pipeline_sink_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipeline.sink_counts(spark, sf_dir)


def q_route_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spanmetrics latency-percentile analog, exact DISCRETE quantiles per
    route via a counting-sort formulation: ``latency_ms`` is a bounded
    integer domain, so ``groupBy(route, latency_ms).count()`` (fully
    parallel, map-side combined) reduces the corpus to a tiny per-route
    value histogram; a cumulative sum over THAT histogram picks the
    ceil(p*n)-th order statistic (smallest value whose cumulative count
    reaches the rank) for p in {0.5, 0.9, 0.99} plus max/count. Discrete
    (not interpolated) on purpose — integer order statistics are
    bit-portable across engines, where interpolated percentiles differ in
    double-arithmetic association and can flip a floored hash. Scale: a
    ``Window.partitionBy(route)`` over the RAW rows would shuffle the whole
    corpus into as many tasks as there are routes (4 here — 4 tasks each
    sorting ~25 TB at the 100 TB point); the histogram window instead runs
    over routes × distinct latency values, a few thousand rows regardless
    of corpus size. Matches DuckDB ``quantile_disc`` (same ceil(p*n)
    element)."""
    from pyspark.sql import Window

    df = pipeline.routed(spark, sf_dir).filter(F.col("latency_ms").isNotNull())
    hist = df.groupBy("route", "latency_ms").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("route").orderBy("latency_ms")
    wn = Window.partitionBy("route")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wn)
    )

    def pick(p: float):
        # smallest latency whose cumulative count reaches rank ceil(p*n)
        return F.min(
            F.when(
                F.col("cum") >= F.ceil(F.col("n") * F.lit(p)), F.col("latency_ms")
            )
        ).cast("bigint")

    return cum.groupBy("route").agg(
        pick(0.5).alias("p50_ms"),
        pick(0.9).alias("p90_ms"),
        pick(0.99).alias("p99_ms"),
        F.max("latency_ms").cast("bigint").alias("max_ms"),
        F.sum("cnt").cast("bigint").alias("n_turns"),
    )


def q_pipeline_sum_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from open_telemetry_opentelemetry_collector_contrib_spark.operators import (
        aggregate as agg_ops,
    )

    return agg_ops.windowed_sum(
        pipeline.routed(spark, sf_dir),
        keys=["route", "role"],
        source_col="latency_ms",
        window_s=pipeline.WINDOW_S,
        condition=F.col("latency_ms").isNotNull(),
        sum_col="total_latency_ms",
    )


# ---------------------------------------------------------------------------
# DuckDB oracle SQL (shares the transcripts CTE with the Spark side)
# ---------------------------------------------------------------------------

_PREFIX = datagen.duckdb_cte_prefix()

_PARSED_CTE = r"""
, parsed AS (
  SELECT conv_id, turn_idx, role, tool, ts,
    nullif(regexp_extract(text, '^(INFO|ERROR|WARN|DEBUG) ', 1), '') AS level,
    nullif(regexp_extract(text, 'action=([a-z_]+)', 1), '') AS action,
    CAST(nullif(regexp_extract(text, 'latency_ms=([0-9]+)', 1), '') AS BIGINT) AS latency_ms,
    nullif(regexp_extract(text, 'status=([a-z]+)', 1), '') AS status,
    nullif(regexp_extract(text, 'msg="([^"]*)"', 1), '') AS msg,
    CAST(json_extract_string(nullif(regexp_extract(text, 'props=(\{.*\})$', 1), ''), '$.k') AS BIGINT) AS prop_k,
    nullif(regexp_extract(text, '^(INFO|ERROR|WARN|DEBUG) ', 1), '') IS NOT NULL AS parse_ok
  FROM transcripts_cte
)
"""

_ENRICHED_CTE = (
    _PARSED_CTE
    + f"""
, enriched AS (
  SELECT p.*, rd.role_kind, rd.is_human, rd.priority,
         coalesce(td.tool_category, 'unknown') AS tool_category,
         coalesce(td.tool_owner, 'unknown') AS tool_owner,
         'otelcol-spark' AS pipeline_tag
  FROM parsed p
  LEFT JOIN {datagen.role_dim_values_sql().replace('__t', 'rd')} ON p.role = rd.role
  LEFT JOIN {datagen.tool_dim_values_sql().replace('__t', 'td')} ON p.tool = td.tool
)
"""
)

_ROUTED_CTE = (
    _ENRICHED_CTE
    + """
, routed AS (
  SELECT *,
    CASE WHEN level = 'ERROR' OR status = 'err' THEN 'errors'
         WHEN role = 'tool' AND tool <> '' THEN 'tool_calls'
         WHEN is_human THEN 'human'
         ELSE 'default' END AS route
  FROM enriched
)
"""
)


O_TRANSCRIPTS = (
    _PREFIX
    + "SELECT conv_id, turn_idx, role, text, tool, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM transcripts_cte"
)
O_PIPELINE_PARSE = _PREFIX + _PARSED_CTE + f"SELECT {', '.join(PARSE_COLS)} FROM parsed"
O_PIPELINE_ENRICH = (
    _PREFIX + _ENRICHED_CTE + f"SELECT {', '.join(ENRICH_COLS)} FROM enriched"
)
O_PIPELINE_ROUTE = _PREFIX + _ROUTED_CTE + "SELECT conv_id, turn_idx, route FROM routed"
O_PIPELINE_SINK_COUNTS = (
    _PREFIX
    + _ROUTED_CTE
    + f"""
SELECT CAST(floor(epoch(ts) / {pipeline.WINDOW_S}) AS BIGINT) AS window_id,
       route, conv_id, role, tool, count(*) AS n
FROM routed GROUP BY 1, 2, 3, 4, 5"""
)
O_PIPELINE_SUM_LATENCY = (
    _PREFIX
    + _ROUTED_CTE
    + f"""
SELECT CAST(floor(epoch(ts) / {pipeline.WINDOW_S}) AS BIGINT) AS window_id,
       route, role, CAST(sum(latency_ms) AS BIGINT) AS total_latency_ms
FROM routed WHERE latency_ms IS NOT NULL GROUP BY 1, 2, 3"""
)
# quantile_disc picks the same ceil(p*n)-th order statistic as the Spark
# cumulative-histogram selection — integer-exact, no interpolated-double
# parity risk
O_ROUTE_LATENCY_QUANTILES = (
    _PREFIX
    + _ROUTED_CTE
    + """
SELECT route,
       CAST(quantile_disc(latency_ms, 0.5) AS BIGINT) AS p50_ms,
       CAST(quantile_disc(latency_ms, 0.9) AS BIGINT) AS p90_ms,
       CAST(quantile_disc(latency_ms, 0.99) AS BIGINT) AS p99_ms,
       CAST(max(latency_ms) AS BIGINT) AS max_ms,
       CAST(count(*) AS BIGINT) AS n_turns
FROM routed WHERE latency_ms IS NOT NULL GROUP BY route"""
)


# ---------------------------------------------------------------------------
# Registry: (name, query, oracle SQL or None for a rows-only check)
# ---------------------------------------------------------------------------

# Row order is the driver's order: the driver checks only a capped prefix
# (about 50 names) of queries(), so a new or rewritten query goes at the top.
REGISTRY: list[tuple[str, Callable[[SparkSession, str], DataFrame], str | None]] = [
    ("c4_clean", tc.q_c4_clean, tc.O_C4_CLEAN),
    ("paragraph_dedup", tc.q_paragraph_dedup, tc.O_PARAGRAPH_DEDUP),
    ("winnow_fingerprints", tc.q_winnow_fingerprints, tc.O_WINNOW_FINGERPRINTS),
    ("ccnet_buckets", tc.q_ccnet_buckets, tc.O_CCNET_BUCKETS),
    ("unimax_mix", tc.q_unimax_mix, tc.O_UNIMAX),
    ("bpe_pair_counts", tc.q_bpe_pairs, tc.O_BPE_PAIRS),
    ("histogram_cumulative_to_delta", c1.q_histogram_cumulative_to_delta, c1.O_HIST_C2D),
    ("histogram_delta_to_cumulative", c1.q_histogram_delta_to_cumulative, c1.O_HIST_D2C),
    ("decontaminate_bloom", tc.q_decontaminate_bloom, tc.O_DECONTAMINATE_BLOOM),
    ("mix_temperature_docs", tc.q_mix_temperature_docs, tc.O_MIX_TEMPERATURE),
    ("interval_passthrough", c1.q_interval_passthrough, c1.O_INTERVAL_PASSTHROUGH),
    ("minhash_incremental", tc.q_minhash_incremental, tc.minhash_incremental_oracle()),
    ("metric_convert_gauge_sum", mc.q_metric_convert_gauge_sum, mc.O_METRIC_CONVERT_GAUGE_SUM),
    ("extract_histogram_sum_count", mc.q_extract_histogram_sum_count, mc.O_EXTRACT_HISTOGRAM_SUM_COUNT),
    ("summary_convert_sums", mc.q_summary_convert_sums, mc.O_SUMMARY_CONVERT_SUMS),
    ("copy_scale_metric", mc.q_copy_scale_metric, mc.O_COPY_SCALE_METRIC),
    ("expo_to_explicit_upper", mc.q_expo_to_explicit_upper, mc.O_EXPO_TO_EXPLICIT_UPPER),
    ("expo_to_explicit_uniform", mc.q_expo_to_explicit_uniform, mc.O_EXPO_TO_EXPLICIT_UNIFORM),
    ("semdedup", tc.q_semdedup, tc.semdedup_oracle()),
    ("repeated_spans", tc.q_repeated_spans, tc.repeated_spans_oracle()),
    ("aggregate_on_attrs_stmt", mc.q_aggregate_on_attrs_stmt, mc.O_AGGREGATE_ON_ATTRS_STMT),
    ("conv_dedup", c1.q_conv_dedup, c1.O_CONV_DEDUP),
    ("fixed_stratum_sample", tc.q_fixed_stratum_sample, tc.fixed_stratum_oracle()),
    ("span_rename", c2.q_span_rename, c2.O_SPAN_RENAME),
    ("logs_transform", c2.q_logs_transform, c2.O_LOGS_TRANSFORM),
    ("lm_score_docs", tc.q_lm_score, tc.O_LM_SCORE),
    ("bm25_topk", tc.q_bm25_topk, tc.bm25_oracle()),
    ("dsir_select", tc.q_dsir_select, tc.O_DSIR),
    ("shard_shuffle", tc.q_shard_shuffle, tc.O_SHARD_SHUFFLE),
    ("dataset_manifest", tc.q_dataset_manifest, tc.O_DATASET_MANIFEST),
    ("url_filter", tc.q_url_filter, tc.O_URL_FILTER),
    ("training_export", tc.q_training_export, tc.training_export_oracle()),
    ("route_latency_quantiles", q_route_latency_quantiles, O_ROUTE_LATENCY_QUANTILES),
    # rows-only: the pruned IVF search clusters with MLlib KMeans
    ("ann_cosine_ivf", tc.q_ann_ivf, None),
    # rows-only: pandas-UDF stub features
    ("multimodal_features", tc.q_multimodal_features, None),
    ("frame_sample_plan", tc.q_frame_sample_plan, None),
    ("pipeline_route", q_pipeline_route, O_PIPELINE_ROUTE),
    ("pipeline_sink_counts", q_pipeline_sink_counts, O_PIPELINE_SINK_COUNTS),
    ("pipeline_sum_latency", q_pipeline_sum_latency, O_PIPELINE_SUM_LATENCY),
    ("transcripts", q_transcripts, O_TRANSCRIPTS),
    ("pipeline_parse", q_pipeline_parse, O_PIPELINE_PARSE),
    ("pipeline_enrich", q_pipeline_enrich, O_PIPELINE_ENRICH),
    ("ann_cosine_lsh", tc.q_ann_lsh, tc.ann_lsh_oracle()),
    ("ann_cosine_topk", tc.q_ann_bruteforce, tc.O_ANN_BRUTEFORCE),
    # full-probe IVF == exact brute force (metamorphic identity)
    ("ann_ivf_fullprobe", tc.q_ann_ivf_fullprobe, tc.O_ANN_BRUTEFORCE),
    ("chunk_documents", tc.q_chunk_documents, tc.O_CHUNK_DOCS),
    ("cumulative_to_delta", c1.q_cumulative_to_delta, c1.O_C2D),
    ("curation_pipeline", tc.q_curation_pipeline, tc.curation_oracle()),
    ("decontaminate_docs", tc.q_decontaminate_docs, tc.O_DECONTAMINATE),
    ("dedup_components", tc.q_dedup_components, tc.components_oracle()),
    ("delta_to_cumulative", c1.q_delta_to_cumulative, c1.O_D2C),
    ("delta_to_rate", c1.q_delta_to_rate, c1.O_RATE),
    ("embedding_near_dup", tc.q_embedding_near_dup, tc.near_dup_oracle()),
    ("enrich_star_join", c1.q_enrich_star_join, c1.O_STAR_JOIN),
    ("events_props_json", c1.q_events_props_json, c1.O_PROPS_JSON),
    ("exceptions_connector", c2.q_exceptions, c2.O_EXCEPTIONS),
    ("filter_match_props", c1.q_filter_match_props, c1.O_FILTER_MATCH),
    ("grok_apache_clf", c1.q_grok_apache_clf, c1.O_GROK_CLF),
    ("group_by_trace", c2.q_group_by_trace, c2.O_GROUP_BY_TRACE),
    ("interval_last", c1.q_interval_last, c1.O_INTERVAL),
    ("kv_roundtrip_events", c1.q_kv_roundtrip_events, c1.O_KV_ROUNDTRIP),
    ("logdedup_transcripts", c1.q_logdedup_transcripts, c1.O_LOGDEDUP),
    ("otlpjson_explode", c1.q_otlpjson_explode, c1.O_OTLP_EXPLODE),
    ("pii_scrub_docs", tc.q_pii_scrub_docs, tc.O_PII_SCRUB),
    ("recombine_conversations", c1.q_recombine_conversations, c1.O_RECOMBINE),
    ("redact_attributes", c2.q_redact_attributes, c2.O_REDACT),
    ("route_match_all", c1.q_route_match_all, c1.O_ROUTE_ALL),
    ("sample_hash_transcripts", c1.q_sample_hash_transcripts, c1.O_SAMPLE_HASH),
    ("sample_lcg_events", c1.q_sample_lcg_events, c1.O_SAMPLE_LCG),
    ("sample_otep235_equalizing", c1.q_sample_otep235_equalizing, c1.O_OTEP_EQ),
    ("sample_otep235_proportional", c1.q_sample_otep235_proportional, c1.O_OTEP_PROP),
    ("service_graph", c2.q_service_graph, c2.O_SERVICE_GRAPH),
    ("span_metrics", c1.q_span_metrics, c1.span_metrics_oracle()),
    ("span_metrics_exemplars", c2.q_span_metrics_exemplars, c2.O_SPAN_EXEMPLARS),
    ("tail_sampling", c2.q_tail_sampling, c2.O_TAIL_SAMPLING),
    ("tail_sampling_policies", c2.q_tail_sampling_policies, c2.O_TAIL_POLICIES),
    ("transform_statements", c1.q_transform_statements, c1.O_TRANSFORM),
    ("filter_ottl_events", c1.q_filter_ottl_events, c1.O_FILTER_OTTL),
    ("boilerplate_turns", c1.q_boilerplate_turns, c1.O_BOILERPLATE_TURNS),
    ("conv_quality", c1.q_conv_quality, c1.O_CONV_QUALITY),
    ("conv_integrity", c1.q_conv_integrity, c1.O_CONV_INTEGRITY),
    ("conv_sessions", c1.q_conv_sessions, c1.O_CONV_SESSIONS),
    ("expo_cumulative", c1.q_expo_cumulative, c1.O_EXPO_CUMULATIVE),
    ("span_context_transform", c2.q_span_context_transform, c2.O_SPAN_CONTEXT_TRANSFORM),
    ("metric_context_transform", c2.q_metric_context_transform, c2.O_METRIC_CONTEXT_TRANSFORM),
    ("spanevent_context_transform", c2.q_spanevent_context_transform, c2.O_SPANEVENT_CONTEXT),
    ("metrics_calculate", c2.q_metrics_calculate, c2.O_METRICS_CALCULATE),
    ("aggregate_labels", c2.q_aggregate_labels, c2.O_AGGREGATE_LABELS),
    ("aggregate_label_values", c2.q_aggregate_label_values, c2.O_AGGREGATE_LABEL_VALUES),
    ("syslog_parse", c2.q_syslog_parse, c2.syslog_oracle()),
    ("syslog_rfc5424_parse", c2.q_syslog_rfc5424_parse, c2.syslog5424_oracle()),
    ("schema_translate", c2.q_schema_translate, c2.O_SCHEMA_TRANSLATE),
    ("resource_detect", c2.q_resource_detect, c2.resource_detect_oracle()),
    ("severity_map", c2.q_severity_map, c2.O_SEVERITY_MAP),
    ("container_parse", c2.q_container_parse, c2.O_CONTAINER_PARSE),
    ("uri_parse", c2.q_uri_parse, c2.O_URI_PARSE),
    ("count_with_defaults", c2.q_count_with_defaults, c2.O_COUNT_WITH_DEFAULTS),
    ("signal_to_metrics", c2.q_signal_to_metrics, c2.O_SIGNAL_TO_METRICS),
    ("range_lookup_geoip", c2.q_range_lookup, c2.O_RANGE_LOOKUP),
    ("asof_join_scd", c2.q_asof_join, c2.O_ASOF_JOIN),
    ("span_metrics_exponential", c2.q_span_metrics_exponential, c2.O_SPAN_METRICS_EXP),
    ("pack_sequences", tc.q_pack_sequences, tc.O_PACK_SEQUENCES),
    ("mix_sample_docs", tc.q_mix_sample_docs, tc.mix_sample_oracle()),
    ("dataset_split", tc.q_dataset_split, tc.dataset_split_oracle()),
    ("exact_dedup", tc.q_exact_dedup, tc.O_EXACT_DEDUP),
    ("fuzzy_exact_dedup", tc.q_fuzzy_exact_dedup, tc.O_FUZZY_EXACT_DEDUP),
    ("doc_quality", tc.q_doc_quality, tc.O_DOC_QUALITY),
    ("doc_repetition", tc.q_doc_repetition, tc.O_DOC_REPETITION),
    ("doc_tfidf", tc.q_doc_tfidf, tc.O_DOC_TFIDF),
    ("token_counts", tc.q_token_counts, tc.O_TOKEN_COUNTS),
    ("lang_id", tc.q_lang_id, tc.lang_id_oracle()),
    ("ngram_jaccard_pairs", tc.q_ngram_jaccard, tc.O_NGRAM_JACCARD),
    ("minhash_lsh_pairs", tc.q_minhash_lsh_pairs, tc.minhash_lsh_oracle()),
    ("simhash_docs", tc.q_simhash_docs, tc.simhash_oracle()),
    ("fingerprint_docs", tc.q_fingerprint_docs, tc.fingerprint_oracle()),
    # pruned IVF with an injected deterministic quantizer: full recall oracle
    ("ann_ivf_recall", tc.q_ann_ivf_recall, tc.ann_ivf_recall_oracle()),
    ("ann_quantized_topk", tc.q_ann_quantized_topk, tc.O_ANN_QUANTIZED),
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, fn, _ in REGISTRY}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, _, sql in REGISTRY if sql is not None}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full parse→enrich→route→aggregate over sf0.001."""
    return pipeline.sink_counts(spark, "/root/testdata/sf0.001")
