"""Parquet table sources for the driver test-data star schema.

The reference ingests from files/network (``receiver/filelogreceiver``,
``pkg/stanza/operator/input/*``); a table engine ingests from columnar scans.
``spark.read.parquet`` gives Catalyst predicate pushdown + column pruning for
free, which the reference's row-at-a-time readers cannot do.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def spread_scan(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan widening for compute-heavy downstream stages.

    A Spark stage's parallelism before the first exchange is bounded by the
    scan's split count, and a parquet file is splittable only at row-group
    boundaries — so a small single-row-group file pins every pre-shuffle
    operator (shingle explodes, regex parses, per-gram hashing) to ONE task
    no matter how many cores the cluster has (guide §2/§6; the same lesson
    the 500k-doc scale gate recorded as "input file count bounds post-explode
    parallelism"). When the scan yields fewer partitions than the session's
    parallelism, insert one round-robin repartition of the RAW rows (bytes
    moved = the input itself, trivial by construction: the guard only fires
    when the scan is small). On a production-scale input the scan already
    carries >= defaultParallelism splits and this is a no-op — the knob is
    derived from the data, not tuned to either local[32] or a cluster.

    This is the package's one way to widen a scan; a query applies it as
    ``spread_scan(load_table(...))`` and only where it measured faster.
    At sf0.1 on local[4] (10 alternating widened/plain pairs in one JVM,
    medians, widened vs plain) it wins at the 9 scans that feed heavy
    per-row work: winnow_fingerprints 1.68 vs 5.29 s,
    syslog_rfc5424_parse 1.98 vs 5.22 s, otlpjson_explode 1.47 vs 3.02 s,
    decontaminate_bloom 1.30 vs 2.52 s, doc_repetition 0.96 vs 1.83 s,
    syslog_parse 0.74 vs 1.39 s, decontaminate_docs 0.65 vs 1.11 s,
    container_parse 0.52 vs 0.92 s and uri_parse 0.51 vs 0.69 s (30
    pairs). Where the per-row work is a projection or an early aggregate,
    the extra exchange and stage cost more than four tasks save, and it
    lost every pair: resource_detect 0.31 vs 0.16 s, schema_translate
    0.41 vs 0.21 s, metric_context_transform 0.56 vs 0.32 s, asof_join_scd
    0.86 vs 0.64 s, range_lookup_geoip 0.63 vs 0.48 s, and the metrics
    series under metrics_calculate 0.46 vs 0.35 s (aggregate_labels and
    aggregate_label_values alike). ``tests/test_plans.py`` pins which
    queries are widened.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def materialize(df: DataFrame) -> DataFrame:
    """Compute a DataFrame subtree once and reuse it across consumers.

    Spark has no DataFrame-subtree CSE: every ``.agg()``/join branch that
    derives from the same frame re-executes it from the scan up once column
    pruning specializes the scans (BASELINE round-5 audit). For stats+apply
    operators whose shared frame is consumed 2-5 times, a LOCAL checkpoint
    truncates the lineage so the shared work runs exactly once (guide §3.3
    / §5). ``localCheckpoint`` (not ``persist``) on purpose: persist
    registers the plan in the session CacheManager, so a *fresh* identical
    query in the same session would silently reuse the previous run's
    cached data — cross-run result caching the bench must never do. A
    local checkpoint is object-tied: every fresh ``queries()`` DataFrame
    recomputes it from the parquet inputs, and within one query plan all
    consumers share the one materialization (MEMORY_AND_DISK, spills).

    ``eager=False`` defers only the checkpoint's final stage. Under AQE,
    ``Dataset.checkpoint`` executes the adaptive plan, which runs every
    shuffle-map stage below the checkpoint right away, so building a query
    (even for an ``explain()``) already runs Spark jobs: at sf0.01 on
    ``local[2]``, 10 for ``curation_pipeline`` and 2 for
    ``minhash_lsh_pairs``.

    This is the package's one way to share a subtree: no query path calls
    ``persist``/``cache``; only ``sinks.write_sinks`` does, scoped to one
    fan-out (``tests/test_source_rules.py`` enforces this).
    """
    return df.localCheckpoint(eager=False)


def local_frame(
    spark: SparkSession, rows, schema: StructType | str | list[str]
) -> DataFrame:
    """A frame of driver-side Python rows that plans as a ``LocalTableScan``.

    ``spark.createDataFrame(rows, ...)`` goes through ``sc.parallelize``
    and plans as ``Scan ExistingRDD``: every execution runs one more job
    that pickles the rows, ships them to Python workers and unpickles them
    before the JVM sees a single value, even for a four-row dimension.
    Handing Spark an Arrow table instead puts the rows into the plan itself
    (a ``LocalRelation``), which the JVM broadcasts or scans with no Python
    worker. This is the one place in the package that builds a frame from
    Python rows.

    ``rows``: sequences, one value per field. ``schema``: a ``StructType``,
    a DDL string, or a list of column names, in which case the types are
    inferred exactly as ``createDataFrame`` infers them (int -> bigint,
    float -> double, all fields nullable).
    """
    rows = [tuple(r) for r in rows]
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    elif not isinstance(schema, StructType):
        schema = spark._inferSchemaFromList(rows, names=list(schema))
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register each parquet table as a temp view (idempotent)."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
