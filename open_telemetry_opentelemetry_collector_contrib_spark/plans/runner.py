"""Resumable pipeline runner: chunked execution, per-chunk lineage + metrics.

The stages are the flagship's: each chunk runs
``pipeline.route_transcripts`` (parse -> enrich -> route), so sink rows
carry exactly the columns of ``pipeline.routed``.

North-rule requirements implemented here:
- **per-sink tables**: one routed pass, fanned out by ``sinks.write_sinks``
  under ``<out>/sinks/route=<name>/chunk=<id>/`` (fileexporter group_by
  analog — `exporter/fileexporter/grouping_file_exporter.go:116-152`);
  the chunk's counts are written alongside the sinks, concurrently, off the
  same cached routed frame;
- **per-partition lineage + metrics**: the source file list is split into
  chunks; each chunk commit records its files, row metrics (parsed/routed/
  dropped/per-route) and status in ``<out>/lineage/``. Metrics come from
  ``pyspark.sql.Observation`` on the single write pass — no second scan
  (reference analog: obsreport counters, `processor/filterprocessor/telemetry.go`);
- **resumable mid-run**: chunk output dirs are overwritten atomically-enough
  (full rewrite per chunk) and the lineage row is committed *after* the data,
  so a crash mid-chunk re-runs exactly that chunk on resume (the same
  contract as fileconsumer offset checkpoints,
  `pkg/stanza/fileconsumer/internal/checkpoint/checkpoint.go:20-49`);
- **skew handling**: ``write_sinks`` hash-partitions the routed rows by
  conv_id once, so each conversation's rows, hot ones included, sit in one
  partition; the counts (``pipeline.count_routes``, keyed by conv_id) then
  aggregate that cached frame with no further shuffle, and Catalyst's
  partial aggregation collapses a hot conversation's rows to one per
  (window, route, role, tool) within its task. AQE (partition coalescing,
  skew-join splitting) is on in session.py.

At 100 TB the chunk unit would be an Iceberg snapshot/manifest range instead
of a file list; the commit protocol (data first, lineage second, idempotent
re-run) is the same.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..datagen import transcripts
from ..sources import sinks as sinks_io
from . import pipeline as flagship


def _list_parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
    return [path]


@dataclass
class ChunkResult:
    chunk_id: int
    files: list[str]
    metrics: dict
    seconds: float


class PipelineRunner:
    """parse -> enrich -> route -> aggregate over a transcripts parquet
    source, chunked for resumability."""

    def __init__(
        self,
        spark: SparkSession,
        source: str,
        out_dir: str,
        num_chunks: int = 4,
        fmt: str = "parquet",
        table_prefix: str = "otelcol.sinks",
    ):
        self.spark = spark
        self.source = source
        self.out_dir = out_dir
        self.num_chunks = num_chunks
        # fmt='iceberg' routes every sink write through sinks.write_table
        # against `<table_prefix>.route_<sink>` tables partitioned by
        # chunk_id, using overwritePartitions() so each chunk commit is one
        # snapshot that REPLACES that chunk's partition — a crash after some
        # sink writes but before the lineage commit re-runs the chunk
        # idempotently, matching the parquet path's per-chunk-dir overwrite.
        self.fmt = fmt
        self.table_prefix = table_prefix
        self.lineage_dir = os.path.join(out_dir, "lineage")
        os.makedirs(self.lineage_dir, exist_ok=True)

    # -- lineage -----------------------------------------------------------

    def _lineage_path(self, chunk_id: int) -> str:
        return os.path.join(self.lineage_dir, f"chunk-{chunk_id:05d}.json")

    def completed_chunks(self) -> set[int]:
        done = set()
        for f in os.listdir(self.lineage_dir):
            if f.startswith("chunk-") and f.endswith(".json"):
                with open(os.path.join(self.lineage_dir, f)) as fh:
                    rec = json.load(fh)
                if rec.get("status") == "committed":
                    done.add(rec["chunk_id"])
        return done

    def _commit_lineage(self, result: ChunkResult) -> None:
        rec = {
            "chunk_id": result.chunk_id,
            "files": result.files,
            "metrics": result.metrics,
            "seconds": result.seconds,
            "status": "committed",
        }
        tmp = self._lineage_path(result.chunk_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh)
        os.replace(tmp, self._lineage_path(result.chunk_id))  # atomic commit

    # -- chunk execution -----------------------------------------------------

    def run_chunk(self, chunk_id: int, files: list[str]) -> ChunkResult:
        t0 = time.perf_counter()
        routed = flagship.route_transcripts(self.spark.read.parquet(*files))

        obs = Observation(f"chunk-{chunk_id}")
        observed = routed.observe(
            obs,
            F.count(F.lit(1)).alias("rows_in"),
            F.sum(F.col("parse_ok").cast("long")).alias("rows_parsed"),
            F.sum((~F.col("parse_ok")).cast("long")).alias("rows_malformed"),
            *[
                F.sum((F.col("route") == s).cast("long")).alias(f"route_{s}")
                for s in flagship.SINKS
            ],
        )

        def write(df: DataFrame, table: str, path: str) -> None:
            if self.fmt == "iceberg":
                # one Iceberg table per output, partitioned by chunk_id; one
                # dynamic-overwrite snapshot per chunk = idempotent re-run
                sinks_io.write_table(
                    df.withColumn("chunk_id", F.lit(chunk_id)),
                    f"{self.table_prefix}.{table}",
                    mode="overwrite_partitions",
                    group_by=["chunk_id"],
                    fmt="iceberg",
                )
            else:
                dst = os.path.join(self.out_dir, path, f"chunk={chunk_id:05d}")
                df.write.mode("overwrite").parquet(dst)

        sinks_io.write_sinks(
            observed,
            flagship.SINKS,
            lambda df, s: write(df, f"route_{s}", os.path.join("sinks", f"route={s}")),
            # aggregate stage off the cached ordered frame, written alongside
            # the sinks: the flagship count per chunk (delta temporality, like
            # the count connector's per-batch emission)
            lambda ordered: write(flagship.count_routes(ordered), "counts", "counts"),
        )
        metrics = {k: int(v) for k, v in obs.get.items()}

        res = ChunkResult(
            chunk_id=chunk_id,
            files=files,
            metrics=metrics,
            seconds=round(time.perf_counter() - t0, 3),
        )
        self._commit_lineage(res)
        return res

    # -- full run ------------------------------------------------------------

    def run(self, resume: bool = True) -> list[ChunkResult]:
        files = _list_parquet_files(self.source)
        chunks: dict[int, list[str]] = {i: [] for i in range(self.num_chunks)}
        for i, f in enumerate(files):
            chunks[i % self.num_chunks].append(f)
        done = self.completed_chunks() if resume else set()
        results = []
        for cid, cfiles in chunks.items():
            if not cfiles or cid in done:
                continue
            results.append(self.run_chunk(cid, cfiles))
        return results

    def read_sink(self, route: str) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.out_dir, "sinks", f"route={route}")
        )

    def read_counts(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.out_dir, "counts"))

    def merged_counts(self) -> DataFrame:
        """Cumulative rollup across chunk deltas (the countconnector emits
        per-batch deltas; consumers aggregate — cumulative temporality is a
        sum over deltas per series)."""
        return (
            self.read_counts()
            .groupBy("window_id", "route", "conv_id", "role", "tool")
            .agg(F.sum("n").alias("n"))
        )


def materialize_transcripts(
    spark: SparkSession, sf_dir: str, path: str, num_files: int = 8
) -> str:
    """Derive the canonical transcripts table once and lay it out
    conv-complete: repartition by conv_id so no conversation spans two files,
    making file-granular chunk resume safe (turn ordering and sessionization
    never cross a chunk boundary)."""
    t = transcripts(spark, sf_dir)
    t.repartition(num_files, F.col("conv_id")).write.mode("overwrite").parquet(path)
    return path
