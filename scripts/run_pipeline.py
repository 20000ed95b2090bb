"""spark-submit entrypoint for the transcript pipeline.

Usage (local example; on a cluster swap --master and add executors):

    python -m zipfile -c /tmp/otelcol_spark.zip open_telemetry_opentelemetry_collector_contrib_spark
    spark-submit --master local[4] \
        --py-files /tmp/otelcol_spark.zip \
        scripts/run_pipeline.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/pipeline_out \
        --chunks 8 [--resume] [--cores N]

Prints one JSON line per chunk (lineage record) and a final summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--out", required=True)
    ap.add_argument("--transcripts", help="pre-materialized transcripts parquet dir")
    ap.add_argument("--chunks", type=int, default=8)
    ap.add_argument("--cores", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))))
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--fresh", action="store_true", help="clear lineage before running")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"],
                    help="sink format: parquet directories or Iceberg tables (needs the Iceberg runtime on the classpath)")
    ap.add_argument("--table-prefix", default="otelcol.sinks",
                    help="catalog.db prefix for --format=iceberg sink tables")
    args = ap.parse_args()

    from open_telemetry_opentelemetry_collector_contrib_spark.plans.runner import (
        PipelineRunner,
        materialize_transcripts,
    )
    from open_telemetry_opentelemetry_collector_contrib_spark.session import get_spark

    spark = get_spark(app_name="otelcol-spark-pipeline", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    source = args.transcripts
    if not source:
        source = os.path.join(args.out, "transcripts_src")
        materialize_transcripts(spark, args.sf_dir, source, num_files=args.chunks * 2)

    runner = PipelineRunner(
        spark, source, args.out, num_chunks=args.chunks,
        fmt=args.format, table_prefix=args.table_prefix,
    )
    if args.fresh and os.path.isdir(runner.lineage_dir):
        for f in os.listdir(runner.lineage_dir):
            os.remove(os.path.join(runner.lineage_dir, f))

    results = runner.run(resume=args.resume or not args.fresh)
    for r in results:
        print(json.dumps({"chunk": r.chunk_id, "seconds": r.seconds, **r.metrics}))

    total = {"chunks_run": len(results)}
    for r in results:
        for k, v in r.metrics.items():
            total[k] = total.get(k, 0) + v
    print(json.dumps({"summary": total}))
    spark.stop()


if __name__ == "__main__":
    main()
