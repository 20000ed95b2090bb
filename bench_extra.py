"""Per-query isolation bench + plan capture (guide §1.1/§1.4/§1.5).

NOT part of the frozen measurement contract — bench.py is the driver's
timed artifact and stays untouched. This harness exists for optimization
work: it times individual ``queries()`` entries with the noop sink
(median of N in-session runs, same methodology as bench.py's per-query
section, minus the scaling legs) and dumps ``explain("formatted")`` for
each, so before/after plan evidence can be committed under plans/r06/.
Each query runs once untimed before its timed reps: a query's first run
in a JVM pays class loading and JIT warm-up (the first ``tail_sampling``
run at sf0.1 on ``local[4]`` took 3.3-5.1 s against about 1.1 s warm).

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=4 \
      python bench_extra.py [--reps 3] [--explain plans/r06 --suffix before] \
      [query ...]

With no query names: the full bench.py BENCH_QUERIES list.
Prints one JSON line per query and a final summary JSON line.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    reps = 3
    explain_dir = None
    suffix = "before"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        elif args[i] == "--explain":
            explain_dir = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

    from open_telemetry_opentelemetry_collector_contrib_spark.session import get_spark

    spark = get_spark(app_name="otelcol-spark-bench-extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from bench import BENCH_QUERIES

    queries = entry_mod.queries()
    if not names:
        names = list(BENCH_QUERIES)

    # same warm-up as bench.py main()
    queries["transcripts"](spark, sf_dir).count()

    results: dict[str, float] = {}
    for name in names:
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            df = queries[name](spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(explain_dir, f"{name}_{suffix}.txt"), "w") as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")

        def run() -> float:
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        run()  # untimed warm-up
        runs = sorted(run() for _ in range(reps))
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(runs)
        results[name] = round(med, 3)
        print(
            json.dumps(
                {
                    "query": name,
                    "median": round(med, 3),
                    "min": round(runs[0], 3),
                    "max": round(runs[-1], 3),
                }
            ),
            flush=True,
        )

    print("SUMMARY " + json.dumps(results, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
