"""Seeded benchmark of the parse -> enrich -> route -> aggregate pipeline.

Run from the root of a checkout:

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The lines before it
record every timed pass, when each phase of the run ended, and the host (nproc, CPU affinity, load1, CPU and
steal clock ticks) before and after the run.

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off:

- ``setup_s``: seeded input generation, session start, Spark-side set-up and
  the first (cold) pass;
- ``pass_s``: median wall time of the passes run in ``--seconds`` (at least
  ``MIN_PASSES``) after ``WARMUP_PASSES`` untimed ones, from the public call
  until the result is forced;
- ``rows_per_s``: the input rows a pass reads (turns; for
  ``ottl_runner_curation`` also the runner's turns and the documents)
  divided by ``pass_s``.

With ``--trace 1`` the metrics are the per-layer ones (see ``traced``). A
metric of a layer the workload does not run reads 0, and a line before the
result lists those metrics as ``absent``.

The program's output is checked outside the timed region (see
``workloads.py``); a pass that raises counts in ``failed``, and a failed
check fails every pass. Work files go to ``.perfbench/`` in the checkout and
are removed on exit; a traced run leaves its spans there as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

CORES = 4
# a warm pass after the cold one that is run but not timed: the JIT is
# still speeding passes up
WARMUP_PASSES = 1
# five passes, so a burst of host load in one pass moves the median less
MIN_PASSES = 5
TRACE_REPS = 2
PKG = "open_telemetry_opentelemetry_collector_contrib_spark"
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path[:0] = [ROOT]

from perfbench.trace import EventLog, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, metric  # noqa: E402


def per_layer() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric ``BENCHMARK.json`` lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)["per_layer"]]


def host() -> dict:
    """Host facts, and the CPU time counters (in clock ticks) from
    /proc/stat, whose ``steal`` share shows time the hypervisor gave to
    other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return {
        "nproc": os.cpu_count(),
        "affinity": sorted(os.sched_getaffinity(0)),
        "load1": os.getloadavg()[0],
        "cpu_ticks": sum(ticks),
        "steal_ticks": ticks[7],
    }


def start_session(work: str, name: str, cores: int, event_log: str | None):
    from open_telemetry_opentelemetry_collector_contrib_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(app_name=f"perfbench-{name}", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM behind it, and wait for the JVM to exit.
    Does nothing once the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway.proc.poll() is not None:
        return
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Passes:
    """Runs and times passes, counting the ones that raise. Before each
    pass, untimed, the workload clears the cache, so no pass reads another
    pass's ``persist``, and gives the pass a fresh output directory."""

    def __init__(self, spark, wl):
        self.spark, self.wl = spark, wl
        self.attempted = self.failed = 0
        self.times: list[float] = []

    def one(self, run=None) -> float | None:
        """Wall seconds of one pass, or None if it raised."""
        self.wl.reset(self.spark)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            (run or self.wl.run_pass)(self.spark)
        except Exception as e:  # a failing pass is counted, not fatal
            print(f"perfbench: pass {self.attempted} raised {type(e).__name__}: {e}", file=sys.stderr)
            self.failed += 1
            return None
        return time.perf_counter() - t0

    def for_seconds(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while len(self.times) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            dt = self.one()
            if dt is not None:
                self.times.append(dt)
            elif self.failed > MIN_PASSES:
                break

    def median(self) -> float:
        if not self.times:
            raise RuntimeError(f"no pass of {self.wl.name} completed")
        return statistics.median(self.times)


def run(args, work: str) -> dict:
    wl = WORKLOADS[args.workload](work, args.seed)
    if args.leg:
        wl.sf_dir = os.path.join(args.leg, "sf")
    # wall seconds at the end of each phase, from the start of set-up
    t0, phases = time.perf_counter(), {}

    def phase(name: str) -> float:
        phases[name] = time.perf_counter() - t0
        return phases[name]

    if not args.leg:
        wl.generate()
    phase("generate")
    # the leg logs events too, so scaling_eff compares like with like
    event_log = os.path.join(work, "eventlog") if args.trace or args.leg else None
    spark = start_session(work, args.workload, 1 if args.leg else CORES, event_log)
    phase("session")
    try:
        if not args.leg:
            wl.prepare(spark)
        phase("prepare")
        passes = Passes(spark, wl)
        passes.one()
        setup_s = phase("cold_pass")
        for _ in range(WARMUP_PASSES):
            passes.one()
        phase("warmup")
        if args.trace:
            metrics = traced(spark, wl, passes, args, work)
        else:
            passes.for_seconds(args.seconds)
            phase("timed")
            if args.leg:
                return {"pass_s": passes.median()}
            if not wl.check(spark):
                passes.failed = passes.attempted
            phase("check")
            metrics = {
                "setup_s": metric(setup_s, "s"),
                "pass_s": metric(passes.median(), "s"),
                "rows_per_s": metric(wl.rows / passes.median(), "1/s"),
            }
    finally:
        stop_session(spark)
    phase("stop")
    print(json.dumps({"passes_s": passes.times, "phases_s": phases}))
    return {
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": metrics,
    }


def traced(spark, wl, passes: Passes, args, work: str) -> dict:
    """Per-layer metrics.

    ``TRACE_REPS`` reps each run one untraced pass, then the traced pass
    (``wl.trace_pass``): spans around each call into a layer, each under its
    own job group. ``trace.full_s`` is the median traced full pass and
    ``trace.overhead_s`` that minus the interleaved untraced median; both
    run in this JVM, with the event log on. Stage metrics come from the
    event log of the last rep. ``scaling_eff`` comes from a single-core leg
    in its own JVM, also with the event log on, where the workload asks for
    one.
    """
    tracer = Tracer(spark)
    gc_beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_ms() -> int:
        return sum(b.getCollectionTime() for b in gc_beans)

    if not wl.check(spark):
        passes.failed = passes.attempted
    gc0 = gc_ms()
    for _ in range(TRACE_REPS):
        dt = passes.one()
        if dt is not None:
            passes.times.append(dt)
        passes.one(lambda s: wl.trace_pass(s, tracer))
    gc_s = (gc_ms() - gc0) / 1000.0 / (2 * TRACE_REPS)
    m = wl.count_metrics(spark)
    rss_mb = _peak_rss_kb(spark._jvm.java.lang.ProcessHandle.current().pid()) / 1024.0
    stop_session(spark)
    tracer.dump(os.path.join(ROOT, ".perfbench", f"{wl.name}-seed{args.seed}.spans.jsonl"))
    log = EventLog(os.path.join(work, "eventlog"))
    untraced_s = passes.median()

    m.update(wl.layer_metrics(tracer, log))
    full_t = tracer.median(f"{wl.name}.full")
    full = wl.stats(tracer, log, "full")
    m["trace.full_s"] = metric(full_t, "s")
    m["trace.untraced_s"] = metric(untraced_s, "s")
    m["trace.overhead_s"] = metric(full_t - untraced_s, "s")
    m["spark.jobs"] = metric(full.jobs, "count")
    m["spark.tasks"] = metric(full.tasks, "count")
    m["spark.stage_max_task_ratio"] = metric(full.max_task_ratio(), "ratio")
    m["spark.spill_bytes"] = metric(full.spill_bytes, "bytes")
    m["jvm.gc_s"] = metric(gc_s, "s")
    m["jvm.peak_rss_mb"] = metric(rss_mb, "MB")
    if wl.single_core_leg:
        m["scaling_eff"] = metric(single_core_leg(args, work) / untraced_s / CORES, "ratio")
    m["error_rate"] = metric(passes.failed / passes.attempted, "ratio")

    # the result carries every per-layer metric: one of a layer the workload
    # does not run reads 0, and is listed as absent
    names = per_layer()
    absent = [(k, u) for k, u in names if k not in m]
    print(json.dumps({"absent": [k for k, _ in absent]}))
    m.update({k: metric(0, u) for k, u in absent})
    return {k: m[k] for k, _ in names}


def _peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def single_core_leg(args, work: str) -> float:
    """Warm ``pass_s`` (median of ``MIN_PASSES``) of the same workload on
    the inputs in ``work``, in its own JVM pinned to one core with
    ``taskset -c 0``."""
    cmd = [
        "taskset", "-c", "0", sys.executable, os.path.join(HERE, "run.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", "0", "--trace", "0", "--leg", work,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=120, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])["pass_s"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # the single-core leg: the work directory whose inputs it reuses
    ap.add_argument("--leg", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, PKG)) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: {PKG} not found; run from the root of a checkout", file=sys.stderr)
        return 2
    width = 1 if args.leg else CORES
    if width > len(os.sched_getaffinity(0)):
        print(f"perfbench: refusing a {width}-core leg on {len(os.sched_getaffinity(0))} usable CPUs", file=sys.stderr)
        return 3

    if args.leg:
        work = os.path.join(args.leg, "leg")
    else:
        work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    before = host()
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.leg:
        print(json.dumps({"host_before": before, "host_after": host()}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
