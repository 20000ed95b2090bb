"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one pass through a
public entry point of the package, and checks the outputs outside the timed
region. In a traced run it also times prefixes of the same program, each
projected to the columns the full pass reads from it, so that the prefix
self-times and the residual add up to the full pass.

- ``flagship``: ``plans.pipeline.sink_counts`` over a 4x replica of the
  generated ``events`` (400k turns), forced with the noop sink. Transcript
  derivation, regex parse and the aggregate shuffle do its work; it has no
  sinks, no OTTL and no Python, so it is the bypass for the OTTL part below.
- ``ottl_runner_curation``: three parts in one pass.
  ``plans.config.build`` over materialized transcripts (100k turns) with a
  regex ``logstransform`` parser, an OTTL filter that keeps ERROR rows, a
  transform whose Arrow-UDF ``FNV`` output is an aggregate key (so column
  pruning cannot drop the UDF), OTTL routes and a count aggregate: OTTL
  compile, the Python/Arrow boundary and the rows parsed only to be
  filtered away show here. Then ``PipelineRunner(...).run(resume=False)``
  over one of those files (12.5k conv-complete turns) into a fresh
  directory: the repartition, sort and persist, the per-sink parquet
  writes, the salted counts and the lineage commit. Then a fixed mix of registered curation queries over
  generated ``documents`` (``CURATION``): a ``functions`` groupBy, the
  MinHash pandas UDF and the banded-LSH ``persist`` site.

Each workload's ``layer_metrics`` turns the traced passes' spans and the
event log into its per-layer metrics; a metric of a layer the workload does
not run is left out (``run.py`` reports it as absent).
"""

from __future__ import annotations

import glob
import json
import math
import os
import re
import shutil
import statistics
import sys
import time

import pyarrow as pa

from . import inputs
from .trace import EventLog, Tracer, plan_nodes

SINKS = ["errors", "tool_calls", "human", "default"]
WINDOW_S = 86400
PYTHON_TIME = "time to run Python workers"


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _diff_count(con, left: str, right: str, cols: str) -> int:
    """Rows in one relation and not the other, counting duplicates."""
    return con.sql(
        f"SELECT count(*) FROM ((SELECT {cols} FROM {left} EXCEPT ALL SELECT {cols} FROM {right})"
        f" UNION ALL (SELECT {cols} FROM {right} EXCEPT ALL SELECT {cols} FROM {left}))"
    ).fetchone()[0]


class Workload:
    name = ""
    # 4 x 100k events rows: passes of about 2.5 s on a 4-vCPU host, so a
    # run fits its share of the benchmark's time budget with a handful of
    # timed passes
    replicas = 4
    # (prefix name, the layer metric its self-time reports), in plan order
    prefixes: list[tuple[str, str]] = []
    # the span whose time, minus the last prefix's, is the aggregate's
    residual_span = "full"
    # whether a traced run measures scaling_eff with a single-core leg
    single_core_leg = False

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")
        self.rows = 0

    def generate(self) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.rows = inputs.write_table(self.sf_dir, "events", inputs.events_table(self.seed, self.replicas))

    def prepare(self, spark) -> None:
        """Spark-side set-up after the inputs are written."""

    def reset(self, spark) -> None:
        """Untimed, before every pass: no pass may read another's cache."""
        spark.catalog.clearCache()

    def run_pass(self, spark) -> None:
        raise NotImplementedError

    def check(self, spark) -> bool:
        """Gate on one more, untimed evaluation of the program."""
        raise NotImplementedError

    def prefix_frame(self, spark, name: str):
        raise NotImplementedError

    def trace_pass(self, spark, tracer: Tracer) -> None:
        """One traced rep: every prefix, then the full pass, each in a span."""
        for name, _ in self.prefixes:
            with tracer.span(f"{self.name}.{name}"):
                _noop(self.prefix_frame(spark, name))
        with tracer.span(f"{self.name}.full"):
            self.traced_full(spark, tracer)

    def traced_full(self, spark, tracer: Tracer) -> None:
        self.run_pass(spark)

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict:
        """Prefix self-times: each prefix's median minus the previous one's,
        and ``residual_span`` minus the last prefix for the last stage, so
        they add up to the traced ``residual_span``."""
        m, prev_t = {}, 0.0
        for name, key in self.prefixes:
            t = tracer.median(f"{self.name}.{name}")
            m[key] = metric(t - prev_t, "s")
            prev_t = t
        m["operators.aggregate_s"] = metric(tracer.median(f"{self.name}.{self.residual_span}") - prev_t, "s")
        return m

    def stats(self, tracer: Tracer, log: EventLog, span: str):
        """Event-log stats of the last rep's ``span`` and the spans in it."""
        return log.merged(tracer.subtree(tracer.groups(f"{self.name}.{span}")[-1]))

    def plans(self, tracer: Tracer, log: EventLog, span: str) -> list:
        groups = tracer.subtree(tracer.groups(f"{self.name}.{span}")[-1])
        return [ex.plan for g in groups for ex in log.executions_of(g)]

    def count_metrics(self, spark) -> dict:
        """Output counts that only change with the input, taken while the
        session is up."""
        return {}


class Flagship(Workload):
    name = "flagship"
    single_core_leg = True
    prefixes = [
        ("scan", "sources.scan_s"),
        ("transcripts", "datagen.transcripts_s"),
        ("parsed", "operators.parse_s"),
        ("enriched", "operators.enrich_s"),
        ("routed", "operators.route_s"),
    ]
    # what sink_counts reads from each prefix
    _COLS = {
        "transcripts": ["conv_id", "role", "text", "tool", "ts"],
        "parsed": ["conv_id", "role", "tool", "ts", "level", "status"],
        "enriched": ["conv_id", "role", "tool", "ts", "level", "status", "is_human"],
        "routed": ["route", "conv_id", "role", "tool", "ts"],
    }

    def run_pass(self, spark) -> None:
        from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline

        _noop(pipeline.sink_counts(spark, self.sf_dir))

    def prefix_frame(self, spark, name: str):
        from open_telemetry_opentelemetry_collector_contrib_spark import datagen
        from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline
        from open_telemetry_opentelemetry_collector_contrib_spark.sources.tables import load_table

        if name == "scan":
            return load_table(spark, self.sf_dir, "events")
        fn = {
            "transcripts": datagen.transcripts,
            "parsed": pipeline.parsed,
            "enriched": pipeline.enriched,
            "routed": pipeline.routed,
        }[name]
        return fn(spark, self.sf_dir).select(*self._COLS[name])

    def check(self, spark) -> bool:
        """Order-insensitive comparison with the DuckDB oracle of
        ``pipeline_sink_counts`` over the generated events."""
        import duckdb

        import __spark_entry__ as entry
        from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline

        dst = os.path.join(self.work, "check", "flagship")
        pipeline.sink_counts(spark, self.sf_dir).write.mode("overwrite").parquet(dst)
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf_dir}/events.parquet/*.parquet')")
        con.sql(f"CREATE TABLE oracle_counts AS {entry.oracle_sql()['pipeline_sink_counts']}")
        con.sql(f"CREATE VIEW got AS SELECT * FROM read_parquet('{dst}/*.parquet')")
        cols = "window_id, route, conv_id, role, tool, n"
        self.route_rows = dict(con.sql("SELECT route, sum(n) FROM got GROUP BY route").fetchall())
        ok = _diff_count(con, "got", "oracle_counts", cols) == 0
        con.close()
        return ok

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict:
        m = super().layer_metrics(tracer, log)
        scan, full = self.stats(tracer, log, "scan"), self.stats(tracer, log, "full")
        parsed, routed = self.stats(tracer, log, "parsed"), self.stats(tracer, log, "routed")
        m["datagen.transcripts.shuffle_bytes"] = metric(
            self.stats(tracer, log, "transcripts").shuffle_write_bytes - scan.shuffle_write_bytes, "bytes"
        )
        m["operators.aggregate.shuffle_bytes"] = metric(full.shuffle_write_bytes - routed.shuffle_write_bytes, "bytes")
        m["operators.enrich.jobs"] = metric(self.stats(tracer, log, "enriched").jobs - parsed.jobs, "count")
        plans = self.plans(tracer, log, "full")
        m["operators.parse.rows_in"] = metric(sum(log.rows_into(p, "regexp_extract") for p in plans), "count")
        return m

    def count_metrics(self, spark) -> dict:
        from pyspark.sql import functions as F

        from open_telemetry_opentelemetry_collector_contrib_spark.plans import pipeline

        malformed = pipeline.parsed(spark, self.sf_dir).filter(~F.col("parse_ok")).count()
        m = {"operators.parse.malformed_rows": metric(malformed, "count")}
        m.update(_route_metrics(self.route_rows))
        return m


def _route_metrics(rows: dict) -> dict:
    return {f"operators.route.rows.{s}": metric(rows.get(s, 0), "count") for s in SINKS}


OTTL_REGEX = (
    r"^(?P<level>[A-Z]+) action=(?P<action>[a-z_]+)"
    r" latency_ms=(?P<latency_ms>[0-9]+) status=(?P<status>[a-z]+)"
)

OTTL_SPEC = {
    "processors": [
        {"type": "logstransform", "operators": [{"type": "regex_parser", "regex": OTTL_REGEX}]},
        {"type": "filter", "drop_conditions": ["level == nil", 'level != "ERROR"']},
        {"type": "transform", "statements": ['set(attributes["conv_hash"], FNV(conv_id))']},
    ],
    "route": {
        "table": [
            {"name": "errors", "condition": 'status == "err"'},
            {"name": "tool_calls", "condition": 'role == "tool" and tool != ""'},
            {"name": "human", "condition": 'role == "user"'},
        ],
        "match_once": True,
    },
    "aggregate": {"type": "count", "keys": ["route", "conv_hash", "tool"], "window_s": WINDOW_S},
}


def fnv1a64(s: str) -> int:
    """Go hash/fnv FNV-1a 64 of the UTF-8 bytes, as a signed int64."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h - (1 << 64) if h >= (1 << 63) else h


CURATION = ["exact_dedup", "minhash_lsh_pairs"]


class OttlRunnerCuration(Workload):
    """Three parts in one pass, each in its own span when traced:

    - ``ottl``: ``plans.config.build(OTTL_SPEC)`` over materialized
      transcripts of one events replica (100k turns), forced with the
      noop sink;
    - ``runner``: ``PipelineRunner(...).run(resume=False)``, one chunk, over
      the first of those transcript files (about 12.5k conv-complete turns),
      into a fresh directory;
    - one span per ``CURATION`` query over the generated documents, each
      forced with the noop sink.
    """

    name = "ottl_runner_curation"
    # three parts share the time budget of one workload
    replicas = 1
    transcript_files = 8
    # the DuckDB MinHash oracle in the check takes about 4.4 s at 300
    # documents and 9 s at 1000
    docs = 300
    prefixes = [
        ("scan", "sources.scan_s"),
        ("parsed", "operators.parse_s"),
        ("filtered", "operators.filter_s"),
        # the transform's only statement calls the Arrow UDF
        ("transformed", "ottl.transform_s"),
        ("routed", "operators.route_s"),
    ]
    residual_span = "ottl"
    # spec prefix per stage, and what the full pass reads from its output
    _STAGES = {
        "parsed": (1, ["conv_id", "role", "tool", "ts", "level", "status"]),
        "filtered": (2, ["conv_id", "role", "tool", "ts", "status"]),
        "transformed": (3, ["role", "tool", "ts", "status", "conv_hash"]),
    }

    def __init__(self, work: str, seed: int):
        super().__init__(work, seed)
        self.source = os.path.join(work, "transcripts")
        self.build_times: list[float] = []
        self.pass_no = 0
        self.results: list = []

    def generate(self) -> None:
        super().generate()
        self.turns = self.rows
        self.rows += inputs.write_table(self.sf_dir, "documents", inputs.documents_table(self.seed, self.docs))

    def prepare(self, spark) -> None:
        """Conv-complete transcripts, as the runner lays them out."""
        from open_telemetry_opentelemetry_collector_contrib_spark.plans import runner

        import pyarrow.parquet as pq

        runner.materialize_transcripts(spark, self.sf_dir, self.source, num_files=self.transcript_files)
        self.runner_source = sorted(glob.glob(os.path.join(self.source, "*.parquet")))[0]
        self.runner_rows = pq.ParquetFile(self.runner_source).metadata.num_rows
        self.rows += self.runner_rows

    def out_dir(self) -> str:
        return os.path.join(self.work, "out", f"pass-{self.pass_no:04d}")

    def reset(self, spark) -> None:
        """Also drops the previous pass's runner output (the last pass's
        stays for the check) and gives this pass a fresh directory."""
        super().reset(spark)
        shutil.rmtree(self.out_dir(), ignore_errors=True)
        self.pass_no += 1

    # -- the three parts ------------------------------------------------------

    def build(self, spark, spec: dict = OTTL_SPEC):
        from open_telemetry_opentelemetry_collector_contrib_spark.plans import config

        return config.build(spark, spec, spark.read.parquet(self.source))

    def run_ottl(self, spark) -> None:
        t0 = time.perf_counter()
        df = self.build(spark)
        self.build_times.append(time.perf_counter() - t0)
        _noop(df)

    def run_runner(self, spark) -> None:
        from open_telemetry_opentelemetry_collector_contrib_spark.plans import runner

        self.results = runner.PipelineRunner(spark, self.runner_source, self.out_dir(), num_chunks=1).run(
            resume=False
        )

    def run_query(self, spark, name: str) -> None:
        import __spark_entry__ as entry

        _noop(entry.queries()[name](spark, self.sf_dir))

    def run_pass(self, spark) -> None:
        self.run_ottl(spark)
        self.run_runner(spark)
        for q in CURATION:
            self.run_query(spark, q)

    def traced_full(self, spark, tracer: Tracer) -> None:
        with tracer.span(f"{self.name}.ottl"):
            with tracer.span(f"{self.name}.build"):
                df = self.build(spark)
            _noop(df)
        with tracer.span(f"{self.name}.runner"):
            self.run_runner(spark)
        for q in CURATION:
            with tracer.span(f"{self.name}.{q}"):
                self.run_query(spark, q)

    def prefix_frame(self, spark, name: str):
        if name == "scan":
            return spark.read.parquet(self.source).select("conv_id", "role", "tool", "ts", "text")
        if name == "routed":
            spec = {k: v for k, v in OTTL_SPEC.items() if k != "aggregate"}
            return self.build(spark, spec).select("route", "conv_hash", "tool", "ts")
        n, cols = self._STAGES[name]
        return self.build(spark, {"processors": OTTL_SPEC["processors"][:n]}).select(*cols)

    # -- correctness gate -----------------------------------------------------

    def check(self, spark) -> bool:
        """Every part: the OTTL output against a hand-written DuckDB twin of
        the spec, the last pass's runner output (``check_runner``) and each
        query against its DuckDB oracle."""
        import duckdb

        import __spark_entry__ as entry

        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.sf_dir}/documents.parquet/*.parquet')")
        oks = {"ottl": self.check_ottl(spark, con), "runner": self.check_runner(con)}
        for q in CURATION:
            got = entry.queries()[q](spark, self.sf_dir)
            oks[q] = _same_rows(got.columns, got.collect(), con.sql(entry.oracle_sql()[q]))
        con.close()
        for part, ok in oks.items():
            if not ok:
                print(f"perfbench: {self.name} {part} output is wrong", file=sys.stderr)
        return all(oks.values())

    def check_ottl(self, spark, con) -> bool:
        dst = os.path.join(self.work, "check", "ottl")
        self.build(spark).write.mode("overwrite").parquet(dst)
        con.sql(f"CREATE VIEW t AS SELECT * FROM read_parquet('{self.source}/*.parquet')")
        convs = [r[0] for r in con.sql("SELECT DISTINCT conv_id FROM t").fetchall()]
        h = pa.table({"conv_id": convs, "conv_hash": pa.array([fnv1a64(c) for c in convs], pa.int64())})
        con.register("h", h)
        rx = re.sub(r"\(\?P<[^>]+>", "(", OTTL_REGEX)
        con.sql(
            f"""CREATE TABLE twin AS
            WITH p AS (
              SELECT conv_id, role, tool, ts,
                     nullif(regexp_extract(text, '{rx}', 1), '') AS level,
                     nullif(regexp_extract(text, '{rx}', 4), '') AS status
              FROM t),
            k AS (SELECT * FROM p WHERE level = 'ERROR')
            SELECT CAST(floor(epoch(ts) / {WINDOW_S}) AS BIGINT) AS window_id,
                   CASE WHEN status = 'err' THEN 'errors'
                        WHEN role = 'tool' AND tool <> '' THEN 'tool_calls'
                        WHEN role = 'user' THEN 'human'
                        ELSE 'default' END AS route,
                   h.conv_hash, tool, count(*) AS n
            FROM k JOIN h USING (conv_id) GROUP BY ALL"""
        )
        con.sql(f"CREATE VIEW got AS SELECT * FROM read_parquet('{dst}/*.parquet')")
        self.route_rows = dict(con.sql("SELECT route, sum(n) FROM got GROUP BY route").fetchall())
        self.kept = con.sql("SELECT sum(n) FROM got").fetchone()[0]
        return self.kept > 0 and _diff_count(con, "got", "twin", "window_id, route, conv_hash, tool, n") == 0

    def check_runner(self, con) -> bool:
        """Per-sink rows read back equal the lineage counts and the flagship
        oracle's per-route totals over the same conversations, every sink
        file is sorted by (conv_id, turn_idx), and the salted counts equal
        the flagship oracle's per-window counts."""
        import __spark_entry__ as entry

        out, sql = self.out_dir(), entry.oracle_sql()
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.sf_dir}/events.parquet/*.parquet')")
        con.sql(f"CREATE TABLE convs AS SELECT DISTINCT conv_id FROM read_parquet('{self.runner_source}')")
        mine = "WHERE conv_id IN (SELECT conv_id FROM convs)"
        con.sql(f"CREATE TABLE oracle_counts AS SELECT * FROM ({sql['pipeline_sink_counts']}) {mine}")
        routes = dict(con.sql(f"SELECT route, count(*) FROM ({sql['pipeline_route']}) {mine} GROUP BY route").fetchall())
        # one chunk, so one lineage record
        with open(os.path.join(out, "lineage", "chunk-00000.json")) as fh:
            rec = json.load(fh)
        lineage = rec["metrics"]
        ok = rec["status"] == "committed" and lineage["rows_in"] == self.runner_rows
        for s in SINKS:
            got = con.sql(f"SELECT count(*) FROM read_parquet('{out}/sinks/route={s}/*/*.parquet')").fetchone()[0]
            ok = ok and got == lineage[f"route_{s}"] == routes.get(s, 0)
        unsorted = con.sql(
            f"""SELECT count(*) FROM (
                  SELECT conv_id, turn_idx,
                         lag(conv_id) OVER w AS pc, lag(turn_idx) OVER w AS pt
                  FROM read_parquet('{out}/sinks/*/*/*.parquet', filename=true, file_row_number=true)
                  WINDOW w AS (PARTITION BY filename ORDER BY file_row_number))
                WHERE pc > conv_id OR (pc = conv_id AND pt >= turn_idx)"""
        ).fetchone()[0]
        con.sql(
            f"""CREATE VIEW merged AS SELECT window_id, route, conv_id, role, tool, sum(n) AS n
                FROM read_parquet('{out}/counts/*/*.parquet') GROUP BY ALL"""
        )
        cols = "window_id, route, conv_id, role, tool, n"
        files = glob.glob(os.path.join(out, "sinks", "**", "*.parquet"), recursive=True)
        self.sink_bytes, self.sink_files = sum(os.path.getsize(f) for f in files), len(files)
        return ok and unsorted == 0 and _diff_count(con, "merged", "oracle_counts", cols) == 0

    # -- per-layer metrics ------------------------------------------------------

    def layer_metrics(self, tracer: Tracer, log: EventLog) -> dict:
        m = super().layer_metrics(tracer, log)
        plans = self.plans(tracer, log, "ottl")
        m["operators.parse.rows_in"] = metric(sum(log.rows_into(p, "regexp_extract") for p in plans), "count")
        # Spark's per-task Python worker time, summed over tasks and over
        # the plan's EvalPython nodes: task-seconds, which can exceed wall
        python = [n for p in plans for n in plan_nodes(p) if "EvalPython" in n["nodeName"]]
        m["ottl.python_rows"] = metric(log.metric_sum(python, "number of output rows"), "count")
        m["ottl.python_s"] = metric(log.metric_sum(python, PYTHON_TIME), "s")
        m["operators.aggregate.shuffle_bytes"] = metric(
            self.stats(tracer, log, "ottl").shuffle_write_bytes - self.stats(tracer, log, "routed").shuffle_write_bytes,
            "bytes",
        )
        m["plans.config.build_cold_s"] = metric(self.build_times[0], "s")
        m["plans.config.build_s"] = metric(tracer.median(f"{self.name}.build"), "s")
        m.update(self.runner_metrics(tracer, log))
        m.update(self.functions_metrics(tracer, log))
        return m

    def runner_metrics(self, tracer: Tracer, log: EventLog) -> dict:
        """Sink and counts writes are told apart by the path in their plan;
        source scans are distinct parquet scan nodes (the runner reads no
        other parquet, and a cached scan read by several writes counts
        once)."""
        write_s, counts_s = [], []
        for group in tracer.groups(f"{self.name}.runner"):
            execs = [ex for g in tracer.subtree(group) for ex in log.executions_of(g)]
            write_s.append(sum(ex.seconds for ex in execs if "/sinks/route=" in _plan_text(ex.plan)))
            counts_s.append(sum(ex.seconds for ex in execs if "/counts/chunk=" in _plan_text(ex.plan)))
        scans = {
            n["metrics"][0]["accumulatorId"]
            for p in self.plans(tracer, log, "runner")
            for n in plan_nodes(p)
            if n["nodeName"].startswith("Scan parquet")
        }
        return {
            "plans.runner.chunk_s": metric(sum(r.seconds for r in self.results), "s"),
            "sources.sinks.write_s": metric(statistics.median(write_s), "s"),
            "plans.runner.counts_s": metric(statistics.median(counts_s), "s"),
            "plans.runner.shuffle_bytes": metric(self.stats(tracer, log, "runner").shuffle_write_bytes, "bytes"),
            "plans.runner.source_scans": metric(len(scans), "count"),
        }

    def functions_metrics(self, tracer: Tracer, log: EventLog) -> dict:
        m, nodes, task_ms = {}, [], [0]
        for q in CURATION:
            m[f"functions.{q}_s"] = metric(tracer.median(f"{self.name}.{q}"), "s")
            nodes += [n for p in self.plans(tracer, log, q) for n in plan_nodes(p)]
            task_ms += self.stats(tracer, log, q).all_task_ms()
        m["functions.python_s"] = metric(log.metric_sum(nodes, PYTHON_TIME), "s")
        m["functions.max_task_s"] = metric(max(task_ms) / 1000.0, "s")
        m["functions.inmemory_relations"] = metric(sum(n["nodeName"] == "InMemoryTableScan" for n in nodes), "count")
        return m

    def count_metrics(self, spark) -> dict:
        from pyspark.sql import functions as F

        parsed = self.build(spark, {"processors": OTTL_SPEC["processors"][:1]})
        malformed = parsed.filter(F.col("level").isNull()).count()
        m = {
            "operators.parse.malformed_rows": metric(malformed, "count"),
            "operators.filter.keep_ratio": metric(self.kept / self.turns, "ratio"),
            "sources.sinks.bytes_written": metric(self.sink_bytes, "bytes"),
            "sources.sinks.files": metric(self.sink_files, "count"),
            "out_bytes_per_row": metric(self.sink_bytes / self.runner_rows, "bytes"),
        }
        m.update(_route_metrics(self.route_rows))
        return m


def _plan_text(plan) -> str:
    return " ".join(n.get("simpleString", "") for n in plan_nodes(plan))


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _same_rows(cols: list[str], rows: list, rel) -> bool:
    """Order-insensitive equality of Spark rows and a DuckDB relation, by
    column name, with floats rounded to 9 places."""
    d_cols = [d[0] for d in rel.description]
    if sorted(cols) != sorted(d_cols):
        return False

    def canon(rs, cs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        return sorted((tuple(_norm(r[i]) for i in order) for r in rs), key=repr)

    return canon([tuple(r) for r in rows], cols) == canon(rel.fetchall(), d_cols)


WORKLOADS = {w.name: w for w in (Flagship, OttlRunnerCuration)}
