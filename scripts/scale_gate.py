"""10x scale gate — BASELINE.md evidence run.

Proves the two load-bearing scale claims at a scale where per-job fixed
costs (~0.2-0.6 s/job on this host) are noise:

1. **Zero-exchange flagship.** The parse -> enrich -> route -> windowed
   aggregate pipeline over a conv_id-bucketed transcripts table runs
   without a single shuffle exchange (bucket partitioning satisfies the
   aggregate's required distribution; dims broadcast). Evidence: the Spark
   event log's per-stage shuffle-write bytes for the e2e job group are all
   zero and the job is one stage. Run at ~400 M turns (10x the per-round
   bench input).

2. **LSH candidate growth is ~linear in corpus size.** The banded-minhash
   candidate-pair count is measured at 1x / 3x / 10x of the sf0.1 document
   corpus (replicas are deterministically mutated — vowel-rotation class +
   replica-id prefix — so clusters of ~rep/5 near-dups are PLANTED, the
   adversarial case the per-bucket cap exists for). Evidence: pair counts
   and wall times per scale plus per-stage shuffle bytes for the 10x run.

Also times `curation_pipeline` and `pack_sequences` at the 10x corpus.

Usage (run alone on the host — shares the bench gotcha about co-tenant
Spark JVMs):

    python scripts/scale_gate.py [--turns-rep 4000] [--docs-rep 100]
        [--cores N] [--skip-turns] [--skip-docs]

Writes /tmp/otelcol_scale_gate/summary.json and prints it; the BASELINE.md
"10x scale gate" section is transcribed from that output.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GATE_DIR = "/tmp/otelcol_scale_gate"
EVENTLOG_DIR = f"{GATE_DIR}/eventlog"
TURNS_DIR = f"{GATE_DIR}/turns"
TURNS_TABLE = "scale10_turns"
DOCS_BASE = f"{GATE_DIR}/docs"  # per-scale dirs: docs/x1, docs/x3, docs/x10

# deterministic per-replica-class vowel rotation: replicas in different
# classes share almost no shingles (every vowel-bearing n-gram changes);
# replicas in the SAME class differ only by the r<i> prefix -> planted
# near-dup clusters of ~rep/5 docs each.
_VOWEL_CLASSES = ["aeiou", "eioua", "iouae", "ouaei", "uaeio"]


def eventlog_spark(cores: int):
    from open_telemetry_opentelemetry_collector_contrib_spark.session import get_spark

    os.makedirs(EVENTLOG_DIR, exist_ok=True)
    return get_spark(
        app_name="otelcol-scale-gate",
        cores=cores,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVENTLOG_DIR}",
            "spark.eventLog.compress": "false",
        },
    )


def materialize_docs(spark, sf_dir: str, rep: int, out_dir: str) -> int:
    """Deterministic mutated replication of the documents table into a
    testdata-layout dir (other tables symlinked) so every (spark, sf_dir)
    catalog query runs unchanged against the scaled corpus."""
    from pyspark.sql import functions as F

    docs_out = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(docs_out):
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        mut = F.col("text")
        for i, cls in enumerate(_VOWEL_CLASSES[1:], start=1):
            mut = F.when(
                F.pmod(F.col("rep"), F.lit(5)) == i,
                F.translate(F.col("text"), _VOWEL_CLASSES[0], cls),
            ).otherwise(mut)
        scaled = (
            docs.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(rep - 1))))
            .withColumn(
                "text",
                F.concat(F.lit("r"), F.col("rep").cast("string"), F.lit(" "), mut),
            )
            .withColumn(
                "doc_id",
                F.col("doc_id") * rep + F.col("rep"),  # unique, still BIGINT
            )
            .withColumn("n_chars", F.length("text"))
            .drop("rep")
        )
        os.makedirs(out_dir, exist_ok=True)
        # write enough files that post-explode operators get full task
        # parallelism from the scan (explode blowup can't be split by
        # maxPartitionBytes after the fact; 4 files = 4 tasks on 32 cores)
        nfiles = max(4, 2 * (spark.sparkContext.defaultParallelism or 4))
        scaled.repartition(nfiles).write.mode("overwrite").parquet(docs_out)
    # symlink the rest of the testdata layout
    for name in os.listdir(sf_dir):
        dst = os.path.join(out_dir, name)
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, name), dst)
    return spark.read.parquet(docs_out).count()


def parse_eventlog(groups: dict[str, str]) -> dict:
    """Per-job-group stage metrics from the (uncompressed) event log.

    groups: job-group-id -> label. Returns label -> {jobs, stages, tasks,
    shuffle_write_bytes, shuffle_read_bytes, input_bytes, stages_detail}.
    """
    stage_group: dict[int, str] = {}
    stats: dict[str, dict] = {
        label: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0,
            "input_bytes": 0,
            "stages_detail": [],
        }
        for label in groups.values()
    }
    # Spark 4 rolling event logs are DIRECTORIES (eventlog_v2_<appid>/ with
    # events_* files); plain files otherwise.
    logs = []
    for f in os.listdir(EVENTLOG_DIR):
        if f.startswith("."):
            continue
        p = os.path.join(EVENTLOG_DIR, f)
        if os.path.isdir(p):
            logs.extend(
                os.path.join(p, g)
                for g in os.listdir(p)
                if g.startswith("events_")
            )
        else:
            logs.append(p)
    events = []
    for path in logs:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if gid in groups:
                label = groups[gid]
                stats[label]["jobs"] += 1
                for sinfo in ev.get("Stage Infos", []):
                    stage_group[sinfo["Stage ID"]] = label
    for ev in events:
        if ev.get("Event") == "SparkListenerStageCompleted":
            sinfo = ev["Stage Info"]
            label = stage_group.get(sinfo["Stage ID"])
            if label is None:
                continue
            acc = {
                a["Name"]: a.get("Value", 0)
                for a in sinfo.get("Accumulables", [])
                if str(a.get("Value", "")).lstrip("-").isdigit()
            }
            sw = int(acc.get("internal.metrics.shuffle.write.bytesWritten", 0))
            sr = int(acc.get("internal.metrics.shuffle.read.localBytesRead", 0)) + int(
                acc.get("internal.metrics.shuffle.read.remoteBytesRead", 0)
            )
            ib = int(acc.get("internal.metrics.input.bytesRead", 0))
            st = stats[label]
            st["stages"] += 1
            st["tasks"] += sinfo.get("Number of Tasks", 0)
            st["shuffle_write_bytes"] += sw
            st["shuffle_read_bytes"] += sr
            st["input_bytes"] += ib
            st["stages_detail"].append(
                {
                    "stage": sinfo["Stage ID"],
                    "tasks": sinfo.get("Number of Tasks", 0),
                    "shuffle_write": sw,
                    "shuffle_read": sr,
                    "input": ib,
                }
            )
    return stats


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--turns-rep", type=int, default=4000)
    ap.add_argument("--docs-rep", type=int, default=100)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--skip-turns", action="store_true")
    ap.add_argument("--skip-docs", action="store_true")
    args = ap.parse_args()

    import bench
    from open_telemetry_opentelemetry_collector_contrib_spark.plans import (
        training_catalog as tc,
    )

    # redirect bench's scaled-table plumbing at the 10x location
    bench.SCALED_DIR = TURNS_DIR
    bench.SCALED_TABLE = TURNS_TABLE

    os.makedirs(GATE_DIR, exist_ok=True)
    # stale event logs from a previous gate run share job-group names and
    # would contaminate parse_eventlog's per-group stage metrics
    if os.path.isdir(EVENTLOG_DIR):
        import shutil

        shutil.rmtree(EVENTLOG_DIR)
    spark = eventlog_spark(args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    summary: dict = {"cores": args.cores, "sf_dir": args.sf_dir}
    groups: dict[str, str] = {}

    if not args.skip_turns:
        t0 = time.perf_counter()
        if os.path.exists(TURNS_DIR):
            n_turns = spark.read.parquet(TURNS_DIR).count()
        else:
            n_turns = bench.materialize_scaled(spark, args.sf_dir, args.turns_rep)
        t_mat = time.perf_counter() - t0
        sc.setJobGroup("e2e10x", "flagship e2e at 10x")
        groups["e2e10x"] = "e2e_400m"
        e2e_sec = bench.run_e2e_on_scaled(spark)
        sc.setJobGroup("", "")
        summary["turns"] = {
            "n_turns": n_turns,
            "materialize_sec": round(t_mat, 1),
            "e2e_sec": round(e2e_sec, 2),
            "turns_per_sec": round(n_turns / e2e_sec, 1),
        }

    if not args.skip_docs:
        # the top scale uses the full --docs-rep (default 100 -> 500k docs
        # from sf0.1's 5k); x1/x3 go through the same mutation path so the
        # planted-cluster structure is comparable across scales.
        doc_scales = {"x1": 1, "x3": 3, f"x{args.docs_rep}": args.docs_rep}
        lsh = {}
        for tag, rep in doc_scales.items():
            out_dir = os.path.join(DOCS_BASE, tag)
            n_docs = materialize_docs(spark, args.sf_dir, rep, out_dir)
            gid = f"lsh_{tag}"
            sc.setJobGroup(gid, f"minhash LSH pairs at {tag}")
            groups[gid] = gid
            t0 = time.perf_counter()
            n_pairs = tc.q_minhash_lsh_pairs(spark, out_dir).count()
            lsh[tag] = {
                "docs": n_docs,
                "candidate_pairs": n_pairs,
                "sec": round(time.perf_counter() - t0, 2),
            }
            sc.setJobGroup("", "")
        summary["lsh_growth"] = lsh

        big = os.path.join(DOCS_BASE, f"x{args.docs_rep}")
        # (name, query, forced): forced=True materializes EVERY column via
        # the noop sink — count() alone lets Catalyst prune unique-key
        # outer joins and windows, timing an empty plan (dsir_select /
        # shard_shuffle read 25 KB under count()). curation/pack keep
        # count() for round-over-round comparability with the r4 records.
        for name, q, forced in (
            ("curation_pipeline", tc.q_curation_pipeline, False),
            ("pack_sequences", tc.q_pack_sequences, False),
            # production hash path (xxhash64 buckets) — the registered
            # driver query is the portable md5-48 twin, same plan shape
            (
                "dsir_select",
                lambda s, d: tc.text_fns.dsir_select(
                    tc.load_table(s, d, "documents"), portable=False
                ),
                True,
            ),
            ("shard_shuffle", tc.q_shard_shuffle, True),
            # round-5 line/paragraph-granularity ops: c4_clean's line rules
            # live in the scan stage (1 exchange total); paragraph_dedup's
            # first-occurrence window runs on the uniform paragraph digest
            # (2 exchanges). forced — the md5 reassembly columns would be
            # pruned under count().
            ("c4_clean", tc.q_c4_clean, True),
            ("paragraph_dedup", tc.q_paragraph_dedup, True),
            # broadcast-LM scoring + per-lang counting-sort terciles; the
            # corpus-scale exchanges are the per-doc bigram sum (twice —
            # quantile+apply is inherently two passes) and the tiny
            # (lang, score) histogram groupBy
            ("ccnet_buckets", tc.q_ccnet_buckets, True),
            # unimax: corpus scanned exactly twice (stats + apply), all
            # scalars as windows over the L-row lang table; bpe: the char
            # explosion runs on the vocab table, corpus-scale work is one
            # map-side-combined word groupBy + TakeOrdered top-k
            ("unimax_mix", tc.q_unimax_mix, True),
            ("bpe_pair_counts", tc.q_bpe_pairs, True),
        ):
            gid = f"{name}_10x"
            sc.setJobGroup(gid, f"{name} at 10x docs")
            groups[gid] = gid
            t0 = time.perf_counter()
            df = q(spark, big)
            if forced:
                bench.force(df)
                rows = None
            else:
                rows = df.count()
            summary[name] = {
                "rows": rows,
                "sec": round(time.perf_counter() - t0, 2),
                "forced": forced,
            }
            sc.setJobGroup("", "")

    spark.stop()
    time.sleep(2)  # event log flush
    summary["stage_metrics"] = parse_eventlog(groups)
    with open(f"{GATE_DIR}/summary.json", "w", encoding="utf-8") as fh:
        json.dump(summary, fh, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
