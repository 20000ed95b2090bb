"""File fingerprinting for rotation-safe tailing — the stanza fileconsumer
identity model (`pkg/stanza/fileconsumer/internal/fingerprint/
fingerprint.go:15-90` + tracker semantics from `internal/tracker`).

A file's identity is the FIRST N BYTES (default 1000, min 16), not its
path: log rotation renames files, and a consumer that keys offsets by path
re-reads whole files after every rotation. Matching follows the reference
exactly:

- Equal = identical first bytes;
- StartsWith = a GROWING file whose earlier fingerprint was shorter than
  N keeps its identity as long as the new fingerprint starts with the old
  one (fingerprint.go:68-90) — so a checkpoint taken when the file held 40
  bytes still matches after it grows past N;
- no match = a genuinely new file (or a truncated/recreated one — its
  first bytes changed, so it is correctly treated as new and re-read).

Spark shape: discovery lists files driver-side (the reference's poll also
lists centrally, `fileconsumer/file.go` poll loop), then fingerprints are
read DISTRIBUTED via an Arrow-batched mapInPandas that reads only the
first N bytes per file — O(files) tiny reads, no data-plane scan. Offset
resume then reads each matched file from its stored byte offset, one task
per file (the reference has one reader goroutine per file; same
parallelism contract as read_text_logs_encoded). State is a small JSON
checkpoint (fingerprint-hex -> byte offset), the batch analog of stanza's
offset store.
"""

from __future__ import annotations

import glob as _glob
import json
import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .tables import local_frame

DEFAULT_SIZE = 1000  # fingerprint.go:15
MIN_SIZE = 16  # fingerprint.go:17

_FP_SCHEMA = "path string, fp_hex string, file_size long"


def fingerprint_files(
    spark: SparkSession, paths: list[str] | str, size: int = DEFAULT_SIZE
) -> DataFrame:
    """(path, fp_hex, file_size) for every file matching ``paths`` (a glob
    or an explicit list). fp_hex is the hex of the first min(size, len)
    bytes — hex keeps prefix semantics (2 chars/byte) so StartsWith is a
    plain string prefix test in the JVM."""
    if size < MIN_SIZE:
        raise ValueError(f"fingerprint size {size} < minimum {MIN_SIZE}")
    if isinstance(paths, str):
        paths = sorted(_glob.glob(paths))
    listing = local_frame(spark, [(p,) for p in paths], "path string")

    def read_fps(batches):
        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                try:
                    with open(p, "rb") as fh:
                        first = fh.read(size)
                    rows.append((p, first.hex(), os.path.getsize(p)))
                except OSError:
                    continue  # raced away mid-poll, like the reference's reader
            yield pd.DataFrame(rows, columns=["path", "fp_hex", "file_size"])

    return listing.mapInPandas(read_fps, _FP_SCHEMA)


def match_checkpoints(current: DataFrame, saved: dict[str, int]) -> DataFrame:
    """Join discovered fingerprints against the saved offset store.

    ``saved``: fp_hex -> committed byte offset. A discovered file resumes
    from the offset of the saved fingerprint it Equals or StartsWith
    (longest such prefix wins — Equal is the longest possible prefix, so
    exact matches take precedence exactly as the reference's tracker
    checks Equal before StartsWith). Unmatched files start at offset 0.
    Output: (path, fp_hex, file_size, offset).

    Documented divergence: when two live files share identical first N
    bytes (e.g. a rotation COPY left beside the original), both resume
    from the shared offset — each emits the tail once. The reference
    binds the checkpoint to ONE reader and re-reads the copy from zero;
    at-least-once either way, ours errs toward not re-emitting the
    already-consumed prefix.
    """
    spark = current.sparkSession
    if not saved:
        return current.withColumn("offset", F.lit(0).cast("long"))
    saved_df = local_frame(
        spark, [(k, int(v)) for k, v in saved.items()], "old_fp string, old_offset long"
    )
    joined = current.join(
        F.broadcast(saved_df), F.col("fp_hex").startswith(F.col("old_fp")), "left"
    )
    w_best = F.row_number().over(
        Window.partitionBy("path").orderBy(F.length("old_fp").desc_nulls_last())
    )
    return (
        joined.withColumn("_rk", w_best)
        .filter(F.col("_rk") == 1)
        .select(
            "path",
            "fp_hex",
            "file_size",
            F.coalesce(F.col("old_offset"), F.lit(0)).cast("long").alias("offset"),
        )
    )


def read_from_offsets(matched: DataFrame) -> DataFrame:
    """Emit lines newer than each file's committed offset: (path, fp_hex,
    line_no, line, new_offset). One task per file (reference: one reader
    per file); only complete lines are consumed — a trailing fragment
    without a newline stays unread until the next poll, byte-exactly like
    the reference's reader, so ``new_offset`` never splits a line."""

    def read_tail(batches):
        for pdf in batches:
            out = []
            for p, fp, off in zip(pdf["path"], pdf["fp_hex"], pdf["offset"]):
                try:
                    with open(p, "rb") as fh:
                        fh.seek(int(off))
                        chunk = fh.read()
                except OSError:
                    continue
                end = chunk.rfind(b"\n")
                if end < 0:
                    continue  # no complete line yet
                complete = chunk[: end + 1]
                # strict \n split (splitlines would also split on \v/\f/\x1c,
                # desyncing line counts from the byte offset accounting)
                lines = complete.decode("utf-8", errors="replace").split("\n")[:-1]
                base = int(off)
                for i, ln in enumerate(lines):
                    out.append((p, fp, i, ln, base + end + 1))
            yield pd.DataFrame(
                out, columns=["path", "fp_hex", "line_no", "line", "new_offset"]
            )

    return matched.mapInPandas(
        read_tail, "path string, fp_hex string, line_no long, line string, new_offset long"
    )


class FingerprintedConsumer:
    """Poll-based batch consumer with a fingerprint-keyed offset store —
    the fileconsumer manager's track/resume loop as a Spark job per poll.

    Each ``poll(glob)`` returns the DataFrame of lines appended since the
    previous poll across renames/rotations, then commits the advanced
    offsets. Re-running a poll after a crash before commit re-emits the
    same lines (at-least-once, like the reference's offset store)."""

    GENERATIONS = 3  # tracker.go:55-57 — knownFiles holds 3 poll filesets

    def __init__(self, spark: SparkSession, state_dir: str, size: int = DEFAULT_SIZE):
        self.spark = spark
        self.size = size
        self.state_path = os.path.join(state_dir, "fingerprint_offsets.json")
        os.makedirs(state_dir, exist_ok=True)

    def _load(self) -> dict:
        if os.path.exists(self.state_path):
            with open(self.state_path) as fh:
                raw = json.load(fh)
            if "files" in raw:
                return raw
            # legacy flat {fp: offset} layout
            return {"gen": 0, "files": {k: {"offset": v, "gen": 0} for k, v in raw.items()}}
        return {"gen": 0, "files": {}}

    def poll(self, paths: list[str] | str) -> DataFrame:
        state = self._load()
        gen = state["gen"] + 1
        files: dict[str, dict] = state["files"]
        saved = {k: rec["offset"] for k, rec in files.items()}
        current = fingerprint_files(self.spark, paths, self.size)
        matched = match_checkpoints(current, saved)
        lines = read_from_offsets(matched).localCheckpoint(eager=True)
        # commit: advanced offsets keyed by the CURRENT fingerprint (a
        # short fingerprint that grew is re-keyed to its longer form,
        # exactly the reference's fingerprint update-on-growth). The two
        # collects below are checkpoint METADATA — one row per tracked
        # file, driver-side by design (the reference's tracker is equally
        # single-process); corpus rows never leave the cluster.
        for r in (
            lines.groupBy("fp_hex").agg(F.max("new_offset").alias("o")).collect()
        ):
            files[r.fp_hex] = {"offset": int(r.o), "gen": gen}
        # every fp seen THIS poll refreshes its generation even without
        # new lines (tracker.go:120-122 — previous-poll files re-enter
        # knownFiles[0]); fps unseen for GENERATIONS polls age out, the
        # analog of the 3-fileset rotation (a recreated file with those
        # bytes re-reads from zero, as it would in the reference)
        seen = {r.fp_hex for r in matched.select("fp_hex").collect()}
        for fp, rec in list(files.items()):
            if fp in seen or any(cur.startswith(fp) for cur in seen):
                rec["gen"] = gen
            elif gen - rec["gen"] >= self.GENERATIONS:
                del files[fp]
        # re-key grown fingerprints: drop any stored fp that is a strict
        # prefix of a now-known longer fp
        grown = {
            old for old in files for cur in files if old != cur and cur.startswith(old)
        }
        for old in grown:
            files.pop(old, None)
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"gen": gen, "files": files}, fh)
        os.replace(tmp, self.state_path)  # atomic, like runner lineage
        return lines
