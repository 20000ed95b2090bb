"""Lexical retrieval over the ``documents`` corpus: quantized-impact BM25.

Why quantized: Lucene's impact-sorted indexes store per-posting integer
"impacts" precisely because float BM25 is neither portable nor needed for
ranking (Grand et al., "From MAXSCORE to Block-Max WAND", and the Lucene 8
impact encoding). We adopt the same trick for a different reason — exact
cross-engine oracle parity: every scoring term is derived from integers by
one IEEE-double division/multiply chain with a fixed association order and
dyadic-rational constants (k1 = 1.25, b = 0.75, both exactly representable
in binary — the textbook k1 = 1.2 is NOT), then floored to integer ppm.
Integer sums are order-independent, so the final score hash-matches DuckDB
bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import local_frame, materialize

# idf_ppm cap: keeps idf_ppm * tfpart_ppm (< 2.26e6) inside int64 even for
# a term seen once in ~4e12 docs; beyond that BM25's rare-term preference
# is already saturated for ranking purposes.
IDF_PPM_CAP = 4_000_000_000_000


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query under quantized-impact BM25.

    ``queries`` is a tiny (query_id, query_text) frame — always the
    broadcast side. Scale design (the classic distributed-retrieval
    shape):

    - document length ``dl`` is computed WITHIN the scan projection
      (``size(split(...))``) — no corpus shuffle to learn lengths;
    - corpus stats (N, avgdl) are one global aggregate carried as a
      broadcast 1-row frame (never a driver action);
    - the exploded token stream is semi-joined against the broadcast
      query vocabulary BEFORE any aggregation, so the only shuffled rows
      are postings that can actually score — ``groupBy(term, doc)`` over
      matched tokens only, map-side combined;
    - document frequencies reduce that same matched-postings frame
      (query-vocabulary-sized result, broadcast back) — the postings
      exchange is reused for this second consumer at runtime
      (ReusedExchange in the adaptive executed plan), so the corpus is
      read once for postings plus one narrow no-shuffle pass for stats;
    - per-query top-k is ``row_number() <= k`` which compiles to a
      partial+final WindowGroupLimit: every map task emits at most k rows
      per query before the exchange, so the final sort sees
      O(k * tasks) rows regardless of how common the query terms are.

    Scoring (all exact integer outputs):
    ``idf_ppm  = min(floor(1e6 * ((N - df + 0.5)/(df + 0.5) + 1)), CAP)``
    (the rational core of Lucene's ``ln(1 + (N-df+.5)/(df+.5))`` — a
    monotone transform of df, so ranking among equal-tf docs is
    preserved; ln() itself is banned repo-wide in oracle-compared outputs
    because libm and the JVM can disagree in the last ULP), and
    ``tfpart_ppm = floor(1e6 * (tf*(k1+1)) / (tf + k1*(1 - b + b*dl/avgdl)))``
    with k1 = 1.25, b = 0.75. score = sum(idf_ppm * tfpart_ppm) over
    DISTINCT query terms (standard bag-of-words query, qtf capped at 1).

    Output: (query_id, doc_id, rank, n_terms_matched, score).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    # tokenized corpus feeds both the global stats aggregate and the
    # postings explode — materialize so the scan+tokenize runs once (r6)
    base = materialize(
        docs.select(F.col(doc_id_col), toks.alias("__w"), F.size(toks).alias("dl"))
    )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*").cast("double")).alias("avgdl"),
    )
    qterms = queries.select(
        "query_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("query_text")), r"\s+"), lambda w: w != ""
            )
        ).alias("term"),
    ).distinct()
    qvocab = qterms.select("term").distinct()

    postings = (
        base.select(doc_id_col, "dl", F.explode("__w").alias("term"))
        .join(F.broadcast(qvocab), "term")
        .groupBy("term", doc_id_col)
        .agg(F.count("*").alias("tf"), F.max("dl").alias("dl"))
    )
    dfreq = postings.groupBy("term").agg(F.count("*").alias("df_t"))

    half = F.lit(0.5)
    scored = (
        postings.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf_ppm",
            F.least(
                F.floor(
                    F.lit(1_000_000.0)
                    * (
                        (
                            ((F.col("n_docs") - F.col("df_t")).cast("double") + half)
                            / (F.col("df_t").cast("double") + half)
                        )
                        + F.lit(1.0)
                    )
                ),
                F.lit(IDF_PPM_CAP),
            ),
        )
        .withColumn(
            "tfpart_ppm",
            F.floor(
                F.lit(1_000_000.0)
                * (
                    (F.col("tf").cast("double") * F.lit(2.25))
                    / (
                        F.col("tf").cast("double")
                        + F.lit(1.25)
                        * (
                            F.lit(0.25)
                            + F.lit(0.75)
                            * (F.col("dl").cast("double") / F.col("avgdl"))
                        )
                    )
                )
            ),
        )
    )
    agg = scored.groupBy("query_id", doc_id_col).agg(
        F.count("*").alias("n_terms_matched"),
        F.sum(F.col("idf_ppm") * F.col("tfpart_ppm")).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col(doc_id_col).asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").cast("bigint").alias("query_id"),
            F.col(doc_id_col).cast("bigint").alias(doc_id_col),
            F.col("rank").cast("int").alias("rank"),
            F.col("n_terms_matched").cast("bigint").alias("n_terms_matched"),
            F.col("score").cast("bigint").alias("score"),
        )
    )


def literal_queries(spark: SparkSession, rows: list[tuple[int, str]]) -> DataFrame:
    """Tiny literal (query_id, query_text) frame for deterministic tests."""
    return local_frame(spark, rows, "query_id bigint, query_text string")
