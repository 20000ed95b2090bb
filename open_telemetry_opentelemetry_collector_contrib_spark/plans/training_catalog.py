"""Training-data pipeline query catalog: dedup, similarity search, text
analysis, multimodal plumbing — over the driver's ``documents`` and
``embeddings`` tables, each with a DuckDB oracle where SQL can express it.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import dedupe, multimodal, packing, similarity, text as text_fns
from ..sources.tables import load_table, materialize, spread_scan

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def q_exact_dedup(spark, sf_dir):
    return dedupe.exact_dedup(load_table(spark, sf_dir, "documents"))


O_EXACT_DEDUP = """
SELECT md5(text) AS text_md5, min(doc_id) AS keeper_id, count(*) AS dup_count
FROM documents GROUP BY text
"""


def q_fuzzy_exact_dedup(spark, sf_dir):
    """RefinedWeb/C4 "fuzzy exact" dedup: byte-exact dedup over a canonical
    form (lowercase, strip non-alphanumerics, collapse whitespace) —
    catches case/punctuation re-serializations byte-exact dedup misses
    (functions/dedupe.py normalize_for_dedup)."""
    return dedupe.fuzzy_exact_dedup(load_table(spark, sf_dir, "documents"))


# DuckDB regexp_replace needs the 'g' flag (replaces FIRST match only by
# default, unlike Spark's replace-all)
O_FUZZY_EXACT_DEDUP = r"""
WITH norm AS (
  SELECT doc_id,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
                        '\s+', ' ', 'g')) AS n
  FROM documents
)
SELECT md5(n) AS norm_md5, min(doc_id) AS keeper_id, count(*) AS dup_count
FROM norm GROUP BY n
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def q_doc_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = text_fns.quality_signals(docs)
    return out.select(
        "doc_id", "n_chars_t", "n_tokens", "punct_ppm", "stop_ppm", "quality_ppm"
    )


def q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition/boilerplate signals (Rae et al. 2021 §A1.1)
    per document: duplicate-line fractions, top word-bigram char fraction,
    duplicate word-5-gram char fraction. All within-row array programs —
    one map stage over the corpus, zero shuffle (functions/text.py
    repetition_signals); the DuckDB twin computes the same quantities
    relationally (unnest + window counts). Scan SPREAD (r6): the
    within-row folds are interpreted HOFs heavy enough that parallelizing
    the single-row-group file wins over the one repartition exchange."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    out = text_fns.repetition_signals(docs)
    return out.select(
        "doc_id",
        "dup_line_ppm",
        "dup_line_char_ppm",
        "top_bigram_char_ppm",
        "dup_5gram_char_ppm",
    )


O_DOC_REPETITION = r"""
WITH base AS (
  SELECT doc_id, text, length(text) AS n_chars FROM documents
), lines AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM base
), line_stats AS (
  SELECT doc_id, count(*) AS n_lines, count(DISTINCT line) AS nd,
         sum(length(line)) AS line_chars,
         sum(CASE WHEN cnt > 1 THEN length(line) ELSE 0 END) AS dup_chars
  FROM (
    SELECT doc_id, line,
           count(*) OVER (PARTITION BY doc_id, line) AS cnt
    FROM lines
  ) GROUP BY doc_id
), words_arr AS (
  SELECT doc_id, n_chars,
         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS ws
  FROM base
), bigrams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 2
      THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
      ELSE [] END) AS g
  FROM words_arr
), top2 AS (
  SELECT doc_id, cnt, length(g) AS glen FROM (
    SELECT doc_id, g, count(*) AS cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY count(*) DESC, g ASC) AS rn
    FROM bigrams GROUP BY doc_id, g
  ) WHERE rn = 1
), g5 AS (
  SELECT doc_id, unnest(
    CASE WHEN len(ws) >= 5
      THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
            || ' ' || ws[i+4] for i in range(1, len(ws) - 3)]
      ELSE [] END) AS g
  FROM words_arr
), g5s AS (
  SELECT doc_id,
         sum(CASE WHEN cnt > 1 THEN length(g) ELSE 0 END) AS dupchars
  FROM (
    SELECT doc_id, g, count(*) OVER (PARTITION BY doc_id, g) AS cnt FROM g5
  ) GROUP BY doc_id
)
SELECT b.doc_id,
  -- double-arithmetic association mirrors the Spark side exactly:
  -- ratio first (double), THEN * 1e6, then floor
  CAST(floor((CAST(ls.n_lines - ls.nd AS DOUBLE) / ls.n_lines) * 1000000.0)
    AS BIGINT) AS dup_line_ppm,
  CAST(CASE WHEN ls.line_chars > 0
    THEN floor((CAST(ls.dup_chars AS DOUBLE) / ls.line_chars) * 1000000.0)
    ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
  CAST(CASE WHEN b.n_chars > 0 AND t.cnt IS NOT NULL
    THEN floor((CAST(t.cnt * t.glen AS DOUBLE) / b.n_chars) * 1000000.0)
    ELSE 0 END AS BIGINT) AS top_bigram_char_ppm,
  CAST(CASE WHEN b.n_chars > 0
    THEN floor(least(CAST(coalesce(g5s.dupchars, 0) AS DOUBLE) / b.n_chars,
                     1.0) * 1000000.0)
    ELSE 0 END AS BIGINT) AS dup_5gram_char_ppm
FROM base b
JOIN line_stats ls USING (doc_id)
LEFT JOIN top2 t USING (doc_id)
LEFT JOIN g5s USING (doc_id)
"""


def q_doc_tfidf(spark, sf_dir):
    """Corpus-level TF-IDF keyword extraction: top-5 most distinctive terms
    per document (functions/text.py tfidf_top_terms — explode + map-side
    combined doc-term agg, vocabulary-sized broadcast IDF join, per-doc
    window top-k; rational idf keeps the score bit-exact across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_fns.tfidf_top_terms(docs, k=5)


O_DOC_TFIDF = r"""
WITH terms AS (
  SELECT doc_id, t AS term, count(*) AS tf FROM (
    SELECT doc_id,
           unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                              x -> x <> '')) AS t
    FROM documents
  ) GROUP BY doc_id, t
), dfreq AS (
  SELECT term, count(*) AS df_t FROM terms GROUP BY term
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT t.doc_id, t.term, t.tf,
         (CAST(t.tf AS DOUBLE) * (nd.n_docs + 1)) / (d.df_t + 1) AS score
  FROM terms t JOIN dfreq d USING (term) CROSS JOIN nd
)
SELECT doc_id, term, CAST(rank AS INT) AS rank, CAST(tf AS BIGINT) AS tf,
       CAST(floor(score * 1000000000.0) AS BIGINT) AS score_ppb
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


O_DOC_QUALITY = r"""
WITH q AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars_t,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS n_stop
  FROM documents
), r AS (
  SELECT doc_id, n_chars_t, n_tokens,
    CASE WHEN n_chars_t > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_t ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_chars_t AS DOUBLE) / n_tokens ELSE 0.0 END AS mwl
  FROM q
)
SELECT doc_id, n_chars_t, n_tokens,
  CAST(floor(punct_ratio * 1000000) AS BIGINT) AS punct_ppm,
  CAST(floor(stop_ratio * 1000000) AS BIGINT) AS stop_ppm,
  CAST(floor((least(stop_ratio * 2, 1.0) * 0.5
              + CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 0.3 ELSE 0.0 END
              + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) * 1000000) AS BIGINT) AS quality_ppm
FROM r
"""


def q_token_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_fns.token_count(F.col("text")).alias("ws_tokens"),
        text_fns.bpe_ish_count(F.col("text")).alias("bpe_ish_tokens"),
    )


O_TOKEN_COUNTS = r"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS BIGINT) AS bpe_ish_tokens
FROM documents
"""


def q_lang_id(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text_fns.lang_id(F.col("text")).alias("lang_pred"))


def lang_id_oracle() -> str:
    hits = ",\n    ".join(
        f"len(regexp_extract_all(lower(text), '\\b({'|'.join(text_fns.STOPWORDS[lang])})\\b')) AS h_{lang}"
        for lang in sorted(text_fns.STOPWORDS)
    )
    langs = sorted(text_fns.STOPWORDS)
    best = f"greatest({', '.join('h_' + l for l in langs)})"
    pick = "CASE " + " ".join(f"WHEN h_{l} = best THEN '{l}'" for l in langs) + " END"
    return f"""
WITH h AS (
  SELECT doc_id, {hits}
  FROM documents
), s AS (
  SELECT doc_id, {best} AS best, * FROM h
)
SELECT doc_id, CASE WHEN best > 0 THEN {pick} ELSE 'und' END AS lang_pred FROM s
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact, oracle-checked)
# ---------------------------------------------------------------------------

_JAC_N = 3
_JAC_THRESHOLD = 0.5
_JAC_MAXFREQ = 1000


def q_ngram_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedupe.ngram_jaccard_pairs(
        docs, n=_JAC_N, threshold=_JAC_THRESHOLD, max_shingle_freq=_JAC_MAXFREQ
    )


O_NGRAM_JACCARD = rf"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) - {_JAC_N - 1} >= 1
      THEN [array_to_string(ws[i:i+{_JAC_N - 1}], ' ') for i in range(1, len(ws) - {_JAC_N - 2})]
      ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words
), ex AS (
  SELECT doc_id, len(shingles) AS shingle_count, unnest(shingles) AS shingle FROM sh
), freq AS (
  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= {_JAC_MAXFREQ}
), fx AS (
  SELECT ex.* FROM ex JOIN freq USING (shingle)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.shingle_count AS count_a, b.shingle_count AS count_b,
         count(*) AS common
  FROM fx a JOIN fx b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b, common,
       CAST(floor(CAST(common AS DOUBLE) / (count_a + count_b - common) * 1000000) AS BIGINT) AS jaccard_ppm
FROM pairs
WHERE CAST(common AS DOUBLE) / (count_a + count_b - common) >= {_JAC_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# MinHash LSH + SimHash (xxhash64-based -> rows-only driver check; exactness
# is covered by dedicated pytest properties against the Jaccard oracle)
# ---------------------------------------------------------------------------


def q_minhash_lsh_pairs(spark, sf_dir):
    """Portable variant (md5-48 base hash, raw band-string buckets) so the
    banded-LSH program is oracle-checked end to end; plan shape identical to
    the crc32/xxhash production path."""
    docs = load_table(spark, sf_dir, "documents")
    return dedupe.minhash_lsh_pairs(docs, n=_JAC_N, portable=True)


# DuckDB twin of md5_48(): first 12 md5 hex chars as a 48-bit int
_HX = (
    "list_reduce([strpos('0123456789abcdef', substring(md5({s}), i, 1)) - 1 "
    "for i in range(1, 13)], (a,b) -> a*16 + b)"
)
_P31 = (1 << 31) - 1


def minhash_lsh_oracle(n=_JAC_N, num_hashes=64, bands=16, max_bucket=200) -> str:
    params = dedupe._hash_params(num_hashes, seed=42)
    rpb = num_hashes // bands
    mins = ",\n    ".join(
        f"min((CAST({a} AS BIGINT) * x + {b}) % {_P31}) AS h{i}"
        for i, (a, b) in enumerate(params)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, {key} AS bucket FROM sig".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(h{b * rpb + j} AS VARCHAR)" for j in range(rpb)
            ),
        )
        for b in range(bands)
    )
    hx = _HX.format(s="s")
    return f"""
WITH words AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) - {n - 1} >= 1
      THEN [array_to_string(ws[i:i+{n - 1}], ' ') for i in range(1, len(ws) - {n - 2})]
      ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words
), ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), hx AS (
  SELECT doc_id, ({hx}) % {_P31} AS x FROM ex
), sig AS (
  SELECT doc_id,
    {mins}
  FROM hx GROUP BY doc_id
), banded AS (
  {band_selects}
), keep AS (
  SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) <= {max_bucket}
), fb AS (
  SELECT banded.* FROM banded JOIN keep USING (band, bucket)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM fb a JOIN fb b USING (band, bucket)
WHERE a.doc_id < b.doc_id
"""


def q_minhash_incremental(spark, sf_dir):
    """Continuous-ingestion LSH dedup: every 5th doc is the incoming
    batch, the rest the already-signed corpus; candidates touch at least
    one incoming doc. By construction (shared banding + union-computed
    bucket cap) the result equals the full-corpus run restricted to
    incoming-touching pairs — which is exactly what the oracle computes
    (full LSH SQL + the restriction), and what the metamorphic pytest
    pins against the production crc32/xxhash path with signature reuse."""
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    incoming = docs.filter(F.col("doc_id") % 5 == 0)
    return dedupe.minhash_lsh_incremental(
        existing, incoming, n=_JAC_N, portable=True
    )


def minhash_incremental_oracle() -> str:
    return (
        "SELECT id_a, id_b FROM (" + minhash_lsh_oracle() + ") "
        "WHERE id_a % 5 = 0 OR id_b % 5 = 0"
    )


def q_dedup_components(spark, sf_dir):
    """Transitive near-dup clustering: connected components over the
    MinHash-LSH pair graph (iterative min-label propagation; the DuckDB
    oracle is a WITH RECURSIVE reachability closure)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedupe.minhash_lsh_pairs(docs, n=_JAC_N, portable=True)
    return dedupe.connected_components(pairs)


def components_oracle() -> str:
    return f"""
WITH RECURSIVE pairs AS ({minhash_lsh_oracle()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(v, l) AS (
  SELECT src AS v, src AS l FROM edges
  UNION
  SELECT e.dst AS v, r.l FROM reach r JOIN edges e ON e.src = r.v
)
SELECT v AS node, min(l) AS component FROM reach GROUP BY v
"""


_SIM_BITS = 48


def q_simhash_docs(spark, sf_dir):
    """Portable variant: 48-bit SimHash over the md5-48 token hash (same
    program, oracle-checkable; production default stays xxhash64/64-bit)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedupe.simhash(docs, bits=_SIM_BITS, base_hash="md5_48")


def simhash_oracle() -> str:
    hx = _HX.format(s="t")
    terms = "\n    + ".join(
        f"CASE WHEN list_sum(list_transform(hv, h -> "
        f"CASE WHEN (h // {1 << bit}) % 2 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN {1 << bit} ELSE 0 END"
        for bit in range(_SIM_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts FROM documents
), hs AS (
  SELECT doc_id, list_transform(ts, t -> {hx}) AS hv FROM toks
)
SELECT doc_id, CAST(
    {terms}
  AS BIGINT) AS simhash
FROM hs
"""


def q_fingerprint_docs(spark, sf_dir):
    """Portable variant: md5-48 winnowing fingerprint (oracle-checkable)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text_fns.fingerprint_winnow(F.col("text"), base_hash="md5_48").alias(
            "fingerprint"
        ),
    )


def fingerprint_oracle(n=8) -> str:
    hx = _HX.format(s="s")
    return f"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN length(text) >= {n}
      THEN [substring(text, i, {n}) for i in range(1, length(text) - {n - 2})]
      ELSE [text] END AS shingles
  FROM documents
)
SELECT doc_id, list_min(list_transform(shingles, s -> {hx})) AS fingerprint
FROM sh
"""


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_ANN_K = 10
_NUM_QUERIES = 5
_DIM = 64
_NUM_PLANES = 8


def _queries_df(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.filter(F.col("vec_id") < _NUM_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def q_ann_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_bruteforce(emb, _queries_df(spark, sf_dir), k=_ANN_K)


O_ANN_BRUTEFORCE = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < {_NUM_QUERIES}
), scored AS (
  SELECT q.query_id, e.vec_id,
         list_dot_product(e.embedding::DOUBLE[], q.qv)
           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
              * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
       CAST(floor(cos * 1000000000) AS BIGINT) AS cos_ppb
FROM ranked WHERE rank <= {_ANN_K}
"""


def _planes_sql_list(planes: list[list[float]]) -> list[str]:
    return ["[" + ", ".join(repr(x) for x in p) + "]" for p in planes]


def q_ann_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_lsh(
        emb, _queries_df(spark, sf_dir), dim=_DIM, k=_ANN_K, num_planes=_NUM_PLANES
    )


def ann_lsh_oracle() -> str:
    planes = similarity._hyperplanes(_DIM, _NUM_PLANES, seed=7)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {p}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_planes_sql_list(planes))
    )
    return f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), bucketed AS (
  SELECT vec_id, v, ({bucket_terms}) AS bucket FROM base
), q AS (
  SELECT vec_id AS query_id, v AS qv, bucket FROM bucketed WHERE vec_id < {_NUM_QUERIES}
), scored AS (
  SELECT q.query_id, b.vec_id,
         list_dot_product(b.v, q.qv)
           / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM bucketed b JOIN q USING (bucket)
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
       CAST(floor(cos * 1000000000) AS BIGINT) AS cos_ppb
FROM ranked WHERE rank <= {_ANN_K}
"""


_NEARDUP_THRESHOLD = 0.9


def q_ann_ivf(spark, sf_dir):
    """IVF ANN (KMeans quantizer -> nprobe lists); no SQL oracle for the
    PRUNED search (MLlib clustering) -> rows-only driver check here, but the
    machinery is fully oracle-checked by `ann_ivf_fullprobe` below and the
    recall@k property test in pytest."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, _queries_df(spark, sf_dir), k=_ANN_K, num_clusters=8, nprobe=3
    )


def q_ann_ivf_fullprobe(spark, sf_dir):
    """Metamorphic full oracle for the IVF machinery: probing ALL clusters
    (nprobe = num_clusters) must reproduce the exact brute-force top-k
    regardless of what the quantizer learned — every corpus vector is scored
    exactly once since the clusters partition the corpus. Hash-compared
    against the brute-force DuckDB oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_ivf(
        emb, _queries_df(spark, sf_dir), k=_ANN_K, num_clusters=8, nprobe=8
    )


# deterministic coarse quantizer for the oracle-checked recall gate: the
# centroids are the corpus vectors at these fixed vec_ids (present at every
# SF — smallest table has ids 0..499), so the PRUNED IVF search is exactly
# reproducible in SQL with no RNG and no iterative fit.
_IVF_SEED_IDS = [7, 61, 113, 167, 229, 283, 347, 401]
_IVF_NPROBE = 3


def _seed_centroids(spark, sf_dir) -> list[list[float]]:
    """k seed vectors, driver-side by design (the quantizer is tiny).

    r6: read them straight from the parquet file with pyarrow instead of a
    Spark filter+orderBy+collect — the collect was a full Spark job (~0.4 s
    of fixed cost) paid at query CONSTRUCTION by both semdedup and
    ann_ivf_recall. The predicate pushes into the pyarrow scanner (row
    filtering, not a full-table driver read), and float32 -> float64
    widening is exact, so the centroid doubles are bit-identical to the
    old ``cast("array<double>")`` collect."""
    import os as _os

    import pyarrow.parquet as _pq

    t = _pq.read_table(
        _os.path.join(sf_dir, "embeddings.parquet"),
        columns=["vec_id", "embedding"],
        filters=[("vec_id", "in", list(_IVF_SEED_IDS))],
    )
    rows = dict(
        zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist())
    )
    return [[float(x) for x in rows[i]] for i in sorted(rows)]


def q_ann_ivf_recall(spark, sf_dir):
    """Recall@k gate for the PRUNED IVF search — closes the last
    non-multimodal rows-only driver check. The quantizer is injected
    (deterministic seed vectors, `_IVF_SEED_IDS`), so assignment, probe
    choice, pruned top-k, and the resulting per-query recall are all exactly
    reproducible by the DuckDB oracle: recall_ppm =
    floor(1e6 * |pruned_topk ∩ brute_topk| / k) per query. The KMeans-fitted
    quantizer stays covered by `ann_ivf_fullprobe` (metamorphic exactness)
    plus the pytest recall@k property test."""
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = _queries_df(spark, sf_dir)
    pruned = similarity.cosine_topk_ivf(
        emb,
        qdf,
        k=_ANN_K,
        num_clusters=len(_IVF_SEED_IDS),
        nprobe=_IVF_NPROBE,
        centroids=_seed_centroids(spark, sf_dir),
    ).select("query_id", "vec_id")
    brute = similarity.cosine_topk_bruteforce(emb, qdf, k=_ANN_K).select(
        "query_id", "vec_id"
    )
    return (
        brute.join(pruned.withColumn("__hit", F.lit(1)), ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(F.count("__hit").alias("hits"))
        .select(
            "query_id",
            F.col("hits").cast("bigint").alias("hits"),
            F.floor(F.lit(1_000_000) * F.col("hits") / F.lit(_ANN_K))
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


def ann_ivf_recall_oracle() -> str:
    ids = ", ".join(str(i) for i in _IVF_SEED_IDS)
    d = _DIM
    dist = (
        f"list_sum([(b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]) "
        f"for i in range(1, {d + 1})])"
    )
    qdist = (
        f"list_sum([(q.qv[i] - c.cv[i]) * (q.qv[i] - c.cv[i]) "
        f"for i in range(1, {d + 1})])"
    )
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id IN ({ids})
), base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {_NUM_QUERIES}
), assigned AS (
  SELECT vec_id, v, c FROM (
    SELECT b.vec_id, b.v, c.c,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY {dist}, c.c) AS rn
    FROM base b CROSS JOIN cent c
  ) WHERE rn = 1
), probes AS (
  SELECT query_id, qv, c FROM (
    SELECT q.query_id, q.qv, c.c,
           row_number() OVER (PARTITION BY q.query_id ORDER BY {qdist}, c.c) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {_IVF_NPROBE}
), pruned AS (
  SELECT query_id, vec_id FROM (
    SELECT p.query_id, a.vec_id,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             list_dot_product(a.v, p.qv)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(p.qv, p.qv)))
             DESC, a.vec_id ASC) AS rank
    FROM assigned a JOIN probes p USING (c)
  ) WHERE rank <= {_ANN_K}
), brute AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, b.vec_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             list_dot_product(b.v, q.qv)
               / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv)))
             DESC, b.vec_id ASC) AS rank
    FROM base b CROSS JOIN q
  ) WHERE rank <= {_ANN_K}
)
SELECT b.query_id, CAST(count(p.vec_id) AS BIGINT) AS hits,
       CAST(floor(1000000.0 * count(p.vec_id) / {_ANN_K}) AS BIGINT) AS recall_ppm
FROM brute b LEFT JOIN pruned p USING (query_id, vec_id)
GROUP BY b.query_id
"""


def q_ann_quantized_topk(spark, sf_dir):
    """Brute-force top-k over int8 scalar-quantized vectors
    (functions/similarity.py quantize_vec — deterministic floor quantizer;
    scales cancel in cosine, so scoring is integer dot products: exact in
    both engines, no float-sum order sensitivity). The 4x-smaller corpus
    representation is the memory-bandwidth scale path for brute-force
    rescoring stages."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk_quantized(
        emb, _queries_df(spark, sf_dir), k=_ANN_K
    )


O_ANN_QUANTIZED = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), mx AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS m FROM base
), qz AS (
  SELECT vec_id,
    CASE WHEN m > 0
      THEN [CAST(floor(v[i] * 127.0 / m) AS BIGINT) for i in range(1, {_DIM + 1})]
      ELSE [CAST(0 AS BIGINT) for i in range(1, {_DIM + 1})] END AS q
  FROM mx
), qs AS (
  SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < {_NUM_QUERIES}
), scored AS (
  SELECT s.query_id, c.vec_id,
    CAST(list_sum([c.q[i] * s.qq[i] for i in range(1, {_DIM + 1})]) AS DOUBLE)
      / sqrt(CAST(list_sum([c.q[i] * c.q[i] for i in range(1, {_DIM + 1})])
                  * list_sum([s.qq[i] * s.qq[i] for i in range(1, {_DIM + 1})])
             AS DOUBLE)) AS cos
  FROM qz c CROSS JOIN qs s
), ranked AS (
  SELECT query_id, vec_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS INT) AS rank,
       CAST(floor(cos * 1000000000) AS BIGINT) AS qcos_ppb
FROM ranked WHERE rank <= {_ANN_K}
"""


def _planted_embeddings(spark, sf_dir):
    """Embeddings plus deterministic planted near-duplicates: every
    vec_id % 25 == 0 row gets a copy at vec_id + 1000000 with 0.01 added to
    its first component (cosine vs the original stays ~0.9999), so the
    near-dup operator's bucket-join/filter logic is exercised against a
    non-empty expected output at every SF."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    dups = emb.filter(F.col("vec_id") % 25 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("embedding", 1) + F.lit(0.01)),
            F.slice("embedding", 2, _DIM - 1),
        ).alias("embedding"),
    )
    return emb.unionByName(dups)


_NEARDUP_MAX_BUCKET = 2000


def q_embedding_near_dup(spark, sf_dir):
    emb = _planted_embeddings(spark, sf_dir)
    return similarity.embedding_near_dup_pairs(
        emb,
        dim=_DIM,
        threshold=_NEARDUP_THRESHOLD,
        num_planes=_NUM_PLANES,
        max_bucket_size=_NEARDUP_MAX_BUCKET,
    )


def near_dup_oracle() -> str:
    planes = similarity._hyperplanes(_DIM, _NUM_PLANES, seed=7)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(v, {p}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_planes_sql_list(planes))
    )
    return f"""
WITH raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), base AS (
  SELECT vec_id, v FROM raw
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, [v[1] + 0.01] || v[2:] AS v
  FROM raw WHERE vec_id % 25 = 0
), bucketed0 AS (
  SELECT vec_id, v, ({bucket_terms}) AS bucket FROM base
), bucketed AS (
  -- hot-bucket cap twin (max_bucket_size): degenerate buckets are skipped
  SELECT vec_id, v, bucket FROM (
    SELECT *, count(*) OVER (PARTITION BY bucket) AS sz FROM bucketed0
  ) WHERE sz <= {_NEARDUP_MAX_BUCKET}
), pairs AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b,
         list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
  FROM bucketed a JOIN bucketed b USING (bucket)
  WHERE a.vec_id < b.vec_id
)
SELECT id_a, id_b, CAST(floor(cos * 1000000000) AS BIGINT) AS cos_ppb
FROM pairs WHERE cos >= {_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# multimodal plumbing (stubbed codec; schema/batching real -> rows-only)
# ---------------------------------------------------------------------------


def q_multimodal_features(spark, sf_dir):
    media = multimodal.synthetic_media(spark, n=64)
    return multimodal.extract_features(media).select(
        "media_id", "kind", "payload_sha256", "payload_bytes"
    )


def q_frame_sample_plan(spark, sf_dir):
    media = multimodal.synthetic_media(spark, n=64)
    return multimodal.frame_sample_plan(media).select(
        "media_id", "frame_idx", "frame_ts_ms"
    )


# ---------------------------------------------------------------------------
# PII scrubbing + decontamination
# ---------------------------------------------------------------------------


def q_pii_scrub_docs(spark, sf_dir):
    """PII masking over text with deterministically planted identifiers
    (synthetic docs carry none) — scrubbed text + per-kind hit counts."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), F.col("doc_id").cast("string"),
            F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".com ip 10."), (F.col("doc_id") % 250).cast("string"),
            F.lit(".0.1 ssn 123-45-67"), F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            F.lit(" card 4111 1111 1111 1111 tel (555) 123-4567"),
        ),
    )
    return planted.select(
        "doc_id",
        text_fns.pii_scrub(F.col("text")).alias("scrubbed"),
        F.to_json(text_fns.pii_counts(F.col("text"))).alias("pii_counts_json"),
    )


O_PII_SCRUB = r"""
WITH planted AS (
  SELECT doc_id,
    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' || CAST(doc_id % 7 AS VARCHAR)
      || '.com ip 10.' || CAST(doc_id % 250 AS VARCHAR) || '.0.1 ssn 123-45-67'
      || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
      || ' card 4111 1111 1111 1111 tel (555) 123-4567' AS text
  FROM documents
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b', '<CARD>', 'g'),
        '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\(\d{3}\) \d{3}-\d{4}', '<PHONE>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS scrubbed,
  '{"email":' || len(regexp_extract_all(text, '[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}'))
    || ',"card":' || len(regexp_extract_all(text, '\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b'))
    || ',"ssn":' || len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
    || ',"phone":' || len(regexp_extract_all(text, '\(\d{3}\) \d{3}-\d{4}'))
    || ',"ipv4":' || len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
    || '}' AS pii_counts_json
FROM planted
"""


_DECON_N = 8


_CHUNK_T = 40
_CHUNK_OV = 8


def q_chunk_documents(spark, sf_dir):
    """Fixed-token-window chunking with overlap (pre-training/RAG prep)."""
    docs = load_table(spark, sf_dir, "documents")
    return text_fns.chunk_documents(docs, chunk_tokens=_CHUNK_T, overlap=_CHUNK_OV)


O_CHUNK_DOCS = rf"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents
), n AS (
  SELECT doc_id, ws, len(ws) AS n_tok,
         greatest(CAST(ceil((len(ws) - {_CHUNK_OV}) / {_CHUNK_T - _CHUNK_OV}.0) AS BIGINT), 1) AS n_chunks
  FROM toks
), idx AS (
  SELECT doc_id, ws, unnest(range(n_chunks)) AS chunk_idx FROM n
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       array_to_string(ws[chunk_idx * {_CHUNK_T - _CHUNK_OV} + 1 : chunk_idx * {_CHUNK_T - _CHUNK_OV} + {_CHUNK_T}], ' ') AS chunk_text,
       CASE WHEN length(array_to_string(ws[chunk_idx * {_CHUNK_T - _CHUNK_OV} + 1 : chunk_idx * {_CHUNK_T - _CHUNK_OV} + {_CHUNK_T}], ' ')) = 0 THEN 0
            ELSE len(string_split_regex(array_to_string(ws[chunk_idx * {_CHUNK_T - _CHUNK_OV} + 1 : chunk_idx * {_CHUNK_T - _CHUNK_OV} + {_CHUNK_T}], ' '), '\s+')) END AS chunk_tokens_n
FROM idx
"""


_CANARY = "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8"


def q_decontaminate_docs(spark, sf_dir):
    """n-gram-overlap decontamination: every 97th doc acts as the benchmark
    set; corpus docs sharing any 8-gram are flagged with hit counts. The
    synthetic word-salad corpus shares no natural 8-grams, so a canary
    phrase is planted into the benchmark docs AND every 13th corpus doc —
    the flagged set is deterministic and non-empty at every SF."""
    # spread only the CORPUS side: the benchmark slice is ~1% of docs and
    # its bitset/gram build is stage-overhead-bound — an extra repartition
    # exchange there costs more than the (tiny) map work it parallelizes
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" " + _CANARY))
    )
    corpus = spread_scan(docs.filter(F.col("doc_id") % 97 != 0)).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 5, F.concat(F.col("text"), F.lit(" " + _CANARY))
        ).otherwise(F.col("text")),
    )
    return text_fns.contamination_hits(corpus, bench, n=_DECON_N)


O_DECONTAMINATE = rf"""
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0 OR (doc_id % 97 <> 0 AND doc_id % 13 = 5)
         THEN text || ' {_CANARY}' ELSE text END AS text
  FROM documents
), words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM planted
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) - {_DECON_N - 1} >= 1
      THEN [array_to_string(ws[i:i+{_DECON_N - 1}], ' ') for i in range(1, len(ws) - {_DECON_N - 2})]
      ELSE [array_to_string(ws, ' ')] END) AS grams
  FROM words
), bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM sh WHERE doc_id % 97 = 0
), corpus AS (
  SELECT doc_id, unnest(grams) AS gram FROM sh WHERE doc_id % 97 <> 0
)
SELECT doc_id, count(*) AS contaminated_grams
FROM corpus JOIN bench USING (gram)
GROUP BY doc_id
"""


_BLOOM_M = 1 << 18  # bits
_BLOOM_K = 2


def q_decontaminate_bloom(spark, sf_dir):
    """Bloom-filter decontamination — the production twin of
    decontaminate_docs for benchmark-gram sets too large to broadcast as
    strings: the bench grams compress to a 2^18-bit Bloom (one-row
    broadcast, 8 KB of longs), corpus grams test membership in k=2
    engine-portable integer hashes. Output is the exact join's hit set
    plus the documented false-positive over-flags ((1-e^(-kn/m))^k) —
    deterministic, so the DuckDB oracle reproduces every bit."""
    # spread only the CORPUS side: the benchmark slice is ~1% of docs and
    # its bitset/gram build is stage-overhead-bound — an extra repartition
    # exchange there costs more than the (tiny) map work it parallelizes
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" " + _CANARY))
    )
    corpus = spread_scan(docs.filter(F.col("doc_id") % 97 != 0)).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 13 == 5, F.concat(F.col("text"), F.lit(" " + _CANARY))
        ).otherwise(F.col("text")),
    )
    return text_fns.contamination_hits_bloom(
        corpus, bench, n=_DECON_N, m_bits=_BLOOM_M, k=_BLOOM_K
    )


_O_MD5_48 = (
    "list_reduce([strpos('0123456789abcdef', substring(md5({g}), i, 1)) - 1 "
    "for i in range(1, 13)], (a,b) -> a*16 + b)"
)

O_DECONTAMINATE_BLOOM = rf"""
WITH planted AS (
  SELECT doc_id,
    CASE WHEN doc_id % 97 = 0 OR (doc_id % 97 <> 0 AND doc_id % 13 = 5)
         THEN text || ' {_CANARY}' ELSE text END AS text
  FROM documents
), words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM planted
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) - {_DECON_N - 1} >= 1
      THEN [array_to_string(ws[i:i+{_DECON_N - 1}], ' ') for i in range(1, len(ws) - {_DECON_N - 2})]
      ELSE [array_to_string(ws, ' ')] END) AS grams
  FROM words
), hashed AS (
  SELECT doc_id, gram,
         {_O_MD5_48.format(g='gram')} AS h1,
         ({_O_MD5_48.format(g="gram || '#2'")} | 1) AS h2odd
  FROM (SELECT doc_id, unnest(grams) AS gram FROM sh)
), bench_pos AS (
  SELECT DISTINCT p FROM (
    SELECT h1 % {_BLOOM_M} AS p FROM hashed WHERE doc_id % 97 = 0
    UNION ALL
    SELECT (h1 + h2odd) % {_BLOOM_M} AS p FROM hashed WHERE doc_id % 97 = 0
  )
)
SELECT doc_id, count(*) AS bloom_hit_grams
FROM hashed c
WHERE doc_id % 97 <> 0
  AND c.h1 % {_BLOOM_M} IN (SELECT p FROM bench_pos)
  AND (c.h1 + c.h2odd) % {_BLOOM_M} IN (SELECT p FROM bench_pos)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# composite curation pipeline: quality gate -> language filter -> exact
# dedup -> near-dup removal (the end-to-end training-data story)
# ---------------------------------------------------------------------------

_CUR_QUALITY_MIN = 500_000
_CUR_JACCARD = 0.8


def q_curation_pipeline(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    scored = text_fns.quality_signals(docs).withColumn(
        "lang_pred", text_fns.lang_id(F.col("text"))
    )
    kept = scored.filter(
        (F.col("quality_ppm") >= _CUR_QUALITY_MIN) & (F.col("lang_pred") == "en")
    )
    # exact dedup inline: keeper = min doc_id per md5(text) — same semantics
    # as exact_dedup's groupBy + semi-join but ONE window shuffle on the
    # digest, and the (regex-heavy) quality/lang scoring stays a single
    # lineage into the one materialized frame below instead of running twice
    # (once into the dedup branch, once into the join input)
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    # materialized once: feeds LSH signatures, shingle freq, candidate sets
    # and the final anti-join
    kept = materialize(
        kept.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )
    # scale path: MinHash-LSH candidates -> exact Jaccard verify on the
    # candidates only (no full shingle self-join on the kept set); the
    # DuckDB oracle below remains the exact all-pairs program
    # no distinct on near: left_anti is insensitive to right-side duplicates
    near = dedupe.jaccard_verified_pairs_lsh(
        kept, n=_JAC_N, threshold=_CUR_JACCARD, max_shingle_freq=_JAC_MAXFREQ
    ).select(F.col("id_b").alias("doc_id"))
    survivors = kept.join(near, "doc_id", "left_anti")
    return survivors.select("doc_id")


def curation_oracle() -> str:
    stop = "|".join(text_fns.STOPWORDS["en"])
    lang_hits = {
        lang: f"len(regexp_extract_all(lower(text), '\\b({'|'.join(text_fns.STOPWORDS[lang])})\\b'))"
        for lang in sorted(text_fns.STOPWORDS)
    }
    best = f"greatest({', '.join(lang_hits.values())})"
    lang_pred = (
        "CASE WHEN " + best + " > 0 THEN CASE "
        + " ".join(f"WHEN {h} = {best} THEN '{l}'" for l, h in lang_hits.items())
        + " END ELSE 'und' END"
    )
    return rf"""
WITH q AS (
  SELECT doc_id, text,
    CAST(length(text) AS BIGINT) AS n_chars_t,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    len(regexp_extract_all(lower(text), '\b({stop})\b')) AS n_stop,
    {lang_pred} AS lang_pred
  FROM documents
), r AS (
  SELECT doc_id, text, lang_pred,
    CASE WHEN n_chars_t > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_t ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_chars_t AS DOUBLE) / n_tokens ELSE 0.0 END AS mwl
  FROM q
), gated AS (
  SELECT doc_id, text FROM r
  WHERE lang_pred = 'en'
    AND CAST(floor((least(stop_ratio * 2, 1.0) * 0.5
        + CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 0.3 ELSE 0.0 END
        + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END) * 1000000) AS BIGINT)
        >= {_CUR_QUALITY_MIN}
), kept AS (
  SELECT g.doc_id, g.text FROM gated g
  JOIN (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text) k USING (doc_id)
), words AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM kept
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(ws) - {_JAC_N - 1} >= 1
      THEN [array_to_string(ws[i:i+{_JAC_N - 1}], ' ') for i in range(1, len(ws) - {_JAC_N - 2})]
      ELSE [array_to_string(ws, ' ')] END) AS shingles
  FROM words
), ex AS (
  SELECT doc_id, len(shingles) AS shingle_count, unnest(shingles) AS shingle FROM sh
), freq AS (
  SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= {_JAC_MAXFREQ}
), fx AS (
  SELECT ex.* FROM ex JOIN freq USING (shingle)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         a.shingle_count AS count_a, b.shingle_count AS count_b, count(*) AS common
  FROM fx a JOIN fx b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), dupes AS (
  SELECT DISTINCT id_b AS doc_id FROM pairs
  WHERE CAST(common AS DOUBLE) / (count_a + count_b - common) >= {_CUR_JACCARD}
)
SELECT doc_id FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dupes)
"""


# ---------------------------------------------------------------------------
# training-batch assembly: sequence packing + data mixing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256
_PACK_SHARDS = 16
O_PACK_SEQUENCES = packing.pack_oracle_sql(_PACK_BUDGET, _PACK_SHARDS)
_MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}
_MIX_DEFAULT = 0.1


def q_pack_sequences(spark, sf_dir):
    """Greedy token-budget sequence packing (sample packing): one shuffle on
    the shard key, O(n) greedy fill per shard in Arrow-batched
    applyInPandas; oracle = the same greedy closure as a DuckDB recursive
    CTE per shard."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, budget=_PACK_BUDGET, shards=_PACK_SHARDS)


def q_mix_sample_docs(spark, sf_dir):
    """Deterministic stratified sampling for data-mixture weighting: keep
    fraction r(source) of each source via the portable md5-48 hash — a pure
    Column filter (no shuffle, pushes into the scan)."""
    docs = load_table(spark, sf_dir, "documents")
    out = packing.stratified_sample(
        docs, "source", _MIX_RATES, default_rate=_MIX_DEFAULT
    )
    return out.select("doc_id", "source")


_MIX_SRC_CASE = (
    "CASE WHEN doc_id % 16 < 8 THEN 'heavy' WHEN doc_id % 16 < 12 THEN 'mid' "
    "ELSE 'light-' || CAST(doc_id % 4 AS VARCHAR) END"
)


def q_mix_temperature_docs(spark, sf_dir):
    """Temperature-weighted (alpha=1/2) mixture sampling over a skewed
    synthetic source split (heavy 50%, mid 25%, four light sources ~6%
    each): small sources keep relatively more, the largest keeps
    base_rate — exact integer keep test (h^2*n_s < B^2*n_max), see
    functions/packing.py temperature_sample."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "mix_src",
        F.when(F.col("doc_id") % 16 < 8, F.lit("heavy"))
        .when(F.col("doc_id") % 16 < 12, F.lit("mid"))
        .otherwise(F.concat(F.lit("light-"), (F.col("doc_id") % 4).cast("string"))),
    )
    out = packing.temperature_sample(
        docs, source_col="mix_src", base_rate=0.5, seed="temp42"
    )
    return out.select("doc_id", "mix_src")


O_MIX_TEMPERATURE = f"""
WITH src AS (
  SELECT doc_id, {_MIX_SRC_CASE} AS mix_src FROM documents
), counts AS (
  SELECT mix_src, CAST(count(*) AS BIGINT) AS n FROM src GROUP BY 1
), mx AS (
  SELECT max(n) AS n_max FROM counts
), hashed AS (
  SELECT doc_id, mix_src,
         (list_reduce([strpos('0123456789abcdef', substring(md5('temp42' || CAST(doc_id AS VARCHAR)), i, 1)) - 1
                       for i in range(1, 13)], (a,b) -> a*16 + b)) % 10000 AS h
  FROM src
)
SELECT doc_id, mix_src
FROM hashed JOIN counts USING (mix_src) CROSS JOIN mx
WHERE h * h * n < 25000000 * n_max
"""


def q_bpe_pairs(spark, sf_dir):
    """BPE first-iteration merge-pair counts (functions/text.py
    bpe_pair_counts): char+</w> symbol pairs weighted by word frequency,
    top-50 under (cnt desc, pair asc). The char explosion runs on the
    vocab table, not the corpus; the only corpus-scale exchange is the
    word-count groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return text_fns.bpe_pair_counts(docs)


O_BPE_PAIRS = r"""
WITH words AS (
  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
                            x -> x <> '')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(*) AS freq FROM words GROUP BY w
), syms AS (
  SELECT freq,
         list_append([w[i] for i in range(1, length(w) + 1)], '</w>') AS s
  FROM vocab
), pr AS (
  SELECT freq, unnest([s[i] || ' ' || s[i + 1] for i in range(1, len(s))]) AS pair
  FROM syms
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
FROM pr GROUP BY pair
ORDER BY cnt DESC, pair ASC LIMIT 50
"""


def q_unimax_mix(spark, sf_dir):
    """UniMax language-balanced allocation (functions/packing.py
    unimax_mix): waterfilling over the per-lang token table as window
    functions (closed form of the paper's iterative allocator — no driver
    loop), epochs_cap=2, budget = 3*total_tokens DIV 2 (1.5 epochs), per-doc repeat
    counts with the exact-integer fractional-epoch hash rule. The corpus
    never shuffles: one tiny groupBy(lang), an L-row window, broadcast
    join back."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.unimax_mix(docs)


_UMAX_HX = _HX.format(s="'umax7' || CAST(doc_id AS VARCHAR)")

O_UNIMAX = f"""
WITH docs AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
           AS doc_tokens
  FROM documents
), langs AS (
  SELECT lang, sum(doc_tokens) AS n_tok FROM docs GROUP BY lang
), tot AS (
  SELECT sum(n_tok) AS tot, count(*) AS nl FROM langs
), lt AS (
  SELECT lang, n_tok, 2 * n_tok AS cap, t.tot * 3 // 2 AS budget, t.nl,
         row_number() OVER (ORDER BY 2 * n_tok, lang) AS rn,
         sum(2 * n_tok) OVER (ORDER BY 2 * n_tok, lang
                              ROWS UNBOUNDED PRECEDING) AS cum
  FROM langs CROSS JOIN tot t
), sat AS (
  SELECT *, cap * (nl - rn + 1) <= budget - (cum - cap) AS is_sat FROM lt
), ks AS (
  SELECT sum(CASE WHEN is_sat THEN 1 ELSE 0 END) AS k,
         sum(CASE WHEN is_sat THEN cap ELSE 0 END) AS satcaps
  FROM sat
), alloc AS (
  SELECT lang, n_tok,
         CASE WHEN is_sat THEN cap
              ELSE (budget - satcaps) // (nl - k) END AS alloc_tokens
  FROM sat CROSS JOIN ks
)
SELECT d.doc_id, d.lang, d.doc_tokens,
  CAST(a.alloc_tokens AS BIGINT) AS alloc_tokens,
  CAST(a.alloc_tokens // a.n_tok
       + CASE WHEN ({_UMAX_HX}) % 10000 * a.n_tok
                   < (a.alloc_tokens - a.alloc_tokens // a.n_tok * a.n_tok)
                     * 10000
              THEN 1 ELSE 0 END AS BIGINT) AS repeat_cnt
FROM docs d JOIN alloc a USING (lang)
"""


def q_dataset_split(spark, sf_dir):
    """Deterministic hash-threshold train/val/test assignment (5%/5%) —
    leak-free by construction (split is a pure function of doc_id), no
    shuffle (functions/packing.py dataset_split)."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.dataset_split(docs).select("doc_id", "source", "split")


def dataset_split_oracle() -> str:
    hx = _HX.format(s="'split7' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, source,
  CASE WHEN ({hx}) % 1000000 < 50000 THEN 'test'
       WHEN ({hx}) % 1000000 < 100000 THEN 'val'
       ELSE 'train' END AS split
FROM documents
"""


def mix_sample_oracle() -> str:
    hx = _HX.format(s="'mix42' || CAST(doc_id AS VARCHAR)")
    whens = " ".join(
        f"WHEN source = '{k}' THEN {int(v * 1_000_000)}"
        for k, v in sorted(_MIX_RATES.items())
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE ({hx}) % 1000000 < (CASE {whens} ELSE {int(_MIX_DEFAULT * 1_000_000)} END)
"""


_FIXK = 100


def q_fixed_stratum_sample(spark, sf_dir):
    """Exactly-K-per-source deterministic sampling (functions/packing.py
    sample_fixed_per_stratum): portable-hash ranking with WindowGroupLimit
    pushdown — map tasks keep at most K rows per stratum before the
    exchange."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.sample_fixed_per_stratum(docs, _FIXK).select(
        "doc_id", "source"
    )


def fixed_stratum_oracle() -> str:
    hx = _HX.format(s="'fix13' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY {hx}, doc_id) AS rk
  FROM documents
) WHERE rk <= {_FIXK}
"""


_SPAN_N = 5


def q_repeated_spans(spark, sf_dir):
    """Cross-document repeated n-gram span detection
    (functions/dedupe.py repeated_ngram_spans — the linear, set-join
    approximation of suffix-array substring dedup). Output: merged
    duplicated token spans per document."""
    docs = load_table(spark, sf_dir, "documents")
    return dedupe.repeated_ngram_spans(docs, n=_SPAN_N, min_docs=2)


def repeated_spans_oracle() -> str:
    n = _SPAN_N
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
), pos AS (
  SELECT doc_id,
         unnest(range(1, len(w) - {n} + 2)) AS pos,
         unnest([array_to_string(w[i:i+{n - 1}], ' ')
                 for i in range(1, len(w) - {n} + 2)]) AS gram
  FROM toks WHERE len(w) >= {n}
), dup AS (
  SELECT gram FROM pos GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
), marked AS (
  SELECT p.doc_id, p.pos FROM pos p JOIN dup USING (gram)
), isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + {n}
              THEN 1 ELSE 0 END AS ni
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), grp AS (
  SELECT doc_id, pos,
         sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS UNBOUNDED PRECEDING) AS g
  FROM isl
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {n} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams
FROM grp GROUP BY doc_id, g
"""


_SEMDEDUP_EPS_SQ = (7225, 10000)  # eps = 0.85 cosine, squared as a rational


def q_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (functions/similarity.py semdedup):
    deterministic injected centroids (same seed vectors as ann_ivf_recall),
    int8-quantized intra-cluster cosine with a rational eps^2
    cross-multiplication test — integer-exact in both engines. Planted
    near-duplicates (vec_id+1000000 copies) guarantee a non-empty dropped
    set at every SF."""
    emb = _planted_embeddings(spark, sf_dir)
    return similarity.semdedup(
        emb,
        centroids=_seed_centroids(spark, sf_dir),
        eps_sq_num=_SEMDEDUP_EPS_SQ[0],
        eps_sq_den=_SEMDEDUP_EPS_SQ[1],
    )


def semdedup_oracle() -> str:
    ids = ", ".join(str(i) for i in _IVF_SEED_IDS)
    d = _DIM
    dist = (
        f"list_sum([(b.v[i] - c.cv[i]) * (b.v[i] - c.cv[i]) "
        f"for i in range(1, {d + 1})])"
    )
    num, den = _SEMDEDUP_EPS_SQ
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id IN ({ids})
), raw AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), base AS (
  SELECT vec_id, v FROM raw
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, [v[1] + 0.01] || v[2:] AS v
  FROM raw WHERE vec_id % 25 = 0
), assigned AS (
  SELECT vec_id, v, c FROM (
    SELECT b.vec_id, b.v, c.c,
           row_number() OVER (PARTITION BY b.vec_id ORDER BY {dist}, c.c) AS rn
    FROM base b CROSS JOIN cent c
  ) WHERE rn = 1
), quant AS (
  SELECT vec_id, c,
         list_transform(v, x -> CASE WHEN m > 0
             THEN CAST(floor(x * 127 / m) AS BIGINT)
             ELSE CAST(0 AS BIGINT) END) AS q
  FROM (SELECT vec_id, c, v,
               list_max(list_transform(v, x -> abs(x))) AS m
        FROM assigned)
), norms AS (
  SELECT vec_id, c, q, CAST(list_dot_product(q, q) AS BIGINT) AS n
  FROM quant
), dropped AS (
  SELECT DISTINCT b.vec_id
  FROM norms a JOIN norms b ON a.c = b.c AND a.vec_id < b.vec_id
  WHERE CAST(list_dot_product(a.q, b.q) AS BIGINT) > 0
    AND {den} * CAST(list_dot_product(a.q, b.q) AS BIGINT)
              * CAST(list_dot_product(a.q, b.q) AS BIGINT)
        >= {num} * a.n * b.n
)
SELECT s.vec_id, CAST(s.c AS BIGINT) AS cluster,
       d.vec_id IS NULL AS kept
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
"""


_BM25_QUERIES = [
    (1, "hash join table"),
    (2, "window agg stream"),
    (3, "customer order query"),
    (4, "vector scan slow fast"),
    (5, "zz_unseen spark"),
]


def q_bm25_topk(spark, sf_dir):
    """Quantized-impact BM25 retrieval (functions/retrieval.py bm25_topk):
    top-10 docs per query over a literal 5-query set. Query vocabulary is
    broadcast-semi-joined against the exploded token stream BEFORE any
    aggregation (only scoring postings shuffle), corpus stats ride a
    broadcast 1-row frame, and rank<=k compiles to partial+final
    WindowGroupLimit. Integer ppm impacts keep the score engine-exact."""
    from ..functions import retrieval

    docs = load_table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(
        docs, retrieval.literal_queries(spark, _BM25_QUERIES), k=10
    )


def bm25_oracle() -> str:
    vals = ", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)
    return f"""
WITH q(query_id, query_text) AS (
  VALUES {vals}
), qterms AS (
  SELECT DISTINCT query_id, t AS term FROM (
    SELECT query_id,
           unnest(list_filter(regexp_split_to_array(lower(query_text), '\\s+'),
                              x -> x <> '')) AS t
    FROM q)
), base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '\\s+'),
                     x -> x <> '') AS w
  FROM documents
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len(w)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM base
), tokens AS (
  SELECT doc_id, len(w) AS dl, unnest(w) AS term FROM base
), postings AS (
  SELECT term, doc_id, count(*) AS tf, max(dl) AS dl
  FROM tokens WHERE term IN (SELECT term FROM qterms)
  GROUP BY term, doc_id
), dfreq AS (
  SELECT term, count(*) AS df_t FROM postings GROUP BY term
), scored AS (
  SELECT qt.query_id, p.doc_id,
    least(CAST(floor(1000000.0 *
      (((CAST(s.n_docs - d.df_t AS DOUBLE) + 0.5)
        / (CAST(d.df_t AS DOUBLE) + 0.5)) + 1.0)) AS BIGINT),
      4000000000000) AS idf_ppm,
    CAST(floor(1000000.0 *
      ((CAST(p.tf AS DOUBLE) * 2.25)
       / (CAST(p.tf AS DOUBLE)
          + 1.25 * (0.25 + 0.75 * (CAST(p.dl AS DOUBLE) / s.avgdl)))))
      AS BIGINT) AS tfpart_ppm
  FROM postings p
  JOIN dfreq d USING (term)
  JOIN qterms qt USING (term)
  CROSS JOIN stats s
), aggd AS (
  SELECT query_id, doc_id, count(*) AS n_terms_matched,
         sum(idf_ppm * tfpart_ppm) AS score
  FROM scored GROUP BY query_id, doc_id
)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(doc_id AS BIGINT) AS doc_id,
       CAST(rank AS INT) AS rank,
       CAST(n_terms_matched AS BIGINT) AS n_terms_matched,
       CAST(score AS BIGINT) AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc_id ASC) AS rank
  FROM aggd
) WHERE rank <= 10
"""


def q_lm_score(spark, sf_dir):
    """CCNet-style bigram-LM in-distribution scoring (functions/text.py
    lm_score_docs): add-1 bigram LM trained on the lang='en' slice,
    every doc scored under it in exact integer ppb, keep flag by integer
    cross-multiplication against the mean-probability threshold. LM
    tables are vocabulary-sized broadcast dims; the only corpus-scale
    exchange is the per-doc sum on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return text_fns.lm_score_docs(docs)


O_LM_SCORE = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), bi AS (
  SELECT doc_id, lang,
         unnest([w[i] for i in range(1, len(w))]) AS w1,
         unnest([w[i + 1] for i in range(1, len(w))]) AS w2
  FROM toks WHERE len(w) >= 2
), uni AS (
  SELECT t AS w1u, count(*) AS c1
  FROM (SELECT unnest(w) AS t FROM toks WHERE lang = 'en') GROUP BY t
), vsz AS (
  SELECT count(*) + 1 AS v FROM uni
), tbi AS (
  SELECT w1, w2, count(*) AS c12 FROM bi WHERE lang = 'en' GROUP BY w1, w2
), scored AS (
  SELECT b.doc_id,
         CAST(floor(1000000000.0 *
              (CAST(coalesce(t.c12, 0) + 1 AS DOUBLE)
               / CAST(coalesce(u.c1, 0) + v.v AS DOUBLE))) AS BIGINT) AS p_ppb,
         CASE WHEN t.c12 IS NULL THEN 1 ELSE 0 END AS oov
  FROM bi b
  LEFT JOIN tbi t USING (w1, w2)
  LEFT JOIN uni u ON b.w1 = u.w1u
  CROSS JOIN vsz v
), sums AS (
  SELECT doc_id, count(*) AS n_bigrams, sum(p_ppb) AS p_sum_ppb,
         sum(oov) AS oov_bigrams
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, d.lang,
  CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
  CAST(coalesce(s.p_sum_ppb, 0) AS BIGINT) AS p_sum_ppb,
  CAST(coalesce(s.oov_bigrams, 0) AS BIGINT) AS oov_bigrams,
  (coalesce(s.n_bigrams, 0) > 0
   AND coalesce(s.p_sum_ppb, 0) >= 34000000 * coalesce(s.n_bigrams, 0)) AS keep
FROM documents d LEFT JOIN sums s USING (doc_id)
"""


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (functions/text.py
    ccnet_buckets): per-lang tercile thresholds over the lm_score mean-
    probability surrogate as exact discrete order statistics via the
    counting-sort pattern (tiny per-lang score histogram + cumulative
    sum — never a per-lang sort over raw rows), thresholds broadcast
    back onto the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return text_fns.ccnet_buckets(docs)


# shares the full O_LM_SCORE CTE chain, then the counting-sort terciles
O_CCNET_BUCKETS = (
    O_LM_SCORE[: O_LM_SCORE.rindex("SELECT d.doc_id")]
    + r"""
, sc AS (
  SELECT d.doc_id, d.lang,
         CASE WHEN coalesce(s.n_bigrams, 0) > 0
              THEN s.p_sum_ppb // s.n_bigrams END AS score_ppb
  FROM documents d LEFT JOIN sums s USING (doc_id)
), hist AS (
  SELECT lang, score_ppb, count(*) AS c
  FROM sc WHERE score_ppb IS NOT NULL GROUP BY 1, 2
), cum AS (
  SELECT lang, score_ppb,
         sum(c) OVER (PARTITION BY lang ORDER BY score_ppb) AS cum,
         sum(c) OVER (PARTITION BY lang) AS n
  FROM hist
), th AS (
  SELECT lang,
         min(CASE WHEN cum >= (n + 2) // 3 THEN score_ppb END) AS t_tail,
         min(CASE WHEN cum >= (2 * n + 2) // 3 THEN score_ppb END) AS t_mid
  FROM cum GROUP BY lang
)
SELECT sc.doc_id, sc.lang, CAST(sc.score_ppb AS BIGINT) AS score_ppb,
  CASE WHEN sc.score_ppb IS NULL THEN 'none'
       WHEN sc.score_ppb <= th.t_tail THEN 'tail'
       WHEN sc.score_ppb <= th.t_mid THEN 'middle'
       ELSE 'head' END AS bucket
FROM sc LEFT JOIN th USING (lang)
"""
)


def q_dsir_select(spark, sf_dir):
    """DSIR hashed-ngram importance selection (functions/text.py
    dsir_select): target = lang='en', raw = whole corpus, 4096 md5-48
    buckets, exact integer-ppm importance ratios, keep by integer
    cross-multiplication. Both distribution tables are bucket-sized
    broadcast dims; the only corpus-scale exchange is the per-doc sum."""
    docs = load_table(spark, sf_dir, "documents")
    return text_fns.dsir_select(docs)


_DSIR_B = 4096

O_DSIR = r"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '\s+'),
                     x -> x <> '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, lang,
         unnest(list_concat(w, [w[i] || ' ' || w[i + 1]
                                for i in range(1, len(w))])) AS g
  FROM toks
), ex AS (
  SELECT doc_id, lang, ({hx}) % {b} AS bucket FROM grams
), raw AS (
  SELECT bucket, count(*) AS rc FROM ex GROUP BY bucket
), tgt AS (
  SELECT bucket, count(*) AS tc FROM ex WHERE lang = 'en' GROUP BY bucket
), tot AS (
  SELECT (SELECT count(*) FROM ex) AS r_total,
         (SELECT count(*) FROM ex WHERE lang = 'en') AS t_total
), score AS (
  SELECT r.bucket,
         CAST((1000000 * (coalesce(t.tc, 0) + 1) * (tot.r_total + {b}))
              // ((r.rc + 1) * (tot.t_total + {b})) AS BIGINT) AS ratio_ppm
  FROM raw r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot
), sums AS (
  SELECT e.doc_id, count(*) AS n_grams,
         sum(s.ratio_ppm) AS imp_sum_ppm
  FROM ex e JOIN score s USING (bucket) GROUP BY e.doc_id
)
SELECT d.doc_id, d.lang,
  CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
  CAST(coalesce(s.imp_sum_ppm, 0) AS BIGINT) AS imp_sum_ppm,
  (coalesce(s.n_grams, 0) > 0
   AND coalesce(s.imp_sum_ppm, 0) >= 940000 * coalesce(s.n_grams, 0)) AS keep
FROM documents d LEFT JOIN sums s USING (doc_id)
""".replace("{hx}", _HX.format(s="g")).replace("{b}", str(_DSIR_B))


_EXPORT_QTHR = 550_000
_EXPORT_SHARDS = 16


def q_training_export(spark, sf_dir):
    """End-to-end training-export tail as ONE Catalyst DAG: quality gate
    (quality_ppm >= 550k, functions/text.py quality_signals) -> exact
    dedup keep (min doc_id per md5(text)) -> deterministic train split
    (functions/packing.py dataset_split) -> global shard shuffle with
    exact in-shard positions (same permutation as functions/packing.py
    shard_shuffle, inlined to carry quality_ppm through without a
    re-join).

    Scale shape: the gates are narrow Column filters that push into the
    scan; the pipeline's only exchanges are (1) the dedup hash-partition
    on the text digest and (2) the shard partition + per-shard sort. No
    global sort, no corpus-scale join — the composition costs exactly
    its two constituent shuffles.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    gated = text_fns.quality_signals(docs).filter(
        F.col("quality_ppm") >= _EXPORT_QTHR
    )
    w = Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
    deduped = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    train = packing.dataset_split(deduped).filter(F.col("split") == "train")
    h = dedupe.md5_48(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    sh = train.select(
        "doc_id",
        "quality_ppm",
        F.pmod(h, F.lit(_EXPORT_SHARDS)).cast("int").alias("shard"),
        h.alias("__h"),
    )
    w2 = Window.partitionBy("shard").orderBy("__h", "doc_id")
    return sh.select(
        "doc_id",
        "shard",
        (F.row_number().over(w2) - 1).cast("bigint").alias("pos"),
        "quality_ppm",
    )


def training_export_oracle() -> str:
    split_hx = _HX.format(s="'split7' || CAST(doc_id AS VARCHAR)")
    shuf_hx = _HX.format(s="'shuf:' || CAST(doc_id AS VARCHAR)")
    return rf"""
WITH q0 AS (
  SELECT doc_id, text,
    CAST(length(text) AS BIGINT) AS n_chars_t,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
    len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it|that|for)\b')) AS n_stop
  FROM documents
), r AS (
  SELECT doc_id, text,
    CASE WHEN n_chars_t > 0 THEN CAST(n_punct AS DOUBLE) / n_chars_t ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio,
    CASE WHEN n_tokens > 0 THEN CAST(n_chars_t AS DOUBLE) / n_tokens ELSE 0.0 END AS mwl
  FROM q0
), g AS (
  SELECT doc_id, text,
    CAST(floor((least(stop_ratio * 2, 1.0) * 0.5
                + CASE WHEN mwl >= 3.0 AND mwl <= 12.0 THEN 0.3 ELSE 0.0 END
                + CASE WHEN punct_ratio < 0.2 THEN 0.2 ELSE 0.0 END)
               * 1000000) AS BIGINT) AS quality_ppm
  FROM r
), gated AS (
  SELECT * FROM g WHERE quality_ppm >= {_EXPORT_QTHR}
), deduped AS (
  SELECT doc_id, quality_ppm FROM (
    SELECT doc_id, quality_ppm,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), train AS (
  SELECT doc_id, quality_ppm FROM deduped
  WHERE ({split_hx}) % 1000000 >= 100000
), sh AS (
  SELECT doc_id, quality_ppm,
         CAST(({shuf_hx}) % {_EXPORT_SHARDS} AS INTEGER) AS shard,
         ({shuf_hx}) AS h
  FROM train
)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
       AS BIGINT) AS pos,
  quality_ppm
FROM sh
"""


_URL_BLOCKED = ("svc-3.example.com", "svc-7.example.com")
_URL_BADWORDS = ("error", "debug")


def q_url_filter(spark, sf_dir):
    """RefinedWeb-style URL filtering (functions/text.py url_filter) over
    deterministic synthesized event URLs: curated host blocklist (hard
    drop) + bad-word occurrence score (soft drop). Narrow Column program,
    no shuffle; blocklist is a literal isin hash probe."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select(
        "event_id",
        F.concat(
            F.lit("https://svc-"), F.col("user_id").cast("string"),
            F.lit(".example.com/api/"), F.col("event_type"),
            F.lit("?k="), F.col("event_id").cast("string"),
        ).alias("url"),
    )
    out = text_fns.url_filter(
        df, "url", blocked_hosts=_URL_BLOCKED, bad_words=_URL_BADWORDS
    )
    return out.select(
        "event_id", "url_host", "url_domain", "blocked", "badword_hits", "keep"
    )


O_URL_FILTER = r"""
WITH u AS (
  SELECT event_id,
    lower('https://svc-' || CAST(user_id AS VARCHAR) || '.example.com/api/'
          || event_type || '?k=' || CAST(event_id AS VARCHAR)) AS url
  FROM events
), p AS (
  SELECT event_id, url,
    regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1) AS url_host,
    CAST((length(url) - length(replace(url, 'error', ''))) // 5
       + (length(url) - length(replace(url, 'debug', ''))) // 5
       AS BIGINT) AS badword_hits
  FROM u
)
SELECT event_id, url_host,
  regexp_extract(url_host, '([^.]+\.[^.]+)$', 1) AS url_domain,
  (url_host IN ('svc-3.example.com', 'svc-7.example.com')) AS blocked,
  badword_hits,
  (NOT url_host IN ('svc-3.example.com', 'svc-7.example.com')
   AND badword_hits = 0) AS keep
FROM p
"""


def q_shard_shuffle(spark, sf_dir):
    """Deterministic global shuffle for training export (functions/
    packing.py shard_shuffle): md5-48 hash-order permutation into 16
    shards with exact in-shard positions; one hash-partition exchange +
    per-shard sort, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.shard_shuffle(docs)


def q_dataset_manifest(spark, sf_dir):
    """Per-shard export manifest (functions/packing.py dataset_manifest):
    row counts + order-insensitive summed md5-48 content checksums, one
    map-side-combinable groupBy on the 16-value shard key."""
    docs = load_table(spark, sf_dir, "documents")
    return packing.dataset_manifest(docs)


_SHUF_HX = _HX.format(s="'shuf:' || CAST(doc_id AS VARCHAR)")
_CONTENT_HX = _HX.format(s="CAST(doc_id AS VARCHAR) || ':' || text")

O_SHARD_SHUFFLE = f"""
WITH sh AS (
  SELECT doc_id, CAST(({_SHUF_HX}) % 16 AS INTEGER) AS shard,
         ({_SHUF_HX}) AS h
  FROM documents
)
SELECT doc_id, shard,
  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1
       AS BIGINT) AS pos
FROM sh
"""

O_DATASET_MANIFEST = f"""
WITH sh AS (
  SELECT CAST(({_SHUF_HX}) % 16 AS INTEGER) AS shard,
         ({_CONTENT_HX}) AS rh
  FROM documents
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(rh) AS BIGINT) AS content_sum
FROM sh GROUP BY shard
"""


# ---------------------------------------------------------------------------
# line/paragraph-granularity cleaning — C4 line rules + CCNet paragraph dedup
# ---------------------------------------------------------------------------

# Deterministic multi-line "pages" synthesized from documents: 8 consecutive
# doc_ids form one page, each document's text one line. c4_clean additionally
# decorates lines with deterministic terminal punctuation / poison markers so
# every C4 rule actually fires at test scale. Identical expressions on both
# engines keep the outputs hash-comparable.


def _c4_line_expr() -> F.Column:
    text = F.col("text")
    doc_id = F.col("doc_id")
    body = F.when(
        doc_id % 13 == 5, F.array_join(F.slice(F.split(text, " "), 1, 2), " ")
    ).otherwise(text)
    js = F.when(doc_id % 17 == 3, F.lit("javascript ")).otherwise(F.lit(""))
    lorem = F.when(doc_id % 97 == 11, F.lit(" lorem ipsum")).otherwise(F.lit(""))
    curly = F.when(doc_id % 89 == 7, F.lit(" {")).otherwise(F.lit(""))
    punct = (
        F.when(doc_id % 5 == 0, F.lit("."))
        .when(doc_id % 5 == 1, F.lit("!"))
        .when(doc_id % 5 == 2, F.lit("?"))
        .when(doc_id % 5 == 3, F.lit(""))
        .otherwise(F.lit('."'))
    )
    return F.concat(js, body, lorem, curly, punct)


def q_c4_clean(spark, sf_dir):
    """C4 line-level cleaning (functions/text.py c4_line_clean) over pages
    of 8 documents; per-page keep decision + cleaned-body md5. Line rules
    run in the scan stage; one groupBy(page) exchange total."""
    docs = load_table(spark, sf_dir, "documents")
    lines = docs.select(
        F.expr("doc_id DIV 8").alias("page_id"),
        (F.col("doc_id") % 8).alias("line_idx"),
        _c4_line_expr().alias("line"),
    )
    return text_fns.c4_line_clean(lines)


O_C4_CLEAN = r"""
WITH lines AS (
  SELECT doc_id // 8 AS page_id, doc_id % 8 AS line_idx,
    (CASE WHEN doc_id % 17 = 3 THEN 'javascript ' ELSE '' END)
    || (CASE WHEN doc_id % 13 = 5
             THEN array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')
             ELSE text END)
    || (CASE WHEN doc_id % 97 = 11 THEN ' lorem ipsum' ELSE '' END)
    || (CASE WHEN doc_id % 89 = 7 THEN ' {' ELSE '' END)
    || (CASE doc_id % 5 WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?'
             WHEN 3 THEN '' ELSE '."' END) AS line
  FROM documents
), sig AS (
  SELECT page_id, line_idx, line,
    (contains(lower(line), 'lorem ipsum') OR contains(line, '{')) AS poison,
    (regexp_matches(line, '[.!?"]\s*$')
     AND len(string_split_regex(trim(line), '\s+')) >= 3
     AND NOT regexp_matches(lower(line), '\bjavascript\b')
     AND NOT (contains(lower(line), 'lorem ipsum') OR contains(line, '{'))) AS k
  FROM lines
)
SELECT page_id,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN k THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  (NOT bool_or(poison)
   AND sum(CASE WHEN k THEN 1 ELSE 0 END) >= 3) AS page_keep,
  CASE WHEN NOT bool_or(poison)
        AND sum(CASE WHEN k THEN 1 ELSE 0 END) >= 3
       THEN md5(string_agg(line, chr(10) ORDER BY line_idx) FILTER (WHERE k))
  END AS cleaned_md5
FROM sig GROUP BY page_id
"""


def q_winnow_fingerprints(spark, sf_dir):
    """TRUE winnowing fingerprints (functions/text.py winnow_fingerprints,
    MOSS algorithm): per-doc set of window-local min gram hashes, exploded
    to (doc_id, fingerprint) rows — an equality join on this output finds
    local copy spans >= w+n-1 chars. Selection is a within-row array
    program (no shuffle); the explode happens only at the output edge.
    The scan is SPREAD (r6): per-doc selection is O(L*w) md5-hashed
    slice-mins — heavy enough that parallelizing the single-row-group
    input file dominates the one repartition exchange (3.2 s -> 0.8 s at
    sf0.1 on local[32])."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.explode(
            text_fns.winnow_fingerprints(F.col("text"), base_hash="md5_48")
        ).alias("fingerprint"),
    )


_WINNOW_HX = _HX.format(s="s")

O_WINNOW_FINGERPRINTS = f"""
WITH g AS (
  SELECT doc_id,
    CASE WHEN length(text) >= 8
      THEN [substring(text, i, 8) for i in range(1, length(text) - 6)]
      ELSE [text] END AS grams
  FROM documents
), h AS (
  SELECT doc_id, list_transform(grams, s -> {_WINNOW_HX}) AS hs FROM g
), sel AS (
  SELECT doc_id,
    CASE WHEN len(hs) >= 4
      THEN [list_min(list_slice(hs, i, i + 3)) for i in range(1, len(hs) - 2)]
      ELSE [list_min(hs)] END AS sels
  FROM h
)
SELECT doc_id, unnest(list_distinct(sels)) AS fingerprint FROM sel
"""


def q_paragraph_dedup(spark, sf_dir):
    """CCNet cross-document paragraph dedup (functions/dedupe.py
    paragraph_dedup) over the same 8-doc pages: corpus-wide
    first-occurrence keep per paragraph digest, per-page survivor summary.
    Every third line is a 2-word prefix "boilerplate" paragraph (high
    cross-page duplicate rate, ~30% of them repeat at sf0.01) so the
    first-occurrence rule demonstrably fires; the rest are full documents
    (unique)."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    line = F.when(
        F.col("doc_id") % 3 == 0, F.array_join(F.slice(F.split(text, " "), 1, 2), " ")
    ).otherwise(text)
    lines = docs.select(
        F.expr("doc_id DIV 8").alias("page_id"),
        (F.col("doc_id") % 8).alias("line_idx"),
        line.alias("line"),
    )
    return dedupe.paragraph_dedup(lines)


O_PARAGRAPH_DEDUP = """
WITH lines AS (
  SELECT doc_id // 8 AS page_id, doc_id % 8 AS line_idx,
    CASE WHEN doc_id % 3 = 0
         THEN array_to_string(list_slice(string_split(text, ' '), 1, 2), ' ')
         ELSE text END AS line
  FROM documents
), r AS (
  SELECT page_id, line_idx, line,
    row_number() OVER (PARTITION BY md5(line) ORDER BY page_id, line_idx) AS rn
  FROM lines
)
SELECT page_id,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  CASE WHEN sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) > 0
       THEN md5(string_agg(line, chr(10) ORDER BY line_idx) FILTER (WHERE rn = 1))
  END AS kept_md5
FROM r GROUP BY page_id
"""
