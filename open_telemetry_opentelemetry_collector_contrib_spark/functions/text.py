"""Text-analysis operators for training-data pipelines over ``documents``.

All pure Column programs (JVM-side, engine-portable for oracle checking):
- token counting: whitespace tokens + a BPE-ish subword regex count
- language ID: stopword-hit scoring per language, argmax
- quality scoring: length / punctuation / stopword / word-length signals
- document fingerprinting: content hash + shingle-min winnowing fingerprint
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedupe import md5_48

# BPE-ish token pieces: word-initial chunks, digits, punctuation runs
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"

STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "dans", "pour"],
}


def _stopword_pattern(words: list[str]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_count(text: Column) -> Column:
    """Whitespace token count (split collapses runs)."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    ).cast("bigint")


def bpe_ish_count(text: Column) -> Column:
    """Subword-piece count via the BPE-ish regex (upper bound on BPE tokens).

    regexp_count scans without materializing the match array (same count as
    size(regexp_extract_all(...)) but no per-row allocation and far smaller
    generated code)."""
    return F.regexp_count(text, F.lit(BPE_ISH_RE)).cast("bigint")


def stopword_hits(text: Column, lang: str) -> Column:
    return F.regexp_count(
        F.lower(text), F.lit(_stopword_pattern(STOPWORDS[lang]))
    ).cast("bigint")


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when all zero.

    The reference has no language ID; this mirrors the n-gram/wordlist
    heuristics of public LID tools, restricted to deterministic Column ops.
    Ties break by language-code order (deterministic).

    The per-language hit counts are bound ONCE via a higher-order-function
    lambda: Catalyst's CollapseProject would otherwise inline each regex
    scan into every comparison that references it (~3x work and ~3x
    generated code; see README "Scale design" on the inlining blowup).
    """
    langs = sorted(STOPWORDS)
    hits = F.array(*[stopword_hits(text, lang) for lang in langs])

    def pick(a: Column) -> Column:
        best = F.array_max(a)
        choice = F.coalesce(
            *[
                F.when(F.element_at(a, i + 1) == best, F.lit(lang))
                for i, lang in enumerate(langs)
            ]
        )
        return F.when(best > 0, choice).otherwise(F.lit("und"))

    return F.transform(F.array(hits), pick)[0]


def quality_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punct/stopword/word-length signals + a composite score.

    Ratios are surfaced as millionths (BIGINT) for engine-portable hashing.
    """
    text = F.col(text_col)
    n_chars = F.length(text).cast("bigint")
    n_tokens = token_count(text)
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("bigint")
    n_stop = stopword_hits(text, "en")
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(F.lit(0.0))
    # composite: reward stopword density + sane word length, punish punctuation
    score = (
        F.least(stop_ratio * 2, F.lit(1.0)) * 0.5
        + F.when((mean_word_len >= 3.0) & (mean_word_len <= 12.0), 0.3).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.2).otherwise(0.0)
    )
    return (
        df.withColumn("n_chars_t", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn("punct_ppm", F.floor(punct_ratio * 1_000_000).cast("bigint"))
        .withColumn("stop_ppm", F.floor(stop_ratio * 1_000_000).cast("bigint"))
        .withColumn("quality_ppm", F.floor(score * 1_000_000).cast("bigint"))
    )


def repetition_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/boilerplate filters (Rae et al. 2021, §A1.1):
    duplicate-line fractions, top word-bigram character fraction, duplicate
    word-5-gram character fraction. The standard pre-training corpus gates
    for machine-generated/boilerplate text.

    Scale design: every signal is a WITHIN-ROW array program (split ->
    array_sort -> neighbor/run folds) — no explode, no shuffle, one
    embarrassingly parallel map stage over the corpus, so the operator's
    cost is O(corpus) at any cluster size. The sorted-neighbor trick turns
    "chars in duplicated values" into run-length sums (O(L log L) per row
    instead of the naive O(L^2) self-join per row).

    Definitions (ratios surfaced as floored millionths for portable
    hashing):
    - ``dup_line_ppm``: excess duplicate lines / lines
      (1 - distinct/total).
    - ``dup_line_char_ppm``: chars in lines whose line value occurs more
      than once (ALL occurrences) / total line chars.
    - ``top_bigram_char_ppm``: chars covered by the most frequent word
      bigram (count x bigram length, space included) / total chars; ties
      break to the lexicographically smallest bigram.
    - ``dup_5gram_char_ppm``: summed chars of all occurrences of word
      5-grams that occur more than once / total chars (overlapping spans
      counted per occurrence, capped at 1.0 — the standard approximation).
    """
    text = F.col(text_col)
    n_chars = F.length(text).cast("bigint")

    def _bind(col: Column, fn) -> Column:
        # evaluate `col` once per row by binding it as an HOF lambda
        # variable — withColumn/let-style exprs get inlined into every
        # reference by CollapseProject and (HOFs being CodegenFallback,
        # no CSE) would re-evaluate per access; a lambda var is a true
        # per-row binding
        return F.transform(F.array(col), fn)[0]

    def _dup_sorted_chars(s: Column) -> Column:
        # chars in duplicated values: in the SORTED array, a value is part
        # of a duplicate group iff it equals its left or right neighbor —
        # O(L log L) per row instead of the naive O(L^2) within-row count
        n = F.size(s)
        contrib = F.zip_with(
            s,
            F.sequence(F.lit(1), n),
            lambda x, i: F.when(
                ((i > 1) & (F.element_at(s, (i - 1).cast("int")) == x))
                | ((i < n) & (F.element_at(s, (i + 1).cast("int")) == x)),
                F.length(x),
            ).otherwise(F.lit(0)),
        )
        return F.coalesce(
            F.aggregate(contrib, F.lit(0), lambda a, x: a + x), F.lit(0)
        )

    def _ngrams(words: Column, n: int) -> Column:
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - (n - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(words, (i + k).cast("int")) for k in range(n)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    _lines = F.split(text, "\n")
    _words = F.filter(F.split(text, r"\s+"), lambda w: w != "")

    dup_line_frac = _bind(
        _lines,
        lambda lines: F.when(
            F.size(lines) > 0,
            (F.size(lines) - F.size(F.array_distinct(lines))).cast("double")
            / F.size(lines),
        ).otherwise(F.lit(0.0)),
    )

    dup_line_char_frac = _bind(
        _lines,
        lambda lines: _bind(
            F.struct(
                F.array_sort(lines).alias("s"),
                F.aggregate(lines, F.lit(0), lambda a, x: a + F.length(x)).alias(
                    "chars"
                ),
            ),
            lambda st: F.when(
                st["chars"] > 0,
                _dup_sorted_chars(st["s"]).cast("double") / st["chars"],
            ).otherwise(F.lit(0.0)),
        ),
    )

    # most frequent bigram: max run length in the sorted bigram array
    # (fold state: prev value, current run, best count, best value; ties
    # keep the first = lexicographically smallest bigram)
    def _top_run(s: Column) -> Column:
        state0 = F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit("").alias("bestg"),
        )
        return F.aggregate(
            s,
            state0,
            lambda st, x: _bind(
                F.when(x == st["prev"], st["run"] + 1).otherwise(F.lit(1)),
                lambda run: F.struct(
                    x.alias("prev"),
                    run.alias("run"),
                    F.when(run > st["best"], run).otherwise(st["best"]).alias("best"),
                    F.when(run > st["best"], x).otherwise(st["bestg"]).alias("bestg"),
                ),
            ),
        )

    top_bigram_char_frac = _bind(
        _words,
        lambda words: _bind(
            _top_run(F.array_sort(_ngrams(words, 2))),
            lambda top: F.when(
                (n_chars > 0) & (top["best"] > 0),
                (top["best"] * F.length(top["bestg"])).cast("double") / n_chars,
            ).otherwise(F.lit(0.0)),
        ),
    )

    dup_5gram_char_frac = _bind(
        _words,
        lambda words: F.when(
            n_chars > 0,
            F.least(
                _bind(F.array_sort(_ngrams(words, 5)), _dup_sorted_chars).cast(
                    "double"
                )
                / n_chars,
                F.lit(1.0),
            ),
        ).otherwise(F.lit(0.0)),
    )

    return (
        df.withColumn("dup_line_ppm", F.floor(dup_line_frac * 1_000_000).cast("bigint"))
        .withColumn(
            "dup_line_char_ppm", F.floor(dup_line_char_frac * 1_000_000).cast("bigint")
        )
        .withColumn(
            "top_bigram_char_ppm",
            F.floor(top_bigram_char_frac * 1_000_000).cast("bigint"),
        )
        .withColumn(
            "dup_5gram_char_ppm",
            F.floor(dup_5gram_char_frac * 1_000_000).cast("bigint"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level TF-IDF keyword extraction: the ``k`` most distinctive
    terms per document.

    Scale design (the classic 100 TB term-statistics shape):
    - one explode -> groupBy(doc, term) with map-side partial aggregation
      (term counts collapse before the shuffle);
    - document frequencies reduce the SAME aggregated frame again — the
      result is vocabulary-sized, so it broadcasts back (no second shuffle
      of the corpus, no skew: hot terms are already one row per doc);
    - per-doc top-k is a window over doc_id (AQE-coalesced partial top-k).

    Scoring uses the RATIONAL idf ``(N+1)/(df+1)`` instead of the usual
    log form: integer-derived double arithmetic is bit-exact across
    engines (ln() can differ in the last ULP between libm and the JVM and
    flip a floor at scale boundaries), so ``score_ppb`` hash-matches the
    DuckDB twin exactly. Ranking (score desc, term asc) is identical under
    any monotone transform of idf, so the chosen KEYWORDS equal the
    log-idf variant's whenever df differs.
    Output: (doc_id, term, rank, tf, score_ppb).
    """
    from pyspark.sql import Window

    terms = (
        df.select(
            F.col(doc_id_col),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
                )
            ).alias("term"),
        )
        .groupBy(doc_id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    # corpus size as a broadcast 1-row frame, NOT a driver-side action —
    # the whole operator stays one lazy plan (no eager count job)
    ndocs = df.agg(F.count_distinct(F.col(doc_id_col)).alias("n_docs"))
    docfreq = terms.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        terms.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("n_docs") + F.lit(1)).cast("double")
            / (F.col("df_t") + F.lit(1)).cast("double"),
        )
    )
    w = Window.partitionBy(doc_id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            doc_id_col,
            "term",
            "rank",
            F.col("tf").cast("bigint").alias("tf"),
            F.floor(F.col("score") * 1_000_000_000).cast("bigint").alias("score_ppb"),
        )
    )


def char_shingles(text: Column, n: int = 8) -> Column:
    """Array of character n-grams (empty when text shorter than n)."""
    length = F.length(text)
    return F.when(
        length >= n,
        F.transform(F.sequence(F.lit(1), length - (n - 1)), lambda i: F.substring(text, i, n)),
    ).otherwise(F.array(text))


def fingerprint_winnow(text: Column, n: int = 8, base_hash: str = "xxhash64") -> Column:
    """Winnowing-style fingerprint: min hash over char shingles.

    Deterministic content fingerprint robust to local edits elsewhere in the
    doc. base_hash='xxhash64' stays JVM-side; 'md5_48' is the engine-portable
    twin (first 12 md5 hex chars as int) that DuckDB reproduces exactly, so
    the catalog query is oracle-checked.
    """
    if base_hash == "xxhash64":
        hashes = F.transform(char_shingles(text, n), lambda s: F.xxhash64(s))
    else:
        hashes = F.transform(char_shingles(text, n), lambda s: md5_48(s))
    return F.array_min(hashes)


def winnow_fingerprints(
    text: Column, n: int = 8, w: int = 4, base_hash: str = "xxhash64"
) -> Column:
    """TRUE winnowing (Schleimer, Wilkerson & Aiken 2003, SIGMOD — the MOSS
    algorithm): hash every char ``n``-gram, slide a window of ``w``
    consecutive gram hashes, select each window's MINIMUM, return the
    per-document set of selected values (sorted, distinct). The winnowing
    guarantee: any substring match of length >= ``w + n - 1`` between two
    documents shares at least one fingerprint, so an equality join on the
    exploded output finds local plagiarism/copy spans that whole-document
    hashing misses. (We select min VALUES rather than rightmost-min
    positions — deterministic, engine-portable, and the coverage guarantee
    is unchanged.)

    Docs with fewer than ``w`` grams degrade to their single global min —
    the ``fingerprint_winnow`` value — so short docs still fingerprint.

    Scale: a WITHIN-ROW array program (no explode before selection, no
    shuffle): O(L*w) slice-mins per doc. ``w`` is a small constant (4-16 in
    practice), so this stays scan-stage work; for book-length docs an
    O(L) monotonic-deque pass via mapInPandas would replace the inner
    slice-min, same output. base_hash='md5_48' is the DuckDB-reproducible
    twin used by the oracle-checked catalog query.
    """
    hasher = F.xxhash64 if base_hash == "xxhash64" else md5_48

    def pick(hs: Column) -> Column:
        n_win = F.size(hs) - (w - 1)
        sels = F.transform(
            F.sequence(F.lit(1), n_win), lambda i: F.array_min(F.slice(hs, i, w))
        )
        return F.when(n_win >= 1, sels).otherwise(F.array(F.array_min(hs)))

    hashes = F.transform(char_shingles(text, n), lambda s: hasher(s))
    # bind the hash array once as an HOF lambda variable — Catalyst would
    # otherwise inline the full gram-hash computation into every slice
    return F.array_sort(
        F.array_distinct(F.transform(F.array(hashes), pick)[0])
    )


# ---------------------------------------------------------------------------
# PII scrubbing + benchmark decontamination (training-data hygiene)
# ---------------------------------------------------------------------------

# conservative, engine-portable regex syntax (no lookaround): pattern order
# matters — cards before phones so digit runs aren't half-eaten
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("card", r"\b\d{4}[ -]\d{4}[ -]\d{4}[ -]\d{4}\b", "<CARD>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\(\d{3}\) \d{3}-\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(text: Column) -> Column:
    """Mask common PII shapes with typed placeholders — the document-text
    analog of the redactionprocessor's blocked_values masking
    (`processor/redactionprocessor/config.go:6-26`), as a chain of
    vectorized regexp_replace calls (no UDF)."""
    out = text
    for _name, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(text: Column) -> Column:
    """map<kind, count> of PII hits per document (audit/reporting side)."""
    entries = [
        F.struct(
            F.lit(name).alias("key"),
            F.size(F.regexp_extract_all(text, F.lit(pat), 0)).cast("long").alias("value"),
        )
        for name, pat, _ in PII_PATTERNS
    ]
    return F.map_from_entries(F.array(*entries))


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: docs sharing any word n-gram with the
    benchmark set, with the overlapping-gram count.

    Scale: the benchmark side (eval sets) is tiny relative to the corpus —
    its distinct grams BROADCAST, so the corpus-side explode+join is
    map-side only (no shuffle of corpus grams); the per-doc count is the
    usual partial-agg groupBy. This is the standard n-gram overlap
    decontamination used on LLM training corpora.
    """
    from .dedupe import word_shingles

    bench = (
        benchmark.select(F.explode(word_shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
    )
    grams = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        grams.join(F.broadcast(bench), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("contaminated_grams"))
    )


def bloom_bitset(
    grams: DataFrame,
    gram_col: str = "gram",
    m_bits: int = 1 << 18,
    k: int = 2,
) -> DataFrame:
    """Build a Bloom-filter bitset over a gram set as a ONE-ROW frame
    (column ``bloom``: array<long> of m_bits/32 words, 32 bits per word).

    The production decontamination representation: the exact-gram
    broadcast (contamination_hits) is right while eval-suite grams fit in
    executor memory, but a 10^8-gram benchmark union broadcast as strings
    is GBs; the Bloom is m bits REGARDLESS of gram count with a chosen
    false-positive rate (FPs only over-remove — decontamination prefers
    recall). Positions use engine-portable double hashing
    h_j = (md5_48(g) + j * (md5_48(g || '#2') | 1)) mod m, so a DuckDB
    oracle reproduces the bitset bit-for-bit.

    Words pack 32 bits (not 64) so every bit operation is shift-free
    integer arithmetic (2^(pos%32) fits a long; Spark variable-shift
    requires literal counts): set = bit_or of 2^(pos%32); test =
    floor(word / 2^(pos%32)) % 2. Construction is one map-side-combined
    groupBy over positions + a single-row densify — no driver collect;
    the one-row frame broadcasts into the corpus-side join.
    """
    n_words = m_bits // 32
    h1 = md5_48(F.col(gram_col))
    h2 = md5_48(F.concat(F.col(gram_col), F.lit("#2")))
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.pmod(h1 + j * (h2.bitwiseOR(F.lit(1))), F.lit(m_bits)),
        )
    ).alias("pos")
    # Densify by UNIONING an all-zero word table into the single
    # (word_idx -> bit_or) aggregation, then collect the sorted
    # (word_idx, w) structs straight into the array. The previous map-based
    # densify (map_from_entries + per-index element_at) did a LINEAR scan of
    # the map per index — n_words * set-words interpreted comparisons
    # (~50M at a 2^18-bit filter); and its two stacked groupBys cost an
    # extra exchange. The zero rows are n_words constant rows regardless of
    # corpus size, so this stays a one-exchange, collect-free build.
    spark = grams.sparkSession
    zeros = spark.range(n_words).select(
        F.col("id").alias("word_idx"), F.lit(0).cast("long").alias("bit")
    )
    pos_rows = (
        grams.select(pos)
        .withColumn("word_idx", (F.col("pos") / 32).cast("long"))
        .withColumn(
            "bit", F.pow(F.lit(2.0), F.pmod(F.col("pos"), F.lit(32))).cast("long")
        )
        .select("word_idx", "bit")
    )
    dense = (
        pos_rows.unionByName(zeros)
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("w"))
    )
    return dense.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("word_idx"), F.col("w")))),
            lambda s: s["w"],
        ).alias("bloom")
    )


def bloom_contains(bloom: Column, gram: Column, m_bits: int, k: int = 2) -> Column:
    """True when all k positions of ``gram`` are set in ``bloom``.

    Written as direct (inlined) expressions on purpose: the md5 hash
    appears ~4x in the expression tree, but whole-stage codegen's
    subexpression elimination evaluates it once — measured FASTER than
    hoisting through a transform-array lambda binding, which forces the
    whole filter onto the interpreted CodegenFallback path (5.4 s vs
    6.4 s median over ~15M grams at sf0.1)."""
    h1 = md5_48(gram)
    h2 = md5_48(F.concat(gram, F.lit("#2"))).bitwiseOR(F.lit(1))
    out = F.lit(True)
    for j in range(k):
        p = F.pmod(h1 + j * h2, F.lit(m_bits))
        word = F.element_at(bloom, (p / 32).cast("int") + 1)
        out = out & (
            F.pmod(
                F.floor(word / F.pow(F.lit(2.0), F.pmod(p, F.lit(32)))), F.lit(2)
            )
            == 1
        )
    return out


def contamination_hits_bloom(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 18,
    k: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter benchmark decontamination — contamination_hits'
    production-scale twin: the benchmark grams compress into an m-bit
    Bloom (one-row broadcast) instead of a string-set broadcast; corpus
    grams test membership in O(k) integer ops. Output rows are a SUPERSET
    of the exact join's (the documented FP rate (1-e^(-kn/m))^k
    over-flags; never under-flags) — deterministic for a given corpus, so
    fully oracle-checkable."""
    from .dedupe import word_shingles

    # no .distinct() on the benchmark grams: bit_or inside bloom_bitset is
    # idempotent, so duplicate grams set the same bits — identical bitset,
    # two fewer stages (the exact-join twin contamination_hits DOES need
    # the distinct, because it counts matches)
    bench_grams = benchmark.select(
        F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    bitset = bloom_bitset(bench_grams, m_bits=m_bits, k=k)
    grams = docs.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    # filter ABOVE the join (not as the join condition): whole-stage codegen
    # fuses BNLJ+Filter into one stage where the md5 subexpressions are
    # eliminated; as a join condition the predicate runs on the interpreted
    # path with every md5 evaluated per occurrence (measured ~2x slower)
    return (
        grams.join(F.broadcast(bitset))
        .filter(bloom_contains(F.col("bloom"), F.col("gram"), m_bits, k))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("bloom_hit_grams"))
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-training/RAG chunking pass.

    One projection + posexplode: tokens split once, window starts generated
    with sequence(), each chunk re-joined JVM-side. Chunk count scales with
    document length, so explode parallelism grows with the data (no skew:
    a giant doc becomes many rows). Output: (id, chunk_idx, chunk_text,
    chunk_tokens_n).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size(toks)
    # window starts: 1, 1+step, ... covering the final partial window
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(step)), F.lit(1))
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks.cast("int") - 1), lambda i: i * step + 1
    )
    chunks = F.transform(
        starts, lambda st: F.array_join(F.slice(toks, st, chunk_tokens), " ")
    )
    out = df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    )
    return out.withColumn(
        "chunk_tokens_n",
        F.when(F.length("chunk_text") == 0, 0).otherwise(
            F.size(F.split("chunk_text", r"\s+"))
        ).cast("long"),
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text", top_k: int = 50) -> DataFrame:
    """BPE merge-pair statistics (Sennrich, Haddow & Birch 2016,
    arXiv:1508.07909 §3.2): the first byte-pair-encoding training
    iteration — count adjacent symbol pairs across the corpus (symbols =
    characters plus the ``</w>`` end-of-word marker), weighted by word
    frequency; the most frequent pair is the first merge. Returns the
    ``top_k`` (pair, cnt) rows under the deterministic total order
    (cnt desc, pair asc), so the selected set is identical cross-engine
    even with count ties at the cutoff.

    Scale design — the reason this is cheap at 100 TB: pair statistics
    are a function of the (word, freq) VOCABULARY, not the raw corpus, so
    the character explosion runs on the V-row vocab table. The only
    corpus-scale exchange is the map-side-combined word-count groupBy;
    the top-k compiles to TakeOrderedAndProject over the pair-vocab-sized
    counts (never a global row sort).
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != ""
    )
    vocab = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    wcol = F.col("w")
    syms = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length(wcol)),
            lambda i: wcol.substr(i, F.lit(1)),
        ),
        F.array(F.lit("</w>")),
    )
    svocab = vocab.select("freq", syms.alias("s"))
    n = F.size("s")
    # adjacent pairs via arrays_zip of two shifted slices (the fast
    # formulation — see lm_score_docs for the 18x measurement); n >= 2
    # always holds (one char + marker)
    pairs = F.arrays_zip(
        F.slice(F.col("s"), 1, n - 1).alias("a"),
        F.slice(F.col("s"), 2, n - 1).alias("b"),
    )
    return (
        svocab.select("freq", F.explode(pairs).alias("g"))
        .select("freq", F.concat_ws(" ", "g.a", "g.b").alias("pair"))
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def lm_score_docs(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    train_lang: str = "en",
    keep_thr_ppb: int = 34_000_000,
) -> DataFrame:
    """CCNet-style in-distribution scoring: train an add-1-smoothed bigram
    LM on the ``train_lang`` slice of the corpus, score EVERY document
    under it, and flag the ones that read like the reference distribution
    (CCNet, arXiv:1911.00359, scores Common Crawl under a Wikipedia-trained
    KenLM and buckets by perplexity; the filter decision is what survives
    the pipeline).

    Per-bigram probability is the smoothed conditional
    ``p(w2|w1) = (c12 + 1) / (c1 + V)`` with ``V`` = training vocabulary
    size + 1 (one reserved OOV slot); unseen ``w1`` degrades to ``1/V``.
    The doc score is the SUM of per-bigram probabilities in ppb (a mean-
    token-probability surrogate, higher = more in-distribution) rather
    than the sum of logs: ``ln()`` differs in the last ULP between libm
    and the JVM and would break oracle hash parity (same repo-wide rule
    as tfidf_top_terms' rational idf), while ``floor(1e9 * int/int)`` is
    IEEE-identical in both engines. The keep decision compares the MEAN
    against ``keep_thr_ppb`` by integer cross-multiplication
    (``p_sum * 1e0 >= thr * n_bigrams``), so no float threshold is ever
    crossed. Rank order differs from true perplexity (arith vs geo mean)
    but both order by "mass under the reference LM"; a production
    deployment free of the cross-engine-hash constraint would swap the
    sum for ``F.sum(F.ln(p))`` in the same plan.

    Scale design: the LM tables are vocabulary-sized — unigram and bigram
    counts collapse map-side in their groupBys, and both join back onto
    the exploded corpus as BROADCAST dims (no corpus shuffle to score).
    The only corpus-scale exchange is the final per-doc sum keyed by
    high-cardinality ``doc_id``. Docs with fewer than 2 tokens carry no
    evidence and are dropped (keep = false, n_bigrams = 0), matching
    CCNet's minimum-length prefilter.

    Output: (doc_id, lang, n_bigrams, p_sum_ppb, oov_bigrams, keep).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    # materialize the token array BEFORE the gram construction (HOF lambdas
    # referencing split() directly re-inline the split subtree per element).
    # Adjacent pairs come from arrays_zip of two shifted slices, NOT a
    # transform(sequence, element_at) loop: per-element element_at inside a
    # lambda re-evaluates its surrounding branch and measured ~18x slower
    # (15.5 s vs 0.85 s for 266k bigrams at sf0.1).
    # The tokenized corpus feeds FIVE consumers (uni, vocab, bi, exploded,
    # final join) and Spark re-executes the scan+tokenize subtree for each
    # (no DataFrame CSE) — materialize it once (r6; see tables.materialize).
    from ..sources.tables import materialize

    base = materialize(
        df.select(F.col(doc_id_col), F.col(lang_col), toks.alias("__w"))
    )
    n = F.size("__w")
    bigrams = F.when(
        n >= 2,
        F.arrays_zip(
            F.slice(F.col("__w"), 1, n - 1).alias("w1"),
            F.slice(F.col("__w"), 2, n - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = base.select(doc_id_col, lang_col, bigrams.alias("__bi"))

    train_toks = base.filter(F.col(lang_col) == train_lang)
    uni = (
        train_toks.select(F.explode("__w").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c1"))
    )
    # V as a broadcast 1-row frame, not a driver-side action
    vocab = uni.agg((F.count("*") + F.lit(1)).alias("v"))
    bi = (
        pairs.filter(F.col(lang_col) == train_lang)
        .select(F.explode("__bi").alias("g"))
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
    )

    exploded = pairs.select(
        doc_id_col, F.explode("__bi").alias("g")
    ).select(doc_id_col, "g.w1", "g.w2")
    scored = (
        exploded.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            doc_id_col,
            F.floor(
                F.lit(1_000_000_000.0)
                * (
                    (F.coalesce(F.col("c12"), F.lit(0)) + 1).cast("double")
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
                )
            ).alias("p_ppb"),
            F.when(F.col("c12").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    sums = scored.groupBy(doc_id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.sum("p_ppb").alias("p_sum_ppb"),
        F.sum("oov").alias("oov_bigrams"),
    )
    return (
        base.select(doc_id_col, lang_col)
        .join(sums, doc_id_col, "left")
        .select(
            doc_id_col,
            lang_col,
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("p_sum_ppb", F.lit(0)).cast("bigint").alias("p_sum_ppb"),
            F.coalesce("oov_bigrams", F.lit(0)).cast("bigint").alias("oov_bigrams"),
            (
                (F.coalesce("n_bigrams", F.lit(0)) > 0)
                & (
                    F.coalesce("p_sum_ppb", F.lit(0))
                    >= F.lit(int(keep_thr_ppb)) * F.coalesce("n_bigrams", F.lit(0))
                )
            ).alias("keep"),
        )
    )


def ccnet_buckets(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    train_lang: str = "en",
) -> DataFrame:
    """CCNet head/middle/tail bucketing (arXiv:1911.00359 §3.2): CCNet
    splits each language's corpus into thirds by perplexity under the
    reference LM — *head* reads most like the reference distribution,
    *tail* least — and downstream mixes sample by bucket. Our analog
    buckets by the ``lm_score_docs`` mean-probability surrogate (higher =
    more in-distribution, so head = TOP tercile), with per-lang tercile
    thresholds as exact discrete order statistics: ``t_tail`` = the
    ceil(n/3)-th and ``t_mid`` = the ceil(2n/3)-th smallest per-doc score.
    Docs with no bigram evidence get bucket 'none' (CCNet's length
    prefilter drops them before bucketing).

    Scale design — the same counting-sort shape as the route-latency
    quantiles: thresholds come from ``groupBy(lang, score).count()`` (map-
    side combined, fully parallel) + a cumulative sum over the TINY per-
    lang score histogram — never a ``Window.partitionBy(lang)`` sort over
    raw rows, which would funnel each language's whole corpus through one
    task. Threshold table is langs-sized and broadcast back. Corpus
    quantile + apply is inherently two passes over the scored frame (the
    threshold side prunes to (lang, score), so the two scoring subtrees
    canonicalize differently and exchange reuse does NOT fire — verified
    against the executed plan; the 500k-doc gate run records the honest
    cost: two scans, ~19 MB total shuffle). A cluster job that also
    materializes per-doc scores should compute ``lm_score_docs`` once to
    a table and bucket over that, making the second pass a re-scan.
    All arithmetic is
    integer (score = ``p_sum_ppb DIV n_bigrams``, DuckDB ``//`` parity;
    both non-negative so floor == trunc).

    Output: (doc_id, lang, score_ppb nullable, bucket head|middle|tail|none).
    """
    from pyspark.sql import Window

    from ..sources.tables import materialize

    scored = lm_score_docs(df, doc_id_col, text_col, lang_col, train_lang)
    # the per-doc score frame is doc-count-sized (id, lang, one bigint) and
    # feeds BOTH the tercile-threshold side and the bucket-apply side —
    # materialize it so the whole lm_score_docs program runs once, not
    # twice (r6; the "compute lm_score_docs once to a table" note below,
    # realized in-plan)
    s = materialize(
        scored.select(
            doc_id_col,
            lang_col,
            F.when(
                F.col("n_bigrams") > 0, F.expr("p_sum_ppb DIV n_bigrams")
            ).alias("score_ppb"),
        )
    )
    hist = (
        s.filter(F.col("score_ppb").isNotNull())
        .groupBy(lang_col, "score_ppb")
        .agg(F.count("*").alias("c"))
    )
    totals = hist.groupBy(lang_col).agg(F.sum("c").alias("n"))
    wcum = Window.partitionBy(lang_col).orderBy("score_ppb")
    cum = hist.join(F.broadcast(totals), lang_col).withColumn(
        "cum", F.sum("c").over(wcum)
    )
    th = cum.groupBy(lang_col).agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 2) DIV 3"), F.col("score_ppb"))
        ).alias("t_tail"),
        F.min(
            F.when(
                F.col("cum") >= F.expr("(2 * n + 2) DIV 3"), F.col("score_ppb")
            )
        ).alias("t_mid"),
    )
    return s.join(F.broadcast(th), lang_col, "left").select(
        doc_id_col,
        lang_col,
        F.col("score_ppb").cast("bigint").alias("score_ppb"),
        F.when(F.col("score_ppb").isNull(), "none")
        .when(F.col("score_ppb") <= F.col("t_tail"), "tail")
        .when(F.col("score_ppb") <= F.col("t_mid"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )


def dsir_select(
    df: DataFrame,
    doc_id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "lang",
    target_value: str = "en",
    buckets: int = 4096,
    keep_thr_ppm: int = 940_000,
    portable: bool = True,
) -> DataFrame:
    """DSIR-style data selection via hashed n-gram importance weights
    (arXiv:2302.03169): featurize every document as hashed unigram +
    bigram bucket counts, fit bag-of-hashed-ngrams distributions for the
    TARGET slice (``target_col == target_value``) and the RAW pool (the
    whole corpus), and score each document by how much its grams look
    drawn from the target rather than the pool.

    Per-bucket importance ratio with add-1 smoothing over the ``B`` -
    bucket space (``T``/``R`` = total target/raw grams):

        ratio_ppm[b] = (1e6 * (tc[b]+1) * (R+B)) DIV ((rc[b]+1) * (T+B))

    i.e. ``p_target(b) / p_raw(b)`` in exact integer ppm — pure bigint
    multiply + integer division, bit-identical in Spark (``DIV``) and
    DuckDB (``//``) for the positive operands here. DSIR sums LOG ratios;
    this sums the ratios themselves (same repo-wide surrogate rule as
    lm_score_docs: ``ln()`` breaks cross-engine hash parity in the last
    ULP). Both order by "target-likeness"; a deployment free of the
    oracle constraint would swap in ``F.sum(F.ln(ratio))`` in the same
    plan. The keep decision is the integer cross-multiplication
    ``imp_sum_ppm >= keep_thr_ppm * n_grams`` (mean ratio >= threshold),
    a deterministic threshold variant of DSIR's Gumbel resampling.

    Scale design: gram buckets are ``md5_48 % B`` (engine-portable hash,
    same as minhash/simhash), so BOTH distribution tables are exactly
    ``B`` rows — they collapse map-side in their groupBys and join back
    onto the exploded corpus as broadcast dims; totals ride broadcast
    1-row frames (no driver count). The only corpus-scale exchange is
    the final per-doc sum on high-cardinality ``doc_id``. NOTE: the
    bigint product ``1e6*(tc+1)*(R+B)`` is exact up to ~1e18; at true
    100 TB gram counts the production path downsamples the count tables
    (or moves to double ratios) — documented trade, irrelevant below
    ~1e5-doc target slices per fitted model.

    Output: (doc_id, <target_col>, n_grams, imp_sum_ppm, keep).
    """
    # portable=True buckets grams with the engine-portable md5-48 hash
    # (oracle-checkable; this is the registered driver query). The
    # production path (portable=False) swaps in JVM-native xxhash64 —
    # identical plan shape, 3.2x cheaper per gram than md5->hex->conv
    # (289 s -> 90 s for ~2x10^8 grams at the 500k-doc scale gate on a
    # deliberately 4-file scan); bucket assignment differs but the
    # estimator is the same by symmetry. The bigger lever is scan
    # parallelism: the same corpus written as 64 files runs the xxhash
    # path in 10.2 s — explode blowup cannot be re-split by
    # maxPartitionBytes after the scan, so input file count bounds the
    # whole job's parallelism (see scripts/scale_gate.py).
    bucket_hash = (
        (lambda c: md5_48(c)) if portable else (lambda c: F.xxhash64(c))
    )
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda w: w != "")
    base = df.select(F.col(doc_id_col), F.col(target_col), toks.alias("__w"))
    n = F.size("__w")
    # unigrams ++ bigram strings; bigrams from zipped shifted slices
    # (transform/element_at measured 18x slower — see lm_score_docs)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("__w"), 1, n - 1),
            F.slice(F.col("__w"), 2, n - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = base.select(
        doc_id_col,
        target_col,
        F.explode(F.concat(F.col("__w"), bigrams)).alias("g"),
    )
    ex = grams.select(
        doc_id_col,
        target_col,
        F.pmod(bucket_hash(F.col("g")), F.lit(buckets)).alias("bucket"),
    )

    # r6: reduce the exploded gram stream to per-(doc, bucket) COUNTS
    # first and materialize that small frame (bounded by
    # docs x min(grams/doc, B), far below the gram count); both
    # distribution fitting and per-doc scoring then derive from it, so the
    # corpus is exploded and md5-bucketed exactly ONCE (previously: twice,
    # once per consumer of `ex`). The stream is hash-partitioned by
    # doc_id BEFORE the aggregation: doc_id is a subset of the grouping
    # keys, so ONE exchange satisfies this aggregate AND — because the
    # local checkpoint preserves its child's output partitioning — the
    # downstream per-doc sum, which would otherwise re-shuffle dm
    # (measured 2.9 s -> 2.0 s at sf0.1; skew is bounded by the max
    # grams-per-doc, a per-document quantity).
    from ..sources.tables import materialize

    dm = materialize(
        ex.repartition(F.col(doc_id_col))
        .groupBy(doc_id_col, target_col, "bucket")
        .agg(F.count("*").alias("cnt"))
    )

    # raw + target bucket counts in ONE pass over dm (conditional agg)
    stats = dm.groupBy("bucket").agg(
        F.sum("cnt").alias("rc"),
        F.sum(
            F.when(F.col(target_col) == target_value, F.col("cnt")).otherwise(0)
        ).alias("tc"),
    )
    tot = stats.agg(
        F.sum("rc").alias("r_total"), F.sum("tc").alias("t_total")
    )
    score = stats.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.expr(
            f"(1000000 * (tc + 1) * (r_total + {buckets})) "
            f"DIV ((rc + 1) * (t_total + {buckets}))"
        ).alias("ratio_ppm"),
    )
    sums = (
        dm.join(F.broadcast(score), "bucket")
        .groupBy(doc_id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.col("cnt") * F.col("ratio_ppm")).alias("imp_sum_ppm"),
        )
    )
    return (
        base.select(doc_id_col, target_col)
        .join(sums, doc_id_col, "left")
        .select(
            doc_id_col,
            target_col,
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("imp_sum_ppm", F.lit(0)).cast("bigint").alias("imp_sum_ppm"),
            (
                (F.coalesce("n_grams", F.lit(0)) > 0)
                & (
                    F.coalesce("imp_sum_ppm", F.lit(0))
                    >= F.lit(int(keep_thr_ppm)) * F.coalesce("n_grams", F.lit(0))
                )
            ).alias("keep"),
        )
    )


def url_filter(
    df: DataFrame,
    url_col: str = "url",
    blocked_hosts: tuple[str, ...] = (),
    bad_words: tuple[str, ...] = (),
) -> DataFrame:
    """RefinedWeb-style URL filtering (arXiv:2306.01116 §3.1): the first
    curation gate of a web-scale pipeline — drop documents by the URL
    alone, before any content is fetched or parsed. Two rules, exactly
    the paper's structure: a curated host BLOCKLIST (hard drop) and a
    soft bad-word score over the URL string (hits above threshold drop).

    ``badword_hits`` counts total occurrences of every ``bad_words``
    entry in the lowercased URL via the length-difference idiom
    ``(len(u) - len(replace(u, w))) / len(w)`` — pure integer arithmetic,
    identical in Spark and DuckDB. ``keep`` = host not blocked AND zero
    bad-word hits.

    Scale design: everything is a narrow Column program over the URL
    string — no shuffle, no UDF; the filter pushes into the scan when
    used as a predicate. The blocklist compiles to a literal ``isin``
    (an O(1) hash probe per row); a production-sized blocklist (millions
    of hosts) would swap to a broadcast left-anti join against a hosts
    dim — same plan shape, still shuffle-free on the corpus side.

    Output adds: url_host, url_domain (registered domain = last two
    labels), blocked (bool), badword_hits (bigint), keep (bool).
    """
    u = F.lower(F.col(url_col))
    host = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    hits = None
    for w in bad_words:
        h = (F.length(u) - F.length(F.replace(u, F.lit(w), F.lit("")))) / F.lit(
            len(w)
        )
        h = h.cast("bigint")
        hits = h if hits is None else hits + h
    hits = (hits if hits is not None else F.lit(0)).cast("bigint")
    blocked = (
        host.isin(*blocked_hosts) if blocked_hosts else F.lit(False)
    )
    return df.select(
        "*",
        host.alias("url_host"),
        domain.alias("url_domain"),
        blocked.alias("blocked"),
        hits.alias("badword_hits"),
        (~blocked & (hits == 0)).alias("keep"),
    )


def c4_line_clean(
    df: DataFrame,
    page_col: str = "page_id",
    idx_col: str = "line_idx",
    line_col: str = "line",
    min_words: int = 3,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020, arXiv:1910.10683 §2.2)
    over a (page, line_idx, line) corpus — the rule set the C4 dataset was
    built with:

    - keep only lines that END in a terminal punctuation mark
      (``. ! ? "``),
    - keep only lines with >= ``min_words`` words,
    - drop lines containing the word ``javascript`` (case-insensitive),
    - drop the WHOLE page if any line contains ``lorem ipsum`` or a curly
      brace ``{`` (code markers),
    - drop pages with fewer than ``min_kept_lines`` surviving lines.

    Output: one row per page — ``(page_id, n_lines, n_kept, page_keep,
    cleaned_md5)`` where ``cleaned_md5`` hashes the newline-joined kept
    lines in line order (NULL for dropped pages), so downstream equality
    checks don't ship cleaned bodies around.

    Scale: every line rule is a narrow Column predicate evaluated in the
    scan stage (whole-stage codegen, pushdown-friendly); the ONLY exchange
    is the final groupBy on ``page_col``. Page groups are document-sized
    (bounded), so collect_list cannot skew a task, and the aggregate's
    boolean/count legs are map-side combinable. At 100 TB this is one
    shuffle of (page, idx, kept-line) rows — the same shape as any
    per-document reassembly.
    """
    line = F.col(line_col)
    n_words = token_count(line)
    ends_terminal = line.rlike(r'[.!?"]\s*$')
    has_js = F.lower(line).rlike(r"\bjavascript\b")
    page_poison = F.lower(line).contains("lorem ipsum") | line.contains("{")
    line_keep = ends_terminal & (n_words >= min_words) & ~has_js & ~page_poison

    per_line = df.select(
        F.col(page_col),
        F.col(idx_col),
        line,
        line_keep.alias("_keep"),
        page_poison.alias("_poison"),
    )
    agg = per_line.groupBy(page_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
        F.max(F.col("_poison")).alias("_page_poison"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("_keep"), F.struct(F.col(idx_col).alias("i"), line.alias("t"))
                )
            )
        ).alias("_kept"),
    )
    page_keep = ~F.col("_page_poison") & (F.col("n_kept") >= min_kept_lines)
    cleaned = F.array_join(F.transform(F.col("_kept"), lambda s: s["t"]), "\n")
    return agg.select(
        F.col(page_col),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        page_keep.alias("page_keep"),
        F.when(page_keep, F.md5(cleaned)).alias("cleaned_md5"),
    )
