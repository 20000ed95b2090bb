"""Deduplication family for training-data pipelines over ``documents``.

Exact (hash-groupBy), n-gram Jaccard, MinHash+LSH banding, SimHash — all
expressed as DataFrame programs (explode/groupBy/join); no Python executes
per row. Scale notes per operator docstring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import materialize

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One row per distinct text: keeper = min id, dup_count.

    Scale: hash-shuffle on md5(text) — uniform keys, no skew; at 100 TB
    group on the 128-bit digest instead of raw text to keep shuffle rows
    narrow (done here).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def normalize_for_dedup(text: Column) -> Column:
    """RefinedWeb/C4-style "fuzzy exact" canonical form: lowercase, strip
    everything but alphanumerics and spaces, collapse whitespace runs,
    trim. Catches case/punctuation/whitespace re-serializations of the
    same content that byte-exact dedup misses."""
    t = F.lower(text)
    t = F.regexp_replace(t, r"[^a-z0-9\s]", "")
    t = F.regexp_replace(t, r"\s+", " ")
    return F.trim(t)


def fuzzy_exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """exact_dedup over the normalized form: one row per canonical text,
    keeper = min id, dup_count. Same scale shape as exact_dedup (digest
    shuffle keys — uniform, narrow rows)."""
    return (
        df.select(
            F.md5(normalize_for_dedup(F.col(text_col))).alias("norm_md5"),
            F.col(id_col),
        )
        .groupBy("norm_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# shingling + n-gram Jaccard
# ---------------------------------------------------------------------------


def suppress_boilerplate_turns(
    df: DataFrame,
    min_groups: int = 3,
    group_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-group boilerplate suppression for transcripts: drop
    turns whose EXACT text appears in >= ``min_groups`` distinct
    conversations (canned assistant responses, templated tool output — the
    transcript analog of C4's cross-document duplicate-line removal).

    Scale: one aggregation with map-side-combined distinct handling builds
    the (text, distinct-conv count) table; the surviving boilerplate set is
    tiny by construction (only the high-document-frequency tail crosses the
    threshold), so it comes back as a broadcast LEFT ANTI join — the corpus
    itself never shuffles, and hot texts cannot skew the join because the
    broadcast side holds one row per text.
    """
    boiler = (
        df.groupBy(text_col)
        .agg(F.count_distinct(F.col(group_col)).alias("n_groups"))
        .filter(F.col("n_groups") >= min_groups)
        .select(text_col)
    )
    return df.join(F.broadcast(boiler), text_col, "left_anti")


def word_shingles(text: Column, n: int = 3) -> Column:
    """Array of distinct word n-grams.

    The split result is BOUND as an HOF lambda variable (single-element
    array transform, same trick as winnow_fingerprints) before the
    per-shingle loop: higher-order functions are CodegenFallback with no
    subexpression elimination, so a lambda referencing ``split()`` directly
    re-runs the regex split once per shingle element — measured 4.2 s vs
    0.4 s for the 270k-shingle explode at sf0.1 (r6 audit; same lesson as
    lm_score_docs' token materialization)."""
    words = F.split(F.trim(text), r"\s+")

    def build(ws: Column) -> Column:
        k = F.size(ws) - (n - 1)
        grams = F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k), lambda i: F.array_join(F.slice(ws, i, n), " ")
            ),
        ).otherwise(F.array(F.array_join(ws, " ")))
        return F.array_distinct(grams)

    return F.transform(F.array(words), build)[0]


def shingle_table(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, shingle) exploded pairs + per-doc distinct shingle count."""
    with_sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), n).alias("shingles")
    ).withColumn("shingle_count", F.size("shingles"))
    return with_sh.select(id_col, "shingle_count", F.explode("shingles").alias("shingle"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int = 1000,
) -> DataFrame:
    """Candidate pairs with exact Jaccard >= threshold via shingle grouping.

    Scale: hot shingles (boilerplate) are dropped above ``max_shingle_freq``
    — the standard frequency cap that bounds per-key pair fan-out to
    max_freq^2 and removes the skew that would otherwise dominate at 100 TB.
    Jaccard is surfaced in millionths (BIGINT).

    Shape (r6 rewrite, guide §2.4): the corpus is shingled and exploded
    exactly ONCE. The old freq-aggregate + filter-join + a/b self-join
    evaluated the shingle subtree four times (freq, join probe, and both
    self-join sides — Spark has no DataFrame-subtree CSE once pruning
    specializes the scans) and shuffled it three times. Now the frequency
    cap is a count window over the shingle-partitioned exchange — the same
    exchange the pair grouping needs, so one corpus shuffle total — and
    pairs are generated WITHIN each surviving shingle group from the
    id-sorted member list (bounded by the cap, so the collected group is
    <= max_shingle_freq structs; rows above the cap are filtered before
    the list aggregation ever sees them). Second (final) exchange: the
    per-pair common-count aggregation. 4 subtree evals -> 1, 3 corpus
    shuffles + 2 broadcast builds -> 2 exchanges.
    """
    from pyspark.sql import Window

    sh = shingle_table(df, text_col, id_col, n)
    w = Window.partitionBy("shingle")
    sh2 = sh.withColumn("freq", F.count(F.lit(1)).over(w)).filter(
        (F.col("freq") <= max_shingle_freq) & (F.col("freq") >= 2)
    )
    grouped = sh2.groupBy("shingle").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("shingle_count").alias("cnt"),
                )
            )
        ).alias("docs")
    )
    # ordered pairs (id_a < id_b) inside each group: member i pairs with
    # every later member of the id-sorted list
    e = grouped.select(F.posexplode("docs").alias("i", "a"), "docs")
    pairs = e.select(
        F.col("a.id").alias("id_a"),
        F.col("a.cnt").alias("count_a"),
        F.explode(
            F.slice(F.col("docs"), F.col("i") + F.lit(2), F.size("docs"))
        ).alias("b"),
    ).select(
        "id_a",
        "count_a",
        F.col("b.id").alias("id_b"),
        F.col("b.cnt").alias("count_b"),
    )
    common = pairs.groupBy("id_a", "id_b", "count_a", "count_b").agg(
        F.count(F.lit(1)).alias("common")
    )
    union = F.col("count_a") + F.col("count_b") - F.col("common")
    jac = F.col("common").cast("double") / union
    return (
        common.withColumn("jaccard_ppm", F.floor(jac * 1_000_000).cast("bigint"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "common", "jaccard_ppm")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE31 = (1 << 31) - 1  # products stay < 2^62: safe under ANSI int64


def md5_48(col: Column) -> Column:
    """Engine-portable 48-bit base hash: first 12 hex chars of md5 as int.

    DuckDB twin: list_reduce over the same 12 hex chars — this is what makes
    minhash/simhash/fingerprint oracle-checkable (xxhash64/crc32 have no
    DuckDB equivalent)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def _hash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a*x + b) mod p."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    base_hash: str = "crc32",
) -> DataFrame:
    """Per-doc MinHash signature (array<bigint>, length num_hashes): numpy
    universal hashing inside an Arrow-batched pandas UDF (deterministic:
    crc32 or md5-48 shingle hashing, seeded universal-hash params).
    Interpreted higher-order functions are CodegenFallback, so per-shingle
    x per-hash work is the rare case where the vectorized-Python path beats
    a Catalyst fold (~50x). The signature is num_hashes*8 bytes/doc
    regardless of doc size. base_hash='md5_48' is the oracle-portable
    variant (same int DuckDB computes from md5 hex)."""
    if base_hash not in ("crc32", "md5_48"):
        raise ValueError(f"base_hash must be 'crc32' or 'md5_48', not {base_hash!r}")
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    params = _hash_params(num_hashes, seed)
    a_arr = [a for a, _ in params]
    b_arr = [b for _, b in params]

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pyspark's eval-type inference can't resolve — explicit SCALAR form
    def _sig_fn(texts):
        import hashlib
        import zlib

        if base_hash == "crc32":
            hash_one = lambda b: zlib.crc32(b)
        else:  # md5_48
            hash_one = lambda b: int.from_bytes(hashlib.md5(b).digest()[:6], "big")
        A = np.array(a_arr, dtype=np.int64)[:, None]
        B = np.array(b_arr, dtype=np.int64)[:, None]
        out = []
        for t in texts:
            words = (t or "").split()
            if len(words) >= n:
                sh = {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}
            else:
                sh = {" ".join(words)}
            x = np.fromiter(
                (hash_one(s.encode("utf-8")) for s in sh),
                dtype=np.int64,
                count=len(sh),
            ) % _MERSENNE31
            sig = ((A * x[None, :] + B) % _MERSENNE31).min(axis=1)
            out.append(sig)
        return pd.Series(out)

    sig_udf = pandas_udf(_sig_fn, T.ArrayType(T.LongType()))
    return df.select(F.col(id_col), sig_udf(F.col(text_col)).alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 200,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs: band the signature, bucket-join on
    (band_idx, band_hash), emit distinct (id_a < id_b) pairs.

    ``portable=True`` swaps the base hash to md5-48 and the band bucket to
    the raw signature-slice string so DuckDB can compute the identical
    program (oracle checking); architecture and plan shape are unchanged.

    Scale: the join key is the band hash — collisions are by construction
    rare for non-similar docs, so join fan-out stays near-linear; banding is
    the standard sub-quadratic LSH path (vs the quadratic all-pairs scan).
    ``max_bucket_size`` drops degenerate hot buckets (boilerplate/template
    corpora) whose fan-out would otherwise be quadratic in the bucket size —
    the same skew-capping discipline as the shingle-frequency cap above;
    members of a dropped bucket still pair via their other bands.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, text_col, id_col, n, num_hashes, seed,
        base_hash="md5_48" if portable else "crc32",
    )
    banded = _band_and_cap(
        sigs, id_col, bands, rows_per_band, portable, max_bucket_size
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _band_and_cap(
    sigs: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    portable: bool,
    max_bucket_size: int,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Explode a signature frame into (id, band, bucket) with the
    hot-bucket cap as ONE window count on the bucket shuffle (vs the old
    groupBy + join-back: an extra aggregate exchange + broadcast per
    call); materializes the filtered frame so the (expensive, Python)
    signature UDF runs once and both join sides read it."""

    def band_key(b):
        joined = F.array_join(
            F.transform(
                F.slice("signature", b * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
            ",",
        )
        return joined if portable else F.xxhash64(joined).cast("string")

    band_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket"))
            for b in range(bands)
        ]
    )
    extra = extra_cols or []
    banded = sigs.select(id_col, *extra, F.explode(band_arr).alias("bb")).select(
        id_col,
        *extra,
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    wsz = Window.partitionBy("band", "bucket")
    return materialize(
        banded.withColumn("__sz", F.count(F.lit(1)).over(wsz))
        .filter(F.col("__sz") <= max_bucket_size)
        .drop("__sz")
    )


def minhash_lsh_incremental(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    max_bucket_size: int = 200,
    portable: bool = False,
    existing_is_signatures: bool = False,
) -> DataFrame:
    """Continuous-ingestion near-dup candidates: a NEW batch against an
    already-signed corpus, plus within-batch pairs — WITHOUT re-reading
    the stored corpus text.

    ``existing_is_signatures=True`` accepts the persisted signature table
    (id, signature — num_hashes*8 bytes/doc) from a previous run: at
    100 TB the corpus text is never touched again; only the incoming
    batch is shingled. Banding, hot-bucket capping (computed on the
    UNION, the same skew discipline the full run applies), and the
    bucket join are shared with minhash_lsh_pairs, so by construction
    the output EQUALS the full-corpus run's pairs restricted to those
    touching the incoming side — the metamorphic identity the tests and
    the driver oracle check. Output: (id_a, id_b) with id_a < id_b and
    at least one side incoming.
    """
    base = "md5_48" if portable else "crc32"
    ex_sigs = (
        existing.select(id_col, "signature")
        if existing_is_signatures
        else minhash_signatures(
            existing, text_col, id_col, n, num_hashes, seed, base_hash=base
        )
    )
    in_sigs = minhash_signatures(
        incoming, text_col, id_col, n, num_hashes, seed, base_hash=base
    )
    sigs = ex_sigs.withColumn("__new", F.lit(False)).unionByName(
        in_sigs.withColumn("__new", F.lit(True))
    )
    banded = _band_and_cap(
        sigs, id_col, bands, num_hashes // bands, portable, max_bucket_size,
        extra_cols=["__new"],
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("__new").alias("__new_a"), "band", "bucket"
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("__new").alias("__new_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("__new_a") | F.col("__new_b"))
        )
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per doc: sign of per-bit weighted sums of token hashes.

    Computed with array expressions: token array -> hash array -> per-bit
    +-1 contributions folded with aggregate() — single projection, no
    explode/shuffle, which is what makes it viable per-row at 100 TB.
    """
    tokens = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    hashes = F.transform(
        tokens,
        (lambda t: F.xxhash64(t)) if base_hash == "xxhash64" else (lambda t: md5_48(t)),
    )
    # bit positions unrolled statically (shiftleft/right need int bit counts);
    # still one projection, no shuffle
    def _merge(b: int):
        # closure factory: pyspark lambda introspection requires exactly
        # (acc, x) params, so the bit index can't be a default arg
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    sim = F.lit(0).cast("long")
    for bit in range(bits):
        bit_sum = F.aggregate(hashes, F.lit(0).cast("long"), _merge(bit))
        bit_val = (1 << bit) if bit < 63 else -(1 << 63)  # sign bit of int64
        sim = sim.bitwiseOR(
            F.when(bit_sum > 0, F.lit(bit_val).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return df.select(F.col(id_col), sim.alias("simhash"))


def jaccard_verified_pairs_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
    seed: int = 42,
    max_shingle_freq: int = 1000,
    max_bucket_size: int = 200,
) -> DataFrame:
    """Production near-dup path: MinHash-LSH candidates -> exact Jaccard
    verification on candidates ONLY.

    Scale: the quadratic shingle self-join is replaced by (a) the banded
    LSH bucket join (near-linear; see minhash_lsh_pairs) and (b) a per-pair
    set intersection over the candidate pairs — work proportional to
    |candidates|, not |docs|^2. With rows_per_band = num_hashes/bands = 2,
    a pair at the 0.8 threshold is a candidate with prob
    1-(1-0.8^2)^32 ~= 1-4e-15, so the verified result matches the exact
    all-pairs program on any realistic corpus (and deterministically so —
    the hash family is seeded).

    Jaccard uses the same semantics as ngram_jaccard_pairs: hot shingles
    above ``max_shingle_freq`` are excluded from the intersection while
    denominators keep full distinct-shingle counts.
    """
    # cand feeds the id-set derivation AND the final scoring join; sets_df
    # feeds both join sides — materialize both or the banded-LSH pipeline
    # and the collect_set shuffle run twice (measured 2x on the verify stage)
    cand = materialize(
        minhash_lsh_pairs(df, text_col, id_col, n, num_hashes, bands, seed, max_bucket_size)
    )
    # shingle-frequency cap is computed over the FULL corpus (must mirror
    # the exact path's cap), but the per-doc shingle SETS — the expensive
    # collect_set — are built only for docs that appear in a candidate pair
    # no distinct: the left_semi join below is insensitive to duplicate keys
    # on its right side, so deduping here would only add an aggregate exchange
    cand_ids = cand.select(F.col("id_a").alias(id_col)).unionByName(
        cand.select(F.col("id_b").alias(id_col))
    )
    sh = shingle_table(df, text_col, id_col, n)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    cand_sh = shingle_table(
        df.join(cand_ids, id_col, "left_semi"), text_col, id_col, n
    )
    capped = cand_sh.join(freq.filter(F.col("freq") <= max_shingle_freq), "shingle")
    sets_df = materialize(
        capped.groupBy(id_col).agg(
            F.collect_set("shingle").alias("sh_set"),
            F.first("shingle_count").alias("n_sh"),
        )
    )
    a = sets_df.select(
        F.col(id_col).alias("id_a"), F.col("sh_set").alias("sa"), F.col("n_sh").alias("ca")
    )
    b = sets_df.select(
        F.col(id_col).alias("id_b"), F.col("sh_set").alias("sb"), F.col("n_sh").alias("cb")
    )
    scored = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("common", F.size(F.array_intersect("sa", "sb")).cast("long"))
    )
    jac = F.col("common").cast("double") / (F.col("ca") + F.col("cb") - F.col("common"))
    return (
        scored.withColumn("jaccard_ppm", F.floor(jac * 1_000_000).cast("bigint"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", "common", "jaccard_ppm")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive dedup clustering: connected components over a near-dup
    pair graph by iterative min-label propagation.

    Returns (node, component) for every node appearing in a pair; component
    = the smallest doc id reachable (the canonical keeper).

    Scale: each round is one shuffle (join + groupBy-min) over the EDGE set
    — near-dup graphs are sparse (|edges| << |docs|), rounds ~= graph
    diameter (dup chains are short in practice; max_iter bounds adversarial
    chains). labels are localCheckpoint()ed per round so the plan/lineage
    stays O(1) instead of growing per iteration; the driver-side loop only
    reads a convergence COUNT, never data.
    """
    e = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = materialize(
        e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    )
    labels = edges.select(F.col("src").alias("v")).distinct().withColumn(
        "label", F.col("v")
    ).localCheckpoint()
    for _ in range(max_iter):
        neigh = edges.join(labels, edges["src"] == labels["v"]).select(
            F.col("dst").alias("v"), F.col("label")
        )
        new_labels = (
            neigh.unionByName(labels.select("v", "label"))
            .groupBy("v")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "v")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("v").alias("node"), F.col("label").alias("component"))


def repeated_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Substring-level dedup, the distributed approximation of
    suffix-array exact-substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): a token position whose
    word n-gram occurs in >= ``min_docs`` DISTINCT documents marks the
    token span [pos, pos+n); overlapping/adjacent marked spans merge per
    document (gaps-and-islands). Output one row per merged span:
    (id, span_start, span_end, n_grams) in 1-based token coordinates,
    end-exclusive — the downstream cut list for span removal.

    Scale: unlike pairwise dedup there is NO quadratic stage — positions
    join against the duplicated-gram SET on the gram key (fan-out 1), so a
    boilerplate gram in a million docs costs a million marked rows, not a
    million-squared join; no frequency cap is needed. Two shuffles on the
    same gram key (count + join back, AQE-reusable) plus the per-doc
    window — doc_id is the high-cardinality key the corpus is already
    organized by. The shuffled key is xxhash64 of the gram, not the
    ~n-word string itself (~5x fewer shuffle bytes; a 64-bit collision
    falsely marks one position with probability ~G^2/2^65 for G distinct
    grams — negligible below ~10^8 grams and merely over-marks one span
    if it ever fires)."""
    # Materialize the token array as a projection BEFORE the gram transform:
    # referencing split() directly inside the HOF lambda re-inlines the
    # split subtree into the generate (measured 3x slower). Per-word
    # element_at hashing (no joined string) is worse still (3.5x) for the
    # same reason.
    pre = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("__w")
    )
    words = F.col("__w")
    k = F.size(words) - (n - 1)
    grams = F.when(
        k >= 1,
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.xxhash64(F.array_join(F.slice(words, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    pos_df = pre.select(
        F.col(id_col), F.posexplode(grams).alias("__p0", "__gram")
    ).select(id_col, (F.col("__p0") + 1).alias("pos"), "__gram")

    from pyspark.sql import Window

    # r6: the duplicated-gram set and the mark-back join used to evaluate
    # the position table twice (count-distinct agg + join — no DataFrame
    # CSE) with two gram-keyed exchanges. The distinct-doc count is instead
    # computed IN the one gram-partitioned window pass: dense_rank over id
    # within each gram, its partition max = count of distinct docs — same
    # marked set, one exchange, one evaluation, and still hot-gram-safe
    # (sort-based windows spill; no per-gram set buffer is ever built).
    wg = Window.partitionBy("__gram").orderBy(id_col)
    wga = Window.partitionBy("__gram")
    marked = (
        pos_df.withColumn("__dr", F.dense_rank().over(wg))
        .withColumn("__nd", F.max("__dr").over(wga))
        .filter(F.col("__nd") >= min_docs)
        .select(id_col, "pos")
    )

    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    island = F.sum(
        (prev.isNull() | (F.col("pos") > prev + n)).cast("int")
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        marked.withColumn("__g", island)
        .groupBy(id_col, "__g")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + n).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .drop("__g")
    )


def conv_exact_dedup(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    payload_cols: tuple[str, ...] = ("role", "text", "tool"),
) -> DataFrame:
    """Conversation-level exact dedup over multi-turn transcripts: the
    fingerprint is md5 over the turn-ordered concatenation of the payload
    fields (unit-separator delimited), so two conversations are duplicates
    iff every turn matches in content AND order — the conversation analog
    of document exact_dedup. Keep rule: min conv_id per fingerprint group.

    Scale: the per-conversation fold is one groupBy on the conv key the
    corpus is already bucketed by (no extra exchange on the bucketed
    layout); the fingerprint group stage shuffles ONE 16-byte row per
    conversation. collect_list is bounded by conversation length, not
    corpus size. Output: (conv, fingerprint, n_turns, group_n, kept).
    """
    payload = F.concat_ws("\x1e", *[F.col(c) for c in payload_cols])
    turns = F.array_sort(
        F.collect_list(
            F.struct(F.col(order_col).alias("i"), payload.alias("p"))
        )
    )
    g = df.groupBy(conv_col).agg(
        F.md5(
            F.array_join(F.transform(turns, lambda s: s["p"]), "\x1f")
        ).alias("fingerprint"),
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
    )
    reps = g.groupBy("fingerprint").agg(
        F.min(conv_col).alias("__rep"),
        F.count(F.lit(1)).cast("bigint").alias("group_n"),
    )
    return g.join(reps, "fingerprint").select(
        conv_col,
        "fingerprint",
        "n_turns",
        "group_n",
        (F.col(conv_col) == F.col("__rep")).alias("kept"),
    )


def paragraph_dedup(
    df: DataFrame,
    page_col: str = "page_id",
    idx_col: str = "line_idx",
    line_col: str = "line",
) -> DataFrame:
    """CCNet-style cross-document paragraph deduplication (Wenzek et al.
    2020, arXiv:1911.00359 §3.1): hash every paragraph, keep only the FIRST
    occurrence corpus-wide (ordered by page then position), drop every
    later repeat — removes boilerplate headers/footers/navigation shared
    across pages while keeping one canonical copy.

    Output: one row per page — ``(page_id, n_lines, n_kept, kept_md5)``
    where ``kept_md5`` hashes the newline-joined surviving paragraphs in
    original order (NULL when the page loses every paragraph).

    Scale: first-occurrence selection is a row_number window partitioned by
    the 128-bit paragraph digest — a UNIFORM high-cardinality key (one
    group per distinct paragraph, group size = duplicate count), so the
    single window shuffle spreads evenly and per-group sorts are tiny; hot
    boilerplate paragraphs cap at the duplicate count of one value, which
    AQE skew-split handles if a single paragraph dominates a corpus. The
    page reassembly groupBy is the only other exchange. No joins, no
    driver-side state.
    """
    line = F.col(line_col)
    w = Window.partitionBy("_h").orderBy(page_col, idx_col)
    per_line = (
        df.select(F.col(page_col), F.col(idx_col), line, F.md5(line).alias("_h"))
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_keep", F.col("_rn") == 1)
    )
    agg = per_line.groupBy(page_col).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
        F.sort_array(
            F.collect_list(
                F.when(
                    F.col("_keep"), F.struct(F.col(idx_col).alias("i"), line.alias("t"))
                )
            )
        ).alias("_kept"),
    )
    kept = F.array_join(F.transform(F.col("_kept"), lambda s: s["t"]), "\n")
    return agg.select(
        F.col(page_col),
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.when(F.col("n_kept") > 0, F.md5(kept)).alias("kept_md5"),
    )
