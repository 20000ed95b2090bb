"""Property tests for the training-data operators (beyond the oracle gate)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_telemetry_opentelemetry_collector_contrib_spark.functions import (
    dedupe,
    multimodal,
    similarity,
)
from open_telemetry_opentelemetry_collector_contrib_spark.functions import text as text_fns
from tests.conftest import SF_UNIT


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base.replace("today", "tomorrow")),  # near dup (1 word changed)
        (4, "completely different content about spark shuffle partitions and skew"),
        (5, "another unrelated document mentioning catalyst optimizer rules only"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_lsh_finds_near_dups(near_dup_docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in dedupe.minhash_lsh_pairs(near_dup_docs, n=3).collect()
    }
    assert (1, 2) in pairs  # exact dup always collides in every band
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup collides in some band
    assert (4, 5) not in pairs  # unrelated docs do not


def test_minhash_approximates_jaccard(near_dup_docs):
    sigs = {r.doc_id: r.signature for r in dedupe.minhash_signatures(near_dup_docs).collect()}
    est_12 = sum(a == b for a, b in zip(sigs[1], sigs[2])) / len(sigs[1])
    est_14 = sum(a == b for a, b in zip(sigs[1], sigs[4])) / len(sigs[1])
    assert est_12 == 1.0
    assert est_14 < 0.3


def test_minhash_rejects_unknown_base_hash(near_dup_docs):
    # xxhash64 is simhash's default name, not a minhash base hash
    with pytest.raises(ValueError, match="xxhash64"):
        dedupe.minhash_signatures(near_dup_docs, base_hash="xxhash64")


def test_simhash_hamming_ordering(near_dup_docs):
    sh = {r.doc_id: r.simhash for r in dedupe.simhash(near_dup_docs).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert sh[1] == sh[2]
    assert ham(sh[1], sh[3]) < ham(sh[1], sh[4])


def test_exact_dedup_counts(near_dup_docs):
    out = {r.keeper_id: r.dup_count for r in dedupe.exact_dedup(near_dup_docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse, keeper = min id
    assert len(out) == 4


def test_ann_lsh_recall_vs_bruteforce(spark):
    # LSH top-k should agree with brute force on the nearest neighbors that
    # share the query's bucket; rank-1 must always be the query itself.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk_bruteforce(emb, q, k=5).collect()
    approx = similarity.cosine_topk_lsh(emb, q, dim=64, k=5).collect()
    exact_r1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    approx_r1 = {r.query_id: r.vec_id for r in approx if r.rank == 1}
    assert exact_r1 == {0: 0, 1: 1, 2: 2}
    assert approx_r1 == exact_r1
    # every LSH hit must carry the same score the exact path computed
    exact_scores = {(r.query_id, r.vec_id): r.cos_ppb for r in exact}
    for r in approx:
        if (r.query_id, r.vec_id) in exact_scores:
            assert exact_scores[(r.query_id, r.vec_id)] == r.cos_ppb


def test_ann_ivf_recall_vs_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk_bruteforce(emb, q, k=5).collect()
    ivf = similarity.cosine_topk_ivf(emb, q, k=5, num_clusters=8, nprobe=3).collect()
    exact_r1 = {r.query_id: r.vec_id for r in exact if r.rank == 1}
    ivf_r1 = {r.query_id: r.vec_id for r in ivf if r.rank == 1}
    # rank-1 is the query itself (cos=1) and must always be recalled:
    # the query's own cluster is always its nearest centroid
    assert ivf_r1 == exact_r1
    # recall@5 against exact top-5 should be high at nprobe=3/8
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hits = sum(1 for r in ivf if r.vec_id in exact_sets[r.query_id])
    assert hits / len(exact) >= 0.6


def test_ann_ivf_sample_fit_and_fullprobe_identity(spark):
    """The quantizer fits on a bounded sample (fit_max), and probing all
    clusters reproduces the exact brute-force result regardless of what the
    quantizer learned — clusters partition the corpus, so full probe scores
    every vector exactly once."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.vec_id, r.rank, r.cos_ppb)
        for r in similarity.cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    # fit_max far below the corpus size forces the sampled-fit path
    full = {
        (r.query_id, r.vec_id, r.rank, r.cos_ppb)
        for r in similarity.cosine_topk_ivf(
            emb, q, k=5, num_clusters=4, nprobe=4, fit_max=64
        ).collect()
    }
    assert full == exact


def test_embedding_near_dup_degenerate_bucket_cap(spark):
    """1k identical vectors land in one LSH bucket; with max_bucket_size the
    bucket is skipped (O(cap^2) bound instead of 500k scored pairs), and a
    disjoint small cluster of near-dups still comes through."""
    import time

    dim = 8
    rows = [(i, [1.0] * dim) for i in range(1000)]
    rows += [(10_000 + i, [-1.0] * (dim - 1) + [float(1 + 0.001 * i)]) for i in range(3)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    t0 = time.perf_counter()
    pairs = similarity.embedding_near_dup_pairs(
        emb, dim=dim, threshold=0.9, num_planes=6, max_bucket_size=100
    ).collect()
    elapsed = time.perf_counter() - t0
    got = {(r.id_a, r.id_b) for r in pairs}
    # the hot bucket (1000 identical) is skipped; the 3-vector cluster survives
    assert got == {(10_000, 10_001), (10_000, 10_002), (10_001, 10_002)}
    assert elapsed < 60
    # uncapped (cap above the bucket size) returns the quadratic mass
    n_all = similarity.embedding_near_dup_pairs(
        emb, dim=dim, threshold=0.9, num_planes=6, max_bucket_size=2000
    ).count()
    assert n_all == (1000 * 999) // 2 + 3


def test_failover_sink(spark, tmp_path):
    from open_telemetry_opentelemetry_collector_contrib_spark.sources import sinks

    df = spark.range(10).withColumnRenamed("id", "v")
    good = str(tmp_path / "good")
    # /proc is a real unwritable filesystem even for root
    used = sinks.write_with_failover(df, ["/proc/no_such_sink/out", good])
    assert used == good
    assert spark.read.parquet(good).count() == 10


def test_lang_id_basic(spark):
    rows = [
        (1, "the cat and the dog went to the park for a walk in the sun"),
        (2, "el perro y el gato en la casa de los abuelos por la tarde"),
        (3, "zzzz qqqq xxxx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.lang for r in df.select("doc_id", text_fns.lang_id(F.col("text")).alias("lang")).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_multimodal_feature_plumbing(spark):
    media = multimodal.synthetic_media(spark, n=12)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 12
    by_id = {r.media_id: r for r in feats}
    assert all(len(r.feature) == multimodal.FEATURE_DIM for r in feats)
    # deterministic: same payload -> same feature
    again = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert by_id[0].feature == again[0].feature
    assert by_id[0].payload_sha256 == again[0].payload_sha256


def test_multimodal_real_decode_is_stubbed(spark):
    media = multimodal.synthetic_media(spark, n=3)
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        multimodal.extract_features(media, decode_mode="real").collect()


def test_frame_sample_plan(spark):
    media = multimodal.synthetic_media(spark, n=9)
    plan = multimodal.frame_sample_plan(media, every_ms=500).collect()
    assert all(r.frame_ts_ms == r.frame_idx * 500 for r in plan)
    videos = media.filter(F.col("kind") == "video").collect()
    expected = sum(max(v.duration_ms // 500, 1) for v in videos)
    assert len(plan) == expected


def test_connected_components_chain_and_islands(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.functions.dedupe import (
        connected_components,
    )

    # chain 1-2-3-4, island pair 10-11, triangle 20-21-22
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id_a", "id_b"],
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_chunk_documents_overlap_and_coverage(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.functions.text import (
        chunk_documents,
    )

    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc")], ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    # 100 tokens, step 30 -> ceil(90/30)=3 chunks: [0:40],[30:70],[60:100]
    assert [r.chunk_tokens_n for r in c1] == [40, 40, 40]
    assert c1[0].chunk_text.split()[30:] == c1[1].chunk_text.split()[:10]  # overlap
    assert c1[-1].chunk_text.split()[-1] == "w99"  # full coverage
    c2 = by_doc[2]
    assert len(c2) == 1 and c2[0].chunk_text == "short doc"


def test_pack_sequences_invariants(spark):
    """Greedy packing: every doc assigned exactly once; bin fill never
    exceeds the budget unless a single doc alone does; bins are contiguous
    per shard; deterministic across runs."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = packing.pack_sequences(docs, budget=128, shards=4).collect()
    assert len(out) == docs.count()
    fills = {}
    for r in out:
        fills.setdefault((r.shard, r.bin), []).append(r.n_tokens)
    for (shard, b), toks in fills.items():
        assert sum(toks) <= 128 or len(toks) == 1
    # contiguous bins per shard
    for shard in {r.shard for r in out}:
        bins = sorted({r.bin for r in out if r.shard == shard})
        assert bins == list(range(len(bins)))
    out2 = packing.pack_sequences(docs, budget=128, shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))


def test_stratified_sample_rates(spark):
    """Mixture rates hold approximately per stratum and exactly
    deterministically (same selection every run)."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rates = {"src0": 1.0, "src1": 0.4}
    out = packing.stratified_sample(docs, "source", rates, default_rate=0.0)
    got = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    n0 = docs.filter(F.col("source") == "src0").count()
    assert got.get("src0") == n0  # rate 1.0 keeps everything
    assert set(got) == {"src0", "src1"}  # default 0.0 drops the rest
    n1 = docs.filter(F.col("source") == "src1").count()
    assert 0.15 <= got["src1"] / n1 <= 0.7  # 25 docs/stratum: wide tolerance
    assert out.count() == packing.stratified_sample(
        docs, "source", rates, default_rate=0.0
    ).count()


def test_repetition_signals_known_values(spark):
    """Gopher repetition rules on constructed docs with exactly known
    fractions (Rae et al. 2021 §A1.1 analog)."""
    boiler = "spam line\nspam line\nspam line\nunique one"
    clean = "alpha beta\ngamma delta\nepsilon zeta"
    phrase = "buy now " * 10  # one dominant bigram, trailing space stripped
    rows = [(1, boiler), (2, clean), (3, phrase.strip())]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in text_fns.repetition_signals(df).collect()}

    # doc 1: 4 lines, 2 distinct -> excess dup fraction 2/4; chars in
    # duplicated lines = 3 * len("spam line") = 27 of 37 line chars
    assert out[1].dup_line_ppm == 500000
    assert out[1].dup_line_char_ppm == int((27 / 37) * 1_000_000)
    # doc 2: no duplicate lines, no repeated bigrams/5-grams
    assert out[2].dup_line_ppm == 0
    assert out[2].dup_line_char_ppm == 0
    assert out[2].dup_5gram_char_ppm == 0
    # doc 3: "buy now buy now ..." — top bigram "buy now" (7 chars) occurs
    # 10 times in 79 chars; all word-5-grams are duplicated -> capped metric
    n_chars = len(phrase.strip())
    assert out[3].top_bigram_char_ppm == int((10 * 7 / n_chars) * 1_000_000)
    assert out[3].dup_5gram_char_ppm > 900_000


def test_repetition_signals_single_map_stage(spark):
    """The operator must stay a within-row projection: no Exchange in the
    optimized plan (zero-shuffle at any corpus size)."""
    df = spark.createDataFrame([(1, "a b c\nd e f")], ["doc_id", "text"])
    plan = text_fns.repetition_signals(df)._jdf.queryExecution().optimizedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan


def test_tfidf_top_terms_plan_and_ranking(spark):
    """TF-IDF keywords: the rarest term wins per doc; the IDF join must be
    a broadcast (vocabulary-sized dim), never a shuffle of the corpus."""
    rows = [
        (1, "common common common rare"),
        (2, "common common other"),
        (3, "common unique unique"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = text_fns.tfidf_top_terms(df, k=2)
    top = {r.doc_id: r.term for r in out.filter(F.col("rank") == 1).collect()}
    # rational idf (N+1)/(df+1), N=3: 'common' (df 3) idf 1.0; singletons
    # idf 2.0. doc1: common 3*1=3 > rare 1*2=2. doc2: common 2*1=2 ties
    # other 1*2=2 -> term asc picks 'common'. doc3: unique 2*2=4 > common 1.
    assert top == {1: "common", 2: "common", 3: "unique"}
    # and the idf effect: doc3's rare repeated term outranks the corpus-wide
    # 'common' even though doc1's common has higher tf
    scores = {(r.doc_id, r.term): r.score_ppb for r in out.collect()}
    assert scores[(3, "unique")] == 4_000_000_000
    assert scores[(1, "common")] == 3_000_000_000
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_suppress_boilerplate_turns(spark):
    """Planted canned response in 3 conversations is dropped everywhere;
    unique turns survive; the corpus side takes a broadcast anti join."""
    canned = "I'm sorry, I can't help with that."
    rows = [
        ("c1", 0, canned), ("c1", 1, "unique a"),
        ("c2", 0, canned), ("c2", 1, "unique b"),
        ("c3", 0, canned),
        # same text twice in ONE conversation -> only 1 distinct conv, kept
        ("c4", 0, "repeated intra"), ("c4", 1, "repeated intra"),
    ]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx", "text"])
    out = dedupe.suppress_boilerplate_turns(df, min_groups=3)
    got = {(r.conv_id, r.turn_idx) for r in out.collect()}
    assert got == {("c1", 1), ("c2", 1), ("c4", 0), ("c4", 1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_fuzzy_exact_dedup_normalization(spark):
    """Case/punctuation/whitespace re-serializations collapse; genuinely
    different texts do not."""
    rows = [
        (1, "Hello, World!"),
        (2, "hello   world"),
        (3, "HELLO WORLD."),
        (4, "goodbye world"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.keeper_id: r.dup_count for r in dedupe.fuzzy_exact_dedup(df).collect()}
    assert out == {1: 3, 4: 1}


def test_dataset_split_deterministic_and_disjoint(spark):
    """Split assignment is a pure function of doc_id: stable across calls,
    partitions exhaustively, fractions near nominal, and changing the seed
    reshuffles membership."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    docs = spark.range(0, 4000).withColumnRenamed("id", "doc_id")
    a = {r.doc_id: r.split for r in packing.dataset_split(docs).collect()}
    b = {r.doc_id: r.split for r in packing.dataset_split(docs).collect()}
    assert a == b
    n = len(a)
    frac = {s: sum(1 for v in a.values() if v == s) / n for s in ("train", "val", "test")}
    assert 0.85 < frac["train"] < 0.95
    assert 0.03 < frac["val"] < 0.07 and 0.03 < frac["test"] < 0.07
    c = {r.doc_id: r.split for r in packing.dataset_split(docs, seed="other").collect()}
    moved = sum(1 for k in a if a[k] != c[k])
    assert moved > 100  # independent split under a different seed


def test_quantized_ann_recall_vs_float(spark):
    """int8 scalar quantization preserves brute-force top-k almost exactly
    (scales cancel in cosine; integer dot products)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {}
    for r in similarity.cosine_topk_bruteforce(emb, q, k=10).collect():
        exact.setdefault(r.query_id, set()).add(r.vec_id)
    qr = similarity.cosine_topk_quantized(emb, q, k=10).collect()
    hits = sum(1 for r in qr if r.vec_id in exact[r.query_id])
    assert hits / 30 >= 0.9
    # rank-1 is always the query itself (quantized self-cosine is maximal)
    r1 = {r.query_id: r.vec_id for r in qr if r.rank == 1}
    assert r1 == {0: 0, 1: 1, 2: 2}


def _py_repetition(text):
    """Independent plain-Python reference for repetition_signals (third
    implementation triangulating the Spark array program and the DuckDB
    relational twin)."""
    import math
    from collections import Counter

    n_chars = len(text)
    lines = text.split("\n")
    nl = len(lines)
    lc = Counter(lines)
    dup_line = math.floor(((nl - len(lc)) / nl) * 1_000_000) if nl else 0
    line_chars = sum(len(x) for x in lines)
    dupchars = sum(len(x) for x in lines if lc[x] > 1)
    dup_line_char = (
        math.floor((dupchars / line_chars) * 1_000_000) if line_chars else 0
    )
    words = [w for w in __import__("re").split(r"\s+", text) if w]
    bigrams = [" ".join(words[i : i + 2]) for i in range(len(words) - 1)]
    top = 0
    if bigrams and n_chars:
        cnt = Counter(bigrams)
        # tie-break: highest count, lexicographically smallest gram
        bestc = max(cnt.values())
        bestg = min(g for g, c in cnt.items() if c == bestc)
        top = math.floor(((bestc * len(bestg)) / n_chars) * 1_000_000)
    g5 = [" ".join(words[i : i + 5]) for i in range(len(words) - 4)]
    c5 = Counter(g5)
    d5 = sum(len(g) for g in g5 if c5[g] > 1)
    dup5 = math.floor(min(d5 / n_chars, 1.0) * 1_000_000) if n_chars else 0
    return dup_line, dup_line_char, top, dup5


def test_repetition_signals_vs_python_reference(spark):
    """Triangulation on pseudo-random dup-heavy docs: Spark == plain-Python
    reference for all four signals."""
    import random

    rng = random.Random(99)
    vocab = ["alpha", "beta", "gamma", "delta", "spam", "ham", "x1", "zz"]
    docs = []
    for i in range(24):
        lines = []
        for _ in range(rng.randint(1, 8)):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
            if rng.random() < 0.4 and lines:
                lines.append(rng.choice(lines))  # planted duplicate line
            else:
                lines.append(" ".join(words))
        docs.append((i, "\n".join(lines)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r.doc_id: (r.dup_line_ppm, r.dup_line_char_ppm,
                   r.top_bigram_char_ppm, r.dup_5gram_char_ppm)
        for r in text_fns.repetition_signals(df).collect()
    }
    for i, text in docs:
        assert got[i] == _py_repetition(text), (i, text)


def test_session_split_vs_python_reference(spark):
    """Triangulation for session_split: pseudo-random gap sequences vs a
    plain-Python gap splitter with the same >= gap half-open rule."""
    import random
    from datetime import datetime, timedelta

    rng = random.Random(7)
    rows = []
    expected = {}
    for c in range(8):
        t = datetime(2024, 5, 1) + timedelta(minutes=c)
        sessions = []
        cur = []
        for i in range(rng.randint(1, 30)):
            gap = rng.choice([60, 600, 3600, 7200, 86400])
            t = t + timedelta(seconds=gap)
            if cur and gap >= 3600:
                sessions.append(cur)
                cur = []
            cur.append((i, t))
            rows.append((f"c{c}", i, t))
        sessions.append(cur)
        for si, sess in enumerate(sessions):
            expected[(f"c{c}", si)] = (
                len(sess),
                int(sess[0][1].timestamp()),
                int(sess[-1][1].timestamp()),
            )
    from open_telemetry_opentelemetry_collector_contrib_spark.operators.recombine import (
        session_split,
    )

    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts timestamp")
    got = {
        (r.conv_id, r.session_idx): (r.n_turns, r.start_s, r.end_s)
        for r in session_split(df, gap_s=3600).collect()
    }
    assert got == expected


def test_minhash_incremental_matches_full_restriction(spark):
    """Metamorphic identity on the PRODUCTION hash path (crc32/xxhash):
    incremental(existing, incoming) == full-corpus pairs restricted to
    those touching the incoming side — including with the existing side
    supplied as a persisted signature table (text never re-read)."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import (
        dedupe as dd,
    )

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    existing = docs.filter(F.col("doc_id") % 5 != 0)
    incoming = docs.filter(F.col("doc_id") % 5 == 0)

    full = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_pairs(docs, n=3).collect()
    }
    expected = {p for p in full if p[0] % 5 == 0 or p[1] % 5 == 0}

    inc = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_incremental(existing, incoming, n=3).collect()
    }
    assert inc == expected

    # signature-reuse path: existing side as the stored signature table
    ex_sigs = dd.minhash_signatures(existing, n=3)
    inc2 = {
        (r.id_a, r.id_b)
        for r in dd.minhash_lsh_incremental(
            ex_sigs, incoming, n=3, existing_is_signatures=True
        ).collect()
    }
    assert inc2 == expected


@pytest.mark.parametrize("id_type", ["long", "int", "string"])
def test_semdedup_min_id_keep_rule(spark, id_type):
    """semdedup keeps the min-id member of every intra-cluster eps-group
    and never drops across clusters (functions/similarity.py semdedup),
    whatever the id type: "d1".."d7" sort as 1..7 do."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import (
        similarity,
    )

    dim = 4
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 0.01, 0.0, 0.0]),   # cluster 0, group A representative
        (2, [1.0, 0.02, 0.0, 0.0]),   # near-dup of 1 -> dropped
        (3, [0.9, 0.015, 0.0, 0.0]),  # near-dup of 1 (scale-invariant) -> dropped
        (4, [0.7, 0.7, 0.1, 0.0]),    # cluster boundary-ish, dissimilar: kept
        (5, [0.0, 1.0, 0.01, 0.0]),   # cluster 1 representative
        (6, [0.0, 1.0, 0.02, 0.0]),   # near-dup of 5 -> dropped
        (7, [0.0, 0.1, 1.0, 0.5]),    # cluster 1, dissimilar: kept
    ]
    key = (lambda i: f"d{i}") if id_type == "string" else (lambda i: i)
    df = spark.createDataFrame(
        [(key(i), v) for i, v in rows], f"vec_id {id_type}, embedding array<double>"
    )
    res = similarity.semdedup(df, centroids, eps_sq_num=98, eps_sq_den=100)
    assert res.schema["vec_id"].dataType == df.schema["vec_id"].dataType
    out = {r.vec_id: r for r in res.collect()}
    assert len(out) == len(rows)  # every doc gets a verdict
    kept = {i for i, r in out.items() if r.kept}
    assert kept == {key(i) for i in (1, 4, 5, 7)}
    # cluster assignment sanity: groups land where their centroid is
    assert out[key(1)].cluster == 0 and out[key(5)].cluster == 1
    # min-id rule: the smallest id of each eps-group is the one kept
    assert not out[key(2)].kept and not out[key(3)].kept and not out[key(6)].kept


def test_nearest_centroid_null_and_short_vectors(spark):
    """A null vector and a vector shorter than the centroids get a null
    cluster instead of failing the Arrow batch they share with good rows,
    which are assigned as before."""
    assign = similarity._nearest_centroid_udf([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    df = spark.createDataFrame(
        [(1, [0.9, 0.1, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [0.1, 0.8, 0.2])],
        "vec_id long, v array<double>",
    ).coalesce(1)  # one batch holds the bad rows and the good ones
    got = {
        r.vec_id: r.c
        for r in df.select("vec_id", assign(F.col("v")).alias("c")).collect()
    }
    assert got == {1: 0, 2: None, 3: None, 4: 1}


def test_semdedup_keeps_rows_without_cluster(spark):
    """Rows whose vector is null or ragged get no cluster, so they are never
    anyone's duplicate; the pair stage skips them instead of failing."""
    centroids = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 0.01, 0.0, 0.0]),
        (2, [1.0, 0.02, 0.0, 0.0]),  # near-dup of 1 -> dropped
        (3, None),
        (4, [0.0, 1.0]),
        (5, [0.0, 1.0, 0.01, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semdedup(df, centroids, eps_sq_num=98, eps_sq_den=100)
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, 0, True),
        (2, 0, False),
        (3, None, True),
        (4, None, True),
        (5, 1, True),
    ]


def test_repeated_ngram_spans_merge_and_cut_list(spark):
    """repeated_ngram_spans marks exactly the cross-doc duplicated token
    runs and merges overlapping n-gram hits into maximal spans."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import (
        dedupe as dd,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 shared tokens
    rows = [
        (1, f"one two three {shared} four five"),
        (2, f"x y {shared} z"),
        (3, "totally unique words nothing here repeats at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id): (r.span_start, r.span_end, r.n_grams)
        for r in dd.repeated_ngram_spans(df, n=5, min_docs=2).collect()
    }
    # doc 1: shared run occupies tokens 4..9 -> two 5-gram hits at pos 4,5
    # merged into [4, 10); doc 2: tokens 3..8 -> [3, 9)
    assert out[1] == (4, 10, 2)
    assert out[2] == (3, 9, 2)
    assert 3 not in out  # no cross-doc repeats


# ---------------------------------------------------------------------------
# C4 line cleaning + CCNet paragraph dedup (hand-computed corpora)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def page_lines(spark):
    rows = [
        # page 1: clean page, 3 kept lines + 1 dropped (no terminal punct)
        (1, 0, "the quick brown fox runs."),
        (1, 1, "a lazy dog sleeps here!"),
        (1, 2, "what a fine day?"),
        (1, 3, "no terminal punctuation here"),
        # page 2: poisoned by a curly brace -> whole page dropped
        (2, 0, "function f() { return 1; }."),
        (2, 1, "a perfectly fine sentence."),
        (2, 2, "another good one."),
        (2, 3, "and a third keeper."),
        # page 3: too few survivors (short line, javascript line)
        (3, 0, "ok."),
        (3, 1, "enable JavaScript to view this page."),
        (3, 2, "one good sentence survives here."),
    ]
    return spark.createDataFrame(rows, ["page_id", "line_idx", "line"])


def test_c4_line_clean_rules(page_lines):
    out = {
        r.page_id: r
        for r in text_fns.c4_line_clean(page_lines).collect()
    }
    assert out[1].n_lines == 4 and out[1].n_kept == 3 and out[1].page_keep
    assert out[1].cleaned_md5 is not None
    # poison page: lines may individually pass but the page dies
    assert out[2].page_keep is False and out[2].cleaned_md5 is None
    # "ok." fails min_words, the javascript line dies, 1 survivor < 3
    assert out[3].n_kept == 1 and out[3].page_keep is False


def test_paragraph_dedup_first_occurrence(spark):
    rows = [
        (1, 0, "shared navigation header"),
        (1, 1, "unique body one"),
        (2, 0, "shared navigation header"),  # later page -> dropped
        (2, 1, "unique body two"),
        (2, 2, "shared navigation header"),  # same page repeat -> dropped
        (3, 0, "shared navigation header"),  # dropped
    ]
    df = spark.createDataFrame(rows, ["page_id", "line_idx", "line"])
    out = {r.page_id: r for r in dedupe.paragraph_dedup(df).collect()}
    assert out[1].n_kept == 2  # first occurrence kept
    assert out[2].n_kept == 1  # only the unique body survives
    assert out[3].n_kept == 0 and out[3].kept_md5 is None
    # kept_md5 hashes surviving lines in original order
    import hashlib
    exp = hashlib.md5(
        "shared navigation header\nunique body one".encode()
    ).hexdigest()
    assert out[1].kept_md5 == exp


def test_paragraph_dedup_order_is_page_then_idx(spark):
    # first occurrence = smallest (page, idx), not insertion order
    rows = [
        (9, 0, "dup para"),
        (2, 5, "dup para"),
        (2, 1, "dup para"),
    ]
    df = spark.createDataFrame(rows, ["page_id", "line_idx", "line"])
    out = {(r.page_id): r for r in dedupe.paragraph_dedup(df).collect()}
    assert out[2].n_kept == 1 and out[9].n_kept == 0


def test_winnowing_guarantee_and_values(spark):
    # Winnowing guarantee: substring matches of length >= w + n - 1
    # (= 11 chars with n=8, w=4) share at least one fingerprint.
    shared = "the copied passage lives here"
    rows = [
        (1, "prefix one " + shared + " suffix alpha"),
        (2, "different lead-in " + shared + " and another tail"),
        (3, "nothing in common with the others at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id",
        F.explode(
            text_fns.winnow_fingerprints(F.col("text"), base_hash="md5_48")
        ).alias("fp"),
    )
    fps = {}
    for r in out.collect():
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert fps[1] & fps[2]  # shared passage -> shared fingerprint
    # doc 3 overlap with 1 or 2 should be far smaller than the 1-2 overlap
    assert len(fps[1] & fps[2]) > len(fps[1] & fps[3])
    # selected values are window minima of the gram-hash sequence
    import hashlib

    def md5_48(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    text = rows[0][1]
    hs = [md5_48(text[i : i + 8]) for i in range(len(text) - 7)]
    expect = sorted({min(hs[i : i + 4]) for i in range(len(hs) - 3)})
    assert sorted(fps[1]) == expect


def test_winnow_short_doc_degrades_to_global_min(spark):
    df = spark.createDataFrame([(1, "tiny doc")], ["doc_id", "text"])  # 8 chars, 1 gram
    out = df.select(
        text_fns.winnow_fingerprints(F.col("text"), base_hash="md5_48").alias("fps")
    ).collect()
    import hashlib

    exp = int(hashlib.md5(b"tiny doc").hexdigest()[:12], 16)
    assert out[0].fps == [exp]


def test_ccnet_buckets_terciles_and_none(spark):
    # 9 'en' docs engineered to produce a clean score order: docs built
    # from the training distribution score high; alien-token docs score
    # the OOV floor. One 1-token doc has no bigram evidence -> 'none'.
    common = "alpha beta alpha beta alpha beta"
    rows = [(i, common, "en") for i in range(1, 4)]  # pure in-dist -> head
    rows += [(i, common + " gamma delta", "en") for i in range(4, 7)]  # mixed
    rows += [(i, "zz qq vv ww xx yy", "en") for i in range(7, 10)]  # alien
    rows += [(10, "solo", "en")]  # 1 token -> no bigrams -> 'none'
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in text_fns.ccnet_buckets(df).collect()}
    assert out[10].bucket == "none" and out[10].score_ppb is None
    assert all(out[i].bucket == "head" for i in (1, 2, 3))
    assert all(out[i].bucket == "middle" for i in (4, 5, 6))
    assert all(out[i].bucket == "tail" for i in (7, 8, 9))
    # thresholds are per-language: a lone other-lang doc is its own
    # tercile boundary (cum=1 >= ceil(1/3)=1 -> its score is t_tail)
    df2 = df.union(spark.createDataFrame([(11, "uno dos tres", "es")], df.columns))
    out2 = {r.doc_id: r for r in text_fns.ccnet_buckets(df2).collect()}
    assert out2[11].bucket == "tail"
    assert {i: out2[i].bucket for i in range(1, 10)} == {
        i: out[i].bucket for i in range(1, 10)
    }


def test_unimax_waterfilling_saturates_small_langs(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    # en: 4 docs x 10 tokens = 40; xx: 1 doc x 10; yy: 1 doc x 10.
    # budget = 1.5 * 60 = 90; caps = (80, 20, 20). Waterfilling sorted by
    # cap: xx cap 20 <= (90 - 0)/3 -> sat; yy cap 20 <= (90-20)/2 -> sat;
    # en: 80 > 90-40 -> uncapped, alloc = 50.
    ten = " ".join(["w%d" % i for i in range(10)])
    rows = [(i, ten, "en") for i in range(1, 5)]
    rows += [(5, ten, "xx"), (6, ten, "yy")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {r.doc_id: r for r in packing.unimax_mix(df).collect()}
    assert out[5].alloc_tokens == 20 and out[5].repeat_cnt == 2
    assert out[6].alloc_tokens == 20 and out[6].repeat_cnt == 2
    assert out[1].alloc_tokens == 50
    # en: 1 full epoch (40) + 10-token fractional epoch -> each doc
    # repeats 1 or 2 times; total expected extra = hash-selected subset
    reps = sorted(out[i].repeat_cnt for i in range(1, 5))
    assert reps[0] >= 1 and reps[-1] <= 2


def test_unimax_all_langs_saturate_when_budget_exceeds_caps(spark):
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    ten = " ".join(["w%d" % i for i in range(10)])
    df = spark.createDataFrame(
        [(1, ten, "aa"), (2, ten, "bb")], ["doc_id", "text", "lang"]
    )
    # budget = 5x total = 100 > sum caps (40): everyone saturates at the
    # 2-epoch cap, remainder intentionally unspent (the paper's contract)
    out = packing.unimax_mix(df, budget_num=5, budget_den=1).collect()
    assert all(r.alloc_tokens == 20 and r.repeat_cnt == 2 for r in out)


def test_unimax_zero_token_language_does_not_abort(spark):
    """A language whose docs are ALL zero-token (empty/whitespace text) has
    n_tok = 0; under ANSI mode the unguarded ``alloc_tokens DIV n_tok``
    used to raise DIVIDE_BY_ZERO and abort the job (r6 guard). Zero-token
    docs get full_epochs = 0; normal languages are unaffected."""
    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    ten = " ".join(["w%d" % i for i in range(10)])
    df = spark.createDataFrame(
        [(1, ten, "en"), (2, ten, "en"), (3, "   ", "zz"), (4, "", "zz")],
        ["doc_id", "text", "lang"],
    )
    out = {r.doc_id: r for r in packing.unimax_mix(df).collect()}
    assert out[3].doc_tokens == 0 and out[4].doc_tokens == 0
    # en rows still allocate normally
    assert out[1].alloc_tokens > 0 and out[1].repeat_cnt >= 1


def test_bpe_pair_counts_first_merge(spark):
    # 'aaab' x3 + 'ab' x1: pairs per 'aaab' = (a a),(a a),(a b),(b </w>);
    # per 'ab' = (a b),(b </w>). Weighted: (a a)=6, (a b)=4, (b </w>)=4.
    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "aaab ab")], ["doc_id", "text"]
    )
    rows = text_fns.bpe_pair_counts(df, top_k=3).collect()
    assert (rows[0].pair, rows[0].cnt) == ("a a", 6)
    # tie between 'a b' and 'b </w>' broken by pair asc
    assert [(r.pair, r.cnt) for r in rows[1:]] == [("a b", 4), ("b </w>", 4)]


def test_unimax_invariants_random_corpora(spark):
    """Property check over randomized corpora: every language's allocation
    respects its epoch cap, saturated languages sit exactly at the cap,
    unallocated budget only exists when everyone saturated, and repeat
    counts never exceed epochs_cap (hash extras included)."""
    import random

    from open_telemetry_opentelemetry_collector_contrib_spark.functions import packing

    rng = random.Random(1234)
    for trial in range(3):
        rows = []
        did = 0
        for li in range(rng.randint(2, 6)):
            lang = f"l{li}"
            for _ in range(rng.randint(1, 8)):
                did += 1
                rows.append(
                    (did, " ".join("w%d" % i for i in range(rng.randint(1, 30))), lang)
                )
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        num, den = rng.choice([(1, 2), (3, 2), (2, 1), (5, 1)])
        out = packing.unimax_mix(df, budget_num=num, budget_den=den).collect()
        by_lang = {}
        for r in out:
            by_lang.setdefault(r.lang, []).append(r)
        tot = sum(r.doc_tokens for r in out)
        budget = tot * num // den
        alloc_sum = 0
        for lang, rs in by_lang.items():
            n_tok = sum(r.doc_tokens for r in rs)
            alloc = rs[0].alloc_tokens
            assert all(r.alloc_tokens == alloc for r in rs)
            assert 0 <= alloc <= 2 * n_tok  # never above the epoch cap
            assert all(0 <= r.repeat_cnt <= 2 for r in rs)
            # full epochs consistent with alloc
            assert all(r.repeat_cnt >= alloc // n_tok for r in rs)
            alloc_sum += alloc
        # total allocation never exceeds the budget; it only undershoots
        # by more than the integer-division slack when every lang is capped
        assert alloc_sum <= budget
        n_langs = len(by_lang)
        all_capped = all(
            rs[0].alloc_tokens == 2 * sum(r.doc_tokens for r in rs)
            for rs in by_lang.values()
        )
        if not all_capped:
            assert budget - alloc_sum < n_langs  # only DIV remainder left


def test_winnow_guarantee_random_substring_shares(spark):
    """Winnowing guarantee on randomized docs: a shared substring of
    length >= w + n - 1 (= 11) always yields a shared fingerprint."""
    import random

    rng = random.Random(99)
    alpha = "abcdefghij "
    rows = []
    for i in range(1, 9):
        shared = "".join(rng.choice(alpha) for _ in range(rng.randint(11, 25)))
        a = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30))) + shared
        b = shared + "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        rows.append((2 * i, a))
        rows.append((2 * i + 1, b))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        "doc_id",
        F.explode(
            text_fns.winnow_fingerprints(F.col("text"), base_hash="md5_48")
        ).alias("fp"),
    ).collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    for i in range(1, 9):
        assert fps[2 * i] & fps[2 * i + 1], f"pair {i} shares no fingerprint"
