"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k as the exact baseline; hyperplane-LSH bucketing as
the sub-quadratic scale path. Dot products stay JVM-side via zip_with +
aggregate (no Python per row); embeddings are cast to double so results are
bit-identical across engines for oracle checking.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import materialize


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _nearest_centroid_udf(centroids: list[list[float]]):
    """Arrow-batched argmin-over-centroids assignment, bit-identical to the
    Catalyst fold it replaces (r6). The JVM expression was, per row and per
    centroid, an interpreted zip_with + left-fold aggregate of (x-c)^2 —
    ~rows * k * dim lambda dispatches. The numpy version accumulates the
    squared differences dimension-by-dimension across the whole batch
    (``acc = acc + t*t`` in dim order), which reproduces the fold's
    left-to-right double-addition association EXACTLY — same IEEE result,
    so the argmin (first-minimum = lowest cluster id, the array_sort
    (d, c) tie-break) picks the same cluster, and the DuckDB oracle's
    list_sum stays bit-matched. Vectorized across the batch instead of
    interpreted per element."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids, dtype=np.float64)
    dim = cents.shape[1]

    # no type hints: `from __future__ import annotations` stringifies them,
    # which pyspark's eval-type inference can't resolve — explicit SCALAR
    # form (same convention as dedupe.minhash_signatures' _sig_fn).
    # A null vector, a vector of the wrong length, or one with a null
    # element (Arrow hands it over as NaN) has no distance to any centroid:
    # its cluster is null, so it joins no cluster downstream. This is the one
    # place the UDF departs from the Catalyst fold, which sorted such a row
    # into cluster 0.
    def _assign(batch):
        ok = np.fromiter(
            (x is not None and len(x) == dim for x in batch), dtype=bool, count=len(batch)
        )
        good = [x for x, keep in zip(batch, ok) if keep]
        v = np.array(good, dtype=np.float64).reshape(-1, dim)
        whole = ~np.isnan(v).any(axis=1)
        ok[ok] = whole
        v = v[whole]
        dists = np.empty((v.shape[0], cents.shape[0]), dtype=np.float64)
        for ci in range(cents.shape[0]):
            acc = np.zeros(v.shape[0], dtype=np.float64)
            for j in range(dim):
                t = v[:, j] - cents[ci, j]
                acc = acc + t * t  # sequential: replicates the fold
            dists[:, ci] = acc
        cluster = np.zeros(len(batch), dtype=np.int32)
        cluster[ok] = np.argmin(dists, axis=1)
        return pd.Series(pd.arrays.IntegerArray(cluster, ~ok))

    return pandas_udf(_assign, "int")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k: broadcast the query set, score every corpus vector, rank.

    Scale: queries are the small side (broadcast — no shuffle of the corpus);
    the rank is a per-query window over scored rows, shuffled only by
    query_id (k * |queries| rows survive the partial top-k with AQE).
    Output: (query_id, vec_id, rank, cos_ppb).
    """
    from pyspark.sql import Window

    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("__qv")
    )
    corpus = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    scored = corpus.join(F.broadcast(q)).withColumn(
        "__cos", cosine(F.col("__cv"), F.col("__qv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            F.floor(F.col("__cos") * 1_000_000_000).cast("bigint").alias("cos_ppb"),
        )
    )


def _hyperplanes(dim: int, num_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (no external data)."""
    import math
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from hyperplane projections."""
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        proj = dot(vec, F.array(*[F.lit(x) for x in p]))
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        )
    return bucket


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 7,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors sharing the query's
    hyperplane-sign bucket (IVF/LSH-style candidate pruning).

    Scale: candidate set shrinks ~2^-num_planes per bucket; the corpus gets
    one narrow bucket column and the join is bucket-equi (hash-partitioned,
    prunable). Recall trades off with num_planes — the exact twin above is
    the correctness oracle.
    """
    from pyspark.sql import Window

    planes = _hyperplanes(dim, num_planes, seed)
    corpus = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__cv")
    ).withColumn("__bucket", lsh_bucket(F.col("__cv"), planes))
    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("__qv")
    ).withColumn("__bucket", lsh_bucket(F.col("__qv"), planes))
    scored = corpus.join(F.broadcast(q), "__bucket").withColumn(
        "__cos", cosine(F.col("__cv"), F.col("__qv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            F.floor(F.col("__cos") * 1_000_000_000).cast("bigint").alias("cos_ppb"),
        )
    )


def cosine_topk_ivf(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_clusters: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 13,
    fit_max: int = 4096,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-style ANN: KMeans coarse quantizer partitions the corpus; each
    query searches only its ``nprobe`` nearest centroids' inverted lists.
    Pass ``centroids`` to inject a precomputed coarse quantizer (e.g.
    deterministic seed vectors) and skip the KMeans fit entirely — the
    probe/assign/rank machinery is identical, and with a deterministic
    quantizer the PRUNED search becomes exactly reproducible in SQL (the
    ``ann_ivf_recall`` oracle relies on this).

    Scale: the quantizer is fit on a deterministic SAMPLE of at most
    ~``fit_max`` vectors (quantizer quality needs thousands of vectors,
    not the full corpus — at 100 TB a full-corpus fit would be one multi-pass
    scan per KMeans iteration), then assignment is a single map-side pass
    over the corpus. Stored partitioned by cluster id, a query touches
    nprobe/num_clusters of the data and the cluster column enables partition
    pruning. Recall trades with nprobe; `cosine_topk_bruteforce` is the exact
    oracle, and probing ALL clusters reproduces it exactly (the metamorphic
    oracle `ann_ivf_fullprobe` uses that identity).
    """
    from pyspark.sql import Window

    def _dist2(vec: Column, center: list[float]) -> Column:
        carr = F.array(*[F.lit(float(x)) for x in center])
        diff = F.zip_with(vec, carr, lambda a, b: (a - b) * (a - b))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    corpus = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__cv"))
    if centroids is None:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        fit_corpus = corpus.withColumn("__features", array_to_vector(F.col("__cv")))
        # deterministic fit sample with NO corpus-wide action: orderBy(hash)
        # + limit compiles to TakeOrderedAndProject — a map-side
        # per-partition top-fit_max then one driver merge, one pass over the
        # corpus regardless of size (and no count() job, so non-parquet
        # sources pay nothing extra). When the corpus is smaller than
        # fit_max it keeps everything. KMeans caches its own input rows when
        # handed an uncached frame, so each iteration re-reads the sample,
        # not the corpus.
        fit_df = fit_corpus.orderBy(F.xxhash64(F.col(id_col), F.lit(seed))).limit(fit_max)
        model = KMeans(k=num_clusters, seed=seed, featuresCol="__features").fit(fit_df)
        centroids = [list(c) for c in model.clusterCenters()]
    # assignment is one map-side pass: argmin over the (small) centroid
    # table — same shape for fitted and injected quantizers, no MLlib on
    # the scoring path. Arrow-batched numpy argmin (r6), bit-identical to
    # the old Catalyst fold — see _nearest_centroid_udf.
    assigned = corpus.withColumn(
        "__cluster", _nearest_centroid_udf(centroids)(F.col("__cv"))
    )

    q = queries.select(
        F.col(query_id_col), _as_double(F.col(vec_col)).alias("__qv")
    )
    # nprobe nearest centroids per query (small: centroids are driver-side)
    dists = F.array(
        *[
            F.struct(_dist2(F.col("__qv"), c).alias("d"), F.lit(i).alias("c"))
            for i, c in enumerate(centroids)
        ]
    )
    probes = F.slice(F.array_sort(dists), 1, nprobe)
    q_probed = q.withColumn(
        "__cluster", F.explode(F.transform(probes, lambda s: s["c"]))
    )

    scored = assigned.join(F.broadcast(q_probed), "__cluster").withColumn(
        "__cos", cosine(F.col("__cv"), F.col("__qv"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            F.floor(F.col("__cos") * 1_000_000_000).cast("bigint").alias("cos_ppb"),
        )
    )


def quantize_vec(v: Column) -> Column:
    """Deterministic int8 scalar quantization: q_i = floor(x_i * 127 / m)
    with m = max|x_i| per vector. floor (not round) on purpose — floor is
    bit-identical across engines while round-half rules differ; the
    quantizer's definition is ours to pick, reproducibility wins.

    Cosine over quantized vectors needs NO dequantization: the per-vector
    scales cancel (cos(q_a*s_a, q_b*s_b) = Σq_a q_b / (|q_a||q_b|)), so
    similarity search runs on integer dot products — the memory-bandwidth
    form you want when the corpus no longer fits hot storage as float32.
    Zero vectors quantize to zeros."""
    # bind the per-vector max so it isn't re-evaluated per element
    # (HOF lambdas have no CSE; a naive reference recomputes max dim times)
    bound = F.transform(
        F.array(
            F.struct(
                v.alias("v"),
                F.array_max(F.transform(v, lambda x: F.abs(x))).alias("m"),
            )
        ),
        lambda s: F.when(
            s["m"] > 0,
            F.transform(s["v"], lambda x: F.floor(x * 127.0 / s["m"]).cast("long")),
        ).otherwise(F.transform(s["v"], lambda x: F.lit(0).cast("long"))),
    )
    return bound[0]


def cosine_topk_quantized(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Brute-force top-k over int8-quantized vectors: integer dot products
    and integer squared norms (exact in both engines — no float-sum order
    sensitivity at all), one double division + sqrt at the end. Same plan
    shape as the float brute force (broadcast queries, per-query window
    top-k); at scale the quantized corpus is ~4x smaller on disk and in
    shuffle. Output: (query_id, vec_id, rank, qcos_ppb)."""
    from pyspark.sql import Window

    corpus = embeddings.select(
        F.col(id_col), quantize_vec(_as_double(F.col(vec_col))).alias("__cq")
    )
    q = queries.select(
        F.col(query_id_col), quantize_vec(_as_double(F.col(vec_col))).alias("__qq")
    )

    def idot(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scored = corpus.join(F.broadcast(q)).withColumn(
        "__cos",
        idot(F.col("__cq"), F.col("__qq")).cast("double")
        / F.sqrt((idot(F.col("__cq"), F.col("__cq"))
                  * idot(F.col("__qq"), F.col("__qq"))).cast("double")),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("__cos").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            "rank",
            F.floor(F.col("__cos") * 1_000_000_000).cast("bigint").alias("qcos_ppb"),
        )
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    num_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucket self-join.

    Only pairs sharing a sign bucket are scored (near-identical vectors
    almost always share all sign bits), then filtered by exact cosine.

    Scale: buckets larger than ``max_bucket_size`` are skipped entirely
    (same hot-bucket cap as the MinHash-LSH path, dedupe.py) — a degenerate
    bucket (zero/templated embeddings all hashing identically) would
    otherwise go quadratic. The skipped mass is exactly the pathological
    duplicate clusters a dedup pipeline handles via exact-hash dedup first.
    """
    planes = _hyperplanes(dim, num_planes, seed)
    base = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__bucket", lsh_bucket(F.col("__v"), planes))
    # hot-bucket cap as one window count; materialize the filtered frame so
    # the (interpreted HOF) bucket fold runs once and both join sides read it
    from pyspark.sql import Window

    wsz = Window.partitionBy("__bucket")
    base = materialize(
        base.withColumn("__sz", F.count(F.lit(1)).over(wsz))
        .filter(F.col("__sz") <= max_bucket_size)
        .drop("__sz")
    )
    a = base.select(F.col(id_col).alias("id_a"), F.col("__v").alias("va"), "__bucket")
    b = base.select(F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), "__bucket")
    pairs = a.join(b, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        pairs.withColumn("cos_ppb", F.floor(cos * 1_000_000_000).cast("bigint"))
        .filter(cos >= threshold)
        .select("id_a", "id_b", "cos_ppb")
        .distinct()
    )


def semdedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    eps_sq_num: int = 7225,
    eps_sq_den: int = 10000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster_size: int = 100_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by k-means clustering + intra-cluster pairwise cosine
    thresholding. A document is DROPPED when its cluster contains an
    eps-similar document with a smaller id (min-id representative — the
    paper keeps the member farthest from the centroid; min-id is our
    deterministic, engine-portable tie-break for the same dedup-ratio
    semantics, documented divergence).

    Exactness: similarity runs on int8-quantized vectors (quantize_vec —
    per-vector scales cancel in cosine), and the threshold test
    ``cos >= eps`` is evaluated as the INTEGER cross-multiplication
    ``dot > 0 AND eps_den * dot^2 >= eps_num * |a|^2 * |b|^2`` with
    eps^2 = eps_sq_num/eps_sq_den rational — no float division, no sqrt,
    so a pair can never straddle the threshold differently in Spark and
    DuckDB. (64 dims x 127^2 keeps every product under 2^54.)

    Scale: assignment is one map-side argmin over the literal centroid
    table. The intra-cluster self-join is quadratic per cluster — the
    paper runs k ~ O(corpus/target_cluster_size) (110k clusters for
    LAION) precisely so clusters stay small; the parallelism of the pair
    stage IS the cluster count, so k is the knob. Clusters above
    ``max_cluster_size`` are skipped wholesale (hot-bucket cap, same
    policy as embedding_near_dup_pairs): a degenerate centroid attracting
    a quadratic blob is exactly what exact-hash dedup upstream removes.

    Output: (id_col, cluster, kept) for every input document.
    """
    corpus = embeddings.select(
        F.col(id_col), _as_double(F.col(vec_col)).alias("__v")
    )

    # materialized once: feeds the pair stage AND the final kept-join
    # (localCheckpoint, not persist — see tables.materialize); rows are
    # (id, cluster, int8-quantized vec), tiny relative to the corpus.
    # Assignment is the shared Arrow-batched argmin (bit-identical to the
    # Catalyst fold — _nearest_centroid_udf).
    assigned = materialize(
        corpus.withColumn(
            "__cluster", _nearest_centroid_udf(centroids)(F.col("__v"))
        )
        .withColumn("__q", quantize_vec(F.col("__v")))
        .drop("__v")
    )

    # r6 pair stage: one Arrow-batched applyInPandas per cluster computing
    # the integer Gram matrix with numpy int64 matmul — EXACT, the same
    # integers the old per-pair interpreted zip_with/aggregate fold
    # produced (dots <= 64*127^2 < 2^20; den*dot^2 < 2^54; num*|a|^2*|b|^2
    # < 2^53 — all inside int64), at vectorized-native speed instead of
    # ~80M interpreted lambda steps (3.7 s -> sub-second at sf0.1). The
    # size cap moves inside the same pass (a group larger than
    # ``max_cluster_size`` is skipped wholesale, exactly the old window
    # filter), removing the raw-row count window and its extra shuffle.
    # Parallelism of this stage is the cluster count, as before; the Gram
    # matrix is computed in row blocks (~2^24 int64 cells) so per-task
    # memory stays bounded even at the cap.
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    num, den = int(eps_sq_num), int(eps_sq_den)
    cap = int(max_cluster_size)
    # ids keep their own type (long, int, string): numpy orders them as
    # Spark and DuckDB compare them, so min-id means the same everywhere
    out_schema = T.StructType(
        [T.StructField(id_col, corpus.schema[id_col].dataType)]
    )

    def _dropped_in_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        k = len(pdf)
        if k < 2 or k > cap:
            return pdf[[id_col]].iloc[:0]
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.array(pdf["__q"].tolist(), dtype=np.int64)[order]
        norms = (m * m).sum(axis=1)
        dropped = np.zeros(k, dtype=bool)
        blk = max(1, (1 << 24) // k)
        jidx = np.arange(k)[None, :]
        for s in range(0, k, blk):
            e = min(s + blk, k)
            g = m[s:e] @ m.T
            c = (g > 0) & (den * g * g >= num * norms[s:e, None] * norms[None, :])
            c &= np.arange(s, e)[:, None] < jidx
            dropped |= c.any(axis=0)
        return pd.DataFrame({id_col: ids[dropped]})

    # a row without a cluster (null or ragged vector) is never a duplicate
    dropped = (
        assigned.select(id_col, "__q", "__cluster")
        .filter(F.col("__cluster").isNotNull())
        .groupBy("__cluster")
        .applyInPandas(_dropped_in_cluster, out_schema)
    )
    return (
        assigned.join(
            dropped.withColumn("__d", F.lit(1)), id_col, "left"
        )
        .select(
            id_col,
            F.col("__cluster").cast("bigint").alias("cluster"),
            F.col("__d").isNull().alias("kept"),
        )
    )
