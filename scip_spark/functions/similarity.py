"""Embedding similarity search (ANN) over ``array<float>`` columns.

Baseline: brute-force cosine top-k — a broadcast-joined cross product
with the dot product evaluated as codegen'd array algebra
(``zip_with`` + ``aggregate``), no Python in the loop.

Scale path: sign-random-projection LSH (Charikar hyperplane hashing)
with ±1 hyperplane weights derived deterministically from md5, so
bucket assignment is reproducible across engines and runs. At 100 TB
the bucketed join replaces the N×M cross product: both sides shuffle
on the bucket id only, and AQE handles hot buckets.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

N_PLANES = 8  # LSH bucket bits


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum (bit-reproducible, same as the oracle's
    list_reduce)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def dot(a: Column, b: Column) -> Column:
    return _fold_sum(F.zip_with(a, b, lambda x, y: x * y))


def l2_norm(a: Column) -> Column:
    return F.sqrt(_fold_sum(F.transform(a, lambda x: x * x)))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def plane_weights(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane weights: sign of a bit of
    md5('plane|dim'). Reproducible anywhere md5 exists."""
    planes = []
    for j in range(n_planes):
        w = []
        for d in range(dim):
            h = hashlib.md5(f"{j}|{d}".encode()).hexdigest()
            w.append(1.0 if int(h[:4], 16) & 1 else -1.0)
        planes.append(w)
    return planes


def lsh_bucket(emb: Column, n_planes: int = N_PLANES, dim: int = 64) -> Column:
    """Sign-projection bucket id in [0, 2**n_planes)."""
    planes = plane_weights(n_planes, dim)
    bucket = F.lit(0).cast("long")
    for j, w in enumerate(planes):
        warr = F.array(*[F.lit(x) for x in w])
        proj = _fold_sum(F.zip_with(emb, warr, lambda x, y: x * y))
        bucket = bucket + F.when(proj > 0, F.lit(2**j)).otherwise(F.lit(0)).cast("long")
    return bucket


def band_buckets(
    emb: Column, n_bands: int = 4, band_bits: int = 4, dim: int = 64
) -> Column:
    """Banded sign-projection buckets: an array of (band, bucket)
    structs, one per band. Banding trades precision for recall the
    standard LSH way — two vectors collide if ANY band's ``band_bits``
    sign bits all agree, so recall at a given cosine is
    1-(1-p^bits)^bands instead of p^bits for one wide bucket."""
    planes = plane_weights(n_bands * band_bits, dim)
    entries = []
    for b in range(n_bands):
        bucket = F.lit(0).cast("long")
        for i in range(band_bits):
            w = planes[b * band_bits + i]
            warr = F.array(*[F.lit(x) for x in w])
            proj = _fold_sum(F.zip_with(emb, warr, lambda x, y: x * y))
            bucket = bucket + (
                F.when(proj > 0, F.lit(2**i)).otherwise(F.lit(0)).cast("long")
            )
        entries.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return F.array(*entries)


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.35,
    n_bands: int = 4,
    band_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    verify: str = "exact",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: banded-LSH candidate
    generation + exact cosine verification — the embedding-space twin
    of MinHash+LSH text dedup (functions/dedup.py).

    Scale shape: each side shuffles on the (band, bucket) key only; the
    candidate join is a plain equi-join (AQE can split hot buckets,
    unlike a collect_list group), and the exact-verify filter runs
    before the pair-dedup shuffle so only (id, id, sim) triples — not
    embeddings — reach the final groupBy. Identical vectors agree in
    every band, so true duplicates are found with probability 1.

    ``verify`` picks the pair-scoring kernel: ``"exact"`` is the
    sequential JVM fold (bit-identical to the DuckDB oracle's
    list_reduce — the correctness-gate path); ``"fast"`` scores each
    Arrow batch of pairs with one numpy einsum (~50x less CPU — the
    kernel for real corpora, where summation order may differ from the
    fold in the last ulp; agreement asserted in tests)."""
    scored = _scored_candidates(df, n_bands, band_bits, dim, id_col, emb_col, verify)
    # threshold filter BEFORE the pair-dedup shuffle: only survivors'
    # (id, id, sim) triples move. A pair can collide in several bands;
    # sims are identical so max() is just dedup.
    return (
        scored.filter(F.col("sim") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("sim").alias("sim"))
    )


def embedding_candidate_pairs(
    df: DataFrame,
    n_bands: int = 8,
    band_bits: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    verify: str = "exact",
) -> DataFrame:
    """EVERY banded-LSH candidate pair with its exact cosine and the
    minimum colliding band — the one relation the whole embedding
    family (near-dup report, SemDeDup keep, mutual k-NN, graph-ANN
    build) derives from, so a session computes the expensive candidate
    join ONCE instead of once per operator (VERDICT r14 #2).

    The derivations are exact, not approximate, because
    :func:`plane_weights` is prefix-stable (plane j depends only on j):
    bands ``0..k-1`` of an ``n_bands``-band relation use the identical
    hyperplanes as a standalone ``k``-band run, so
    ``filter(min_band < k)`` reproduces the k-band candidate set
    bit-for-bit, and sims come from the same sequential fold the
    oracles replicate. Scale shape: identical to
    :func:`embedding_near_dup` (bucket equi-join, (id, id, sim, band)
    tuples past the verify); the output is candidate-bounded, far
    smaller than the corpus' embeddings, so persisting it is cheap."""
    scored = _scored_candidates(df, n_bands, band_bits, dim, id_col, emb_col, verify)
    return scored.groupBy("id_a", "id_b").agg(
        F.max("sim").alias("sim"), F.min("band").alias("min_band")
    )


def _scored_candidates(
    df: DataFrame,
    n_bands: int,
    band_bits: int,
    dim: int,
    id_col: str,
    emb_col: str,
    verify: str,
) -> DataFrame:
    """(id_a, id_b, sim, band) for every banded-LSH bucket collision —
    the shared candidate-generation core of embedding_near_dup and
    embedding_candidate_pairs."""
    v = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).cast("array<double>").alias("emb"),
    )
    # a small parquet is one scan split, which would serialize the
    # whole O(candidates x dim) verify into one task; no-op when the
    # input already carries enough partitions (the 100 TB case)
    from scip_spark.functions.scale import ensure_parallelism

    v = ensure_parallelism(v)
    # per-row norm computed ONCE before the join — the naive
    # cosine(emb_a, emb_b) inside the join condition would re-fold both
    # norms for every candidate pair (3 O(dim) folds/pair instead of 1)
    keyed = v.select(
        "id",
        "emb",
        l2_norm(F.col("emb")).alias("norm"),
        F.explode(band_buckets(F.col("emb"), n_bands, band_bits, dim)).alias("bb"),
    )
    a = keyed.select(
        F.col("bb"),
        F.col("id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = keyed.select(
        F.col("bb"),
        F.col("id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    if verify == "fast":

        @F.pandas_udf(T.DoubleType())
        def batch_dot(ea: pd.Series, eb: pd.Series) -> pd.Series:
            ma = np.asarray([np.asarray(x, dtype=np.float64) for x in ea])
            mb = np.asarray([np.asarray(x, dtype=np.float64) for x in eb])
            return pd.Series(np.einsum("ij,ij->i", ma, mb))

        sim = batch_dot(F.col("emb_a"), F.col("emb_b"))
    else:
        sim = dot(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, "bb")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (sim / (F.col("norm_a") * F.col("norm_b"))).alias("sim"),
            F.col("bb.band").alias("band"),
        )
    )


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (the small
    side); candidates stream — at scale this is one pass over the
    corpus with no shuffle until the per-query top-k aggregation."""
    from pyspark.sql.window import Window as W

    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(emb_col).cast("array<double>").alias("q_emb")
    )
    c = candidates.select(
        F.col(id_col).alias("c_id"), F.col(emb_col).cast("array<double>").alias("c_emb")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
    )


def ivf_assign(df: DataFrame, centroids, id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """IVF list assignment: nearest centroid by cosine, computed as one
    numpy matmul per Arrow batch (vectorized pandas UDF — no per-row
    Python). ``centroids`` is a (K, dim) ndarray broadcast to workers."""
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    bc = df.sparkSession.sparkContext.broadcast(cn)

    @F.pandas_udf(T.IntegerType())
    def assign(emb: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        return pd.Series(np.argmax(m @ bc.value.T, axis=1).astype(np.int32))

    return df.withColumn("ivf_list", assign(F.col(emb_col)))


def _seeded_sample_matrix(
    df: DataFrame, min_rows: int, emb_col: str = "embedding", who: str = "sample"
):
    """Deterministic training sample shared by ivf_centroids and
    pq_fit: seeded Bernoulli sample (count + per-partition sampling —
    no global sort), capped at 2048, sorted driver-side by vec_id.

    Determinism caveat (applies to every consumer): ``limit(2048)``
    truncates whichever sampled rows arrive first, so WHICH rows
    survive depends on the file/partition layout — stable for a fixed
    layout (rerun, retry), not across a re-layout of the table. The
    driver-side sort then fixes the ordering within the surviving set.
    If the seeded sample under-shoots ``min_rows``, retry with the
    full relation before giving up."""
    n = df.count()
    frac = min(1.0, (4 * 2048) / max(n, 1))
    base = df.select("vec_id", emb_col)
    rows = (
        base.sample(withReplacement=False, fraction=frac, seed=42)
        .limit(2048)
        .collect()
    )
    if len(rows) < min_rows:
        rows = base.limit(2048).collect()
    if len(rows) < min_rows:
        raise ValueError(f"{who}: need at least {min_rows} rows, got {len(rows)}")
    rows.sort(key=lambda r: r[0])
    return np.asarray([r[1] for r in rows], dtype=np.float64)


def ivf_centroids(df: DataFrame, k: int = 16, emb_col: str = "embedding", iters: int = 3):
    """Deterministic k-means-lite: a seeded Bernoulli sample of the
    corpus (NO global sort — a count + per-partition sampling, both
    embarrassingly parallel at 100 TB), sorted driver-side by vec_id for
    run-to-run stability, then a few Lloyd iterations driver-side.
    Centroids stay tiny (K×dim) either way.

    Determinism caveat: ``limit(2048)`` truncates whichever sampled
    rows arrive first, so WHICH rows survive depends on the file/
    partition layout — "deterministic" holds for a fixed layout (rerun,
    retry), not across a re-layout of the table. The driver-side sort
    then fixes the ordering within the surviving set. If the seeded
    sample under-shoots ``k`` rows, retry with the full relation before
    giving up."""
    sample = _seeded_sample_matrix(df, min_rows=k, emb_col=emb_col, who="ivf_centroids")
    cents = sample[:k].copy()
    for _ in range(iters):
        sn = sample / np.linalg.norm(sample, axis=1, keepdims=True)
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        assign = np.argmax(sn @ cn.T, axis=1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k probing the query's ``nprobe`` nearest IVF
    lists. The candidate side shuffles on ivf_list only; queries
    (exploded per probe) broadcast."""
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    bc = queries.sparkSession.sparkContext.broadcast(cn)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(emb: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ bc.value.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(emb_col).cast("array<double>").alias("q_emb"),
            probes(F.col(emb_col)).alias("probe_lists"),
        )
        .select("q_id", "q_emb", F.explode("probe_lists").alias("ivf_list"))
    )
    cands = ivf_assign(candidates, centroids, id_col, emb_col).select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).cast("array<double>").alias("c_emb"),
        "ivf_list",
    )
    scored = (
        cands.join(F.broadcast(q), "ivf_list")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("sim"))
        .groupBy("q_id", "c_id")
        .agg(F.max("sim").alias("sim"))  # dedupe multi-probe hits
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
    )


def lsh_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine within the bucket. Recall measured in
    tests against brute_force_topk."""
    from pyspark.sql.window import Window as W

    def with_bucket(df, ident, embout):
        return df.select(
            F.col(id_col).alias(ident),
            F.col(emb_col).cast("array<double>").alias(embout),
            lsh_bucket(F.col(emb_col).cast("array<double>"), dim=dim).alias("bucket"),
        )

    q = with_bucket(queries, "q_id", "q_emb")
    c = with_bucket(candidates, "c_id", "c_emb")
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
):
    """Full-corpus distributed k-means (cosine-assignment Lloyd).

    Seeds come from :func:`ivf_centroids` (seeded Bernoulli sample, no
    global sort); each iteration then runs over ALL rows:

    - assignment: broadcast the K×dim centroid matrix, one numpy matmul
      per Arrow batch (vectorized pandas UDF) returning (cluster, sim);
    - update: posexplode the embedding into (cluster, dim, value),
      groupBy(cluster, dim) partial-sum — the shuffle carries K×dim
      partials per partition, NOT rows — and collect the K×dim sums
      driver-side to rebuild centroids (tiny: k*dim doubles).

    Returns (centroids ndarray, assignments DataFrame(id, cluster,
    sim), inertia_history list). Inertia = sum(1 - cos_sim) — driver
    tracks it per round; Lloyd guarantees non-increase under the same
    metric modulo the mean-vs-cosine mismatch, which the test bounds.
    """
    cents = ivf_centroids(df, k=k, emb_col=emb_col)
    inertia_hist: list[float] = []
    assigned = None
    for _ in range(iters):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        bc = df.sparkSession.sparkContext.broadcast(cn)

        @F.pandas_udf(
            T.StructType(
                [
                    T.StructField("cluster", T.IntegerType()),
                    T.StructField("sim", T.DoubleType()),
                ]
            )
        )
        def assign(emb: pd.Series) -> pd.DataFrame:
            m = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
            m = m / np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ bc.value.T
            best = np.argmax(sims, axis=1)
            return pd.DataFrame(
                {
                    "cluster": best.astype(np.int32),
                    "sim": sims[np.arange(len(best)), best],
                }
            )

        assigned = df.select(
            F.col(id_col),
            F.col(emb_col).cast("array<double>").alias("e"),
            assign(F.col(emb_col)).alias("a"),
        ).select(
            id_col, "e", F.col("a.cluster").alias("cluster"), F.col("a.sim").alias("sim")
        )
        stats = (
            assigned.select(
                "cluster", "sim", F.posexplode("e").alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(
                F.sum("v").alias("s"),
                F.count("*").alias("n"),
                F.sum(F.lit(1.0) - F.col("sim")).alias("inertia_part"),
            )
            .collect()
        )
        new_cents = cents.copy()
        dim = cents.shape[1]
        counts = np.zeros(k)
        sums = np.zeros((k, dim))
        inertia = 0.0
        for r in stats:
            sums[r.cluster, r.dim] = r.s
            counts[r.cluster] = r.n
            if r.dim == 0:
                inertia += r.inertia_part
        for j in range(k):
            if counts[j]:
                new_cents[j] = sums[j] / counts[j]
        cents = new_cents
        inertia_hist.append(float(inertia))
    return cents, assigned.drop("e"), inertia_hist


def _shortlist_and_rerank(
    approx, queries, candidates, k, rerank, id_col="vec_id", emb_col="embedding"
):
    """Shared PQ-family tail: take the top ``rerank`` candidates per
    query by ``approx_sim`` (deterministic c_id tie-break), fetch raw
    vectors for the shortlist ONLY (one join on c_id — the scan stage
    never carries vectors), re-rank by exact cosine, keep top ``k``."""
    w = W.partitionBy("q_id").orderBy(F.desc("approx_sim"), F.asc("c_id"))
    shortlist = (
        approx.withColumn("arank", F.row_number().over(w))
        .filter(F.col("arank") <= rerank)
        .select("q_id", "c_id")
    )
    qemb = queries.select(
        F.col(id_col).alias("q_id"), F.col(emb_col).cast("array<double>").alias("q_emb")
    )
    cemb = candidates.select(
        F.col(id_col).alias("c_id"), F.col(emb_col).cast("array<double>").alias("c_emb")
    )
    exact = (
        shortlist.join(cemb, "c_id")
        .join(F.broadcast(qemb), "q_id")
        .select("q_id", "c_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("sim"))
    )
    w2 = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
    )


def pq_fit(df, m: int = 4, ksub: int = 16, emb_col: str = "embedding", iters: int = 8):
    """Product-quantization codebooks (Jégou et al. 2011): split the
    (L2-normalized) vector into ``m`` subvectors and run an L2 Lloyd
    per subspace on the deterministic seeded sample (same sampling as
    ivf_centroids — no global sort; driver-side on <= 2048 rows).
    Returns an (m, ksub, dim/m) ndarray — tiny, broadcastable.

    Scale story: a PQ index stores m one-byte codes per vector instead
    of 4*dim float bytes (64x smaller at dim=64/m=4), which is what
    makes billion-vector ANN memory-resident."""
    X = _seeded_sample_matrix(df, min_rows=ksub, emb_col=emb_col, who="pq_fit")
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = np.zeros((m, ksub, dsub))
    for j in range(m):
        Xj = X[:, j * dsub : (j + 1) * dsub]
        cents = Xj[:ksub].copy()
        for _ in range(iters):
            d2 = ((Xj[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)
            for c in range(ksub):
                mem = Xj[a == c]
                if len(mem):
                    cents[c] = mem.mean(0)
        codebooks[j] = cents
    return codebooks


def pq_encode(df, codebooks, id_col: str = "vec_id", emb_col: str = "embedding"):
    """Attach ``pq_codes`` (array<int>, length m): per-subspace argmin
    against the broadcast codebooks, one numpy distance matrix per
    Arrow batch — no per-row Python. Vectors are L2-normalized before
    encoding so ADC dot products approximate cosine directly."""
    cb = np.asarray(codebooks)
    bc = df.sparkSession.sparkContext.broadcast(cb)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(emb: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        m, ksub, dsub = bc.value.shape
        out = np.zeros((len(M), m), dtype=np.int32)
        for j in range(m):
            Xj = M[:, j * dsub : (j + 1) * dsub]
            d2 = ((Xj[:, None, :] - bc.value[j][None, :, :]) ** 2).sum(-1)
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in out])

    return df.withColumn("pq_codes", enc(F.col(emb_col)))


def pq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    codebooks,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k with exact re-rank:

    - candidates are encoded ONCE (m byte-codes — at 100 TB the scan
      reads codes, never raw vectors, until the re-rank);
    - each query precomputes its m*ksub dot-product lookup table
      driver-side (queries are the small side) and broadcasts it;
    - approx_sim = sum_j table[j, code_j], pure column algebra on the
      broadcast join — whole-stage codegen, no Python in the scan;
    - the top ``rerank`` per query re-rank by exact cosine (one keyed
      join back to the raw vectors), standard PQ+refine.
    """
    cb = np.asarray(codebooks)
    m, ksub, dsub = cb.shape
    qrows = queries.select(id_col, emb_col).collect()
    tables = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        tab = np.concatenate(
            [cb[j] @ qv[j * dsub : (j + 1) * dsub] for j in range(m)]
        )  # flat (m*ksub,) — entry j*ksub+c = dot(q_j, cb[j][c])
        tables.append((r[0], [float(x) for x in tab]))
    spark = queries.sparkSession
    qtab = spark.createDataFrame(tables, "q_id long, tab array<double>")

    # the approx stage carries ONLY (c_id, m byte codes): the raw
    # vectors stay in the source table until the shortlist join below
    # — this is what makes the scoring scan/shuffle ~codes-sized
    enc = pq_encode(candidates, cb, id_col, emb_col).select(
        F.col(id_col).alias("c_id"), "pq_codes"
    )
    approx = (
        enc.crossJoin(F.broadcast(qtab))
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "approx_sim",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.col("tab"),
                    (j * ksub + F.element_at(F.col("pq_codes"), j + 1) + 1).cast("int"),
                ),
            ),
        )
    )
    return _shortlist_and_rerank(approx, queries, candidates, k, rerank, id_col, emb_col)


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids,
    codebooks,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 100,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production billion-vector layout (FAISS IVFPQ,
    Jégou et al. 2011) — a coarse k-means partitioner prunes the scan
    to ``nprobe`` inverted lists, PQ byte codes score the survivors
    via ADC table lookups, and the shortlist re-ranks exactly.

    This variant encodes the raw (normalized) vector rather than the
    residual (x - centroid): recall is a little lower than
    residual-PQ at equal bits, but the codebooks stay list-independent
    (one codebook set for the whole corpus — simpler rollout, codes
    survive list reassignment). The scan-side relation carries
    (c_id, ivf_list, m byte codes) only; raw vectors are fetched once
    for the rerank join.
    """
    cb = np.asarray(codebooks)
    m, ksub, dsub = cb.shape
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    bq = queries.sparkSession.sparkContext.broadcast(cn)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(emb: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        order = np.argsort(-(M @ bq.value.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    # per-query ADC tables, driver-built (queries are the small side)
    qrows = queries.select(id_col, emb_col).collect()
    tables = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        tab = np.concatenate(
            [cb[j] @ qv[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        tables.append((r[0], [float(x) for x in tab]))
    spark = queries.sparkSession
    qtab = spark.createDataFrame(tables, "q_id long, tab array<double>")
    q = (
        queries.select(F.col(id_col).alias("q_id"), probes(F.col(emb_col)).alias("pl"))
        .join(qtab, "q_id")
        .select("q_id", "tab", F.explode("pl").alias("ivf_list"))
    )

    enc = pq_encode(
        ivf_assign(candidates, centroids, id_col, emb_col), cb, id_col, emb_col
    ).select(F.col(id_col).alias("c_id"), "ivf_list", "pq_codes")
    approx = (
        enc.join(F.broadcast(q), "ivf_list")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "approx_sim",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.col("tab"),
                    (j * ksub + F.element_at(F.col("pq_codes"), j + 1) + 1).cast("int"),
                ),
            ),
        )
        .groupBy("q_id", "c_id")
        .agg(F.max("approx_sim").alias("approx_sim"))  # dedupe multi-probe hits
    )
    return _shortlist_and_rerank(approx, queries, candidates, k, rerank, id_col, emb_col)


def pq_fit_residual(df, centroids, m: int = 4, ksub: int = 16, emb_col: str = "embedding", iters: int = 8):
    """Residual product-quantization codebooks (FAISS IVFPQ default,
    Jégou et al. 2011 §IV): quantize r = x_norm - centroid(list)
    instead of x_norm itself. Residuals concentrate near the origin
    with far less structure than raw vectors, so the same bit budget
    buys a tighter reconstruction — higher recall at equal bits than
    the list-independent variant (``pq_fit``), at the cost of coupling
    the codes to the coarse partitioner (reassigning a vector to a new
    list requires re-encoding it). Same training path as pq_fit: the
    deterministic seeded sample, driver-side Lloyd per subspace.

    Returns ``(codebooks, anchors)``: anchors[k] is the mean of the
    NORMALIZED sample vectors assigned to list k — the least-squares
    center of the list in the normalized space the codes live in. The
    unit-normalized coarse centroid is a worse anchor (it sits on the
    unit shell, off the list's center of mass, inflating residual
    norms); assignment still uses the coarse centroids, so the IVF
    partitioning is unchanged."""
    X = _seeded_sample_matrix(df, min_rows=ksub, emb_col=emb_col, who="pq_fit_residual")
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    assign = np.argmax(X @ cn.T, axis=1)
    anchors = cn.copy()
    for k_ in range(len(cn)):
        mem = X[assign == k_]
        if len(mem):
            anchors[k_] = mem.mean(axis=0)
    R = X - anchors[assign]
    dim = R.shape[1]
    if dim % m:
        raise ValueError(f"pq_fit_residual: dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks = np.zeros((m, ksub, dsub))
    for j in range(m):
        Rj = R[:, j * dsub : (j + 1) * dsub]
        cents = Rj[:ksub].copy()
        for _ in range(iters):
            d2 = ((Rj[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)
            for cix in range(ksub):
                mem = Rj[a == cix]
                if len(mem):
                    cents[cix] = mem.mean(0)
        codebooks[j] = cents
    return codebooks, anchors


def pq_encode_residual(df, codebooks, anchors, emb_col: str = "embedding"):
    """Attach ``pq_codes`` for the RESIDUAL r = x_norm - anchor of the
    row's ``ivf_list`` (column must exist — callers run ``ivf_assign``
    first). One numpy pass per Arrow batch; assignment and encoding
    share the normalized vector."""
    cb = np.asarray(codebooks)
    cn = np.asarray(anchors, dtype=np.float64)
    bcb = df.sparkSession.sparkContext.broadcast(cb)
    bcn = df.sparkSession.sparkContext.broadcast(cn)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def enc(emb: pd.Series, lst: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        R = M - bcn.value[lst.to_numpy()]
        m, ksub, dsub = bcb.value.shape
        out = np.zeros((len(R), m), dtype=np.int32)
        for j in range(m):
            Rj = R[:, j * dsub : (j + 1) * dsub]
            d2 = ((Rj[:, None, :] - bcb.value[j][None, :, :]) ** 2).sum(-1)
            out[:, j] = np.argmin(d2, axis=1)
        return pd.Series([row.tolist() for row in out])

    return df.withColumn("pq_codes", enc(F.col(emb_col), F.col("ivf_list")))


def ivfpq_residual_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids,
    codebooks,
    anchors,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 100,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Residual-encoding IVF-PQ: sim(q, x) decomposes as
    q . anchor(list) + q . r_hat — a per-(query, list) BASE constant
    plus the usual ADC table lookups over the (list-shared, residual)
    codebooks. The probe relation therefore carries (q_id, ivf_list,
    base, tab) — still tiny and broadcast — and the scan-side relation
    is (c_id, ivf_list, m byte codes), identical to the raw-encoding
    layout. Everything after the lookup (dedupe across probes,
    shortlist window, exact re-rank) is shared with ivfpq_topk."""
    cb = np.asarray(codebooks)
    m, ksub, dsub = cb.shape
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    an = np.asarray(anchors, dtype=np.float64)
    spark = queries.sparkSession

    # driver-side per-query probe lists + per-(query, probe) ADC tables
    # (queries are the small side by construction). Probing ranks lists
    # by the COARSE centroid (the partitioner); the base term uses the
    # list's residual ANCHOR (what the codes are relative to).
    qrows = queries.select(id_col, emb_col).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r[1], dtype=np.float64)
        qv = qv / np.linalg.norm(qv)
        sims = qv @ cn.T
        bases = qv @ an.T
        tab = np.concatenate(
            [cb[j] @ qv[j * dsub : (j + 1) * dsub] for j in range(m)]
        )
        for lst in np.argsort(-sims)[:nprobe]:
            probe_rows.append(
                (r[0], int(lst), float(bases[lst]), [float(x) for x in tab])
            )
    q = spark.createDataFrame(
        probe_rows, "q_id long, ivf_list int, base double, tab array<double>"
    )

    enc = pq_encode_residual(
        ivf_assign(candidates, centroids, id_col, emb_col), cb, an, emb_col
    ).select(F.col(id_col).alias("c_id"), "ivf_list", "pq_codes")
    approx = (
        enc.join(F.broadcast(q), "ivf_list")
        .filter(F.col("c_id") != F.col("q_id"))
        .withColumn(
            "approx_sim",
            F.col("base")
            + F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.col("tab"),
                    (j * ksub + F.element_at(F.col("pq_codes"), j + 1) + 1).cast("int"),
                ),
            ),
        )
        .groupBy("q_id", "c_id")
        .agg(F.max("approx_sim").alias("approx_sim"))
    )
    return _shortlist_and_rerank(approx, queries, candidates, k, rerank, id_col, emb_col)


def opq_fit(df, m: int = 4, ksub: int = 16, emb_col: str = "embedding", iters: int = 10):
    """Optimized Product Quantization (Ge et al., CVPR 2013): learn an
    ORTHOGONAL rotation R that redistributes variance across the m
    subspaces before quantizing, by alternating
      (1) PQ codebook fit + encode in the rotated space, and
      (2) the orthogonal-Procrustes update R = U V^T from the SVD of
          X^T X_hat (the rotation best aligning data to its current
          reconstruction).
    Rotation preserves dot products, so cosine ADC needs only the
    rotated query. Driver-side on the deterministic seeded sample —
    same cost envelope as pq_fit; returns (R, codebooks).

    The alternation minimizes one objective (||XR - reconstruction||^2)
    in both steps, so sample reconstruction error is monotone
    non-increasing and, starting from R = I with the same Lloyd
    schedule, never worse than unrotated PQ (asserted in tests)."""
    X = _seeded_sample_matrix(df, min_rows=ksub, emb_col=emb_col, who="opq_fit")
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"opq_fit: dim {dim} not divisible by m={m}")
    dsub = dim // m
    R = np.eye(dim)

    def fit_encode(Y, init=None):
        # warm-start Lloyd from the previous codebooks: each alternation
        # step (codebook refit, then Procrustes) is then an exact or
        # descending move on the SAME objective ||Y - rec||^2, which is
        # what makes the monotone / never-worse-than-PQ guarantee an
        # algorithmic property rather than a data-dependent accident
        cbs = np.zeros((m, ksub, dsub))
        rec = np.zeros_like(Y)
        for j in range(m):
            Yj = Y[:, j * dsub : (j + 1) * dsub]
            cents = (init[j].copy() if init is not None else Yj[:ksub].copy())
            for _ in range(4):
                d2 = ((Yj[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
                a = np.argmin(d2, axis=1)
                for cix in range(ksub):
                    mem = Yj[a == cix]
                    if len(mem):
                        cents[cix] = mem.mean(0)
            d2 = ((Yj[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            a = np.argmin(d2, axis=1)
            cbs[j] = cents
            rec[:, j * dsub : (j + 1) * dsub] = cents[a]
        return cbs, rec

    codebooks, rec = fit_encode(X @ R)
    for _ in range(iters):
        # Procrustes: argmin_R ||X R - rec||_F over orthogonal R
        U, _s, Vt = np.linalg.svd(X.T @ rec)
        R = U @ Vt
        codebooks, rec = fit_encode(X @ R, init=codebooks)
    return R, codebooks


def opq_rotate(df, R, id_col: str = "vec_id", emb_col: str = "embedding"):
    """Attach ``emb_rot`` = normalized(emb) @ R — one numpy matmul per
    Arrow batch. Orthogonal R preserves norms and dot products, so
    downstream exact re-ranks on ``emb_rot`` equal those on ``emb``."""
    bR = df.sparkSession.sparkContext.broadcast(np.asarray(R, dtype=np.float64))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def rot(emb: pd.Series) -> pd.Series:
        M = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        M = M / np.linalg.norm(M, axis=1, keepdims=True)
        Y = M @ bR.value
        return pd.Series([row.tolist() for row in Y])

    return df.withColumn("emb_rot", rot(F.col(emb_col)))


def lsh_multiprobe_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = N_PLANES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Multi-probe LSH (Lv et al., VLDB 2007): each QUERY also probes
    the ``n_planes`` Hamming-1 neighbor buckets (one sign bit flipped —
    the buckets a near-neighbor most likely fell into when one
    projection landed on the wrong side). Probing multiplies only the
    tiny broadcast query relation by (1 + n_planes); the corpus is
    still hashed ONCE into single buckets — recall rises without more
    tables or corpus passes. Candidate hits reached through several
    probes dedupe via max() before the per-query top-k."""
    from pyspark.sql.window import Window as W

    base = lsh_bucket(F.col(emb_col).cast("array<double>"), n_planes, dim)
    probes = F.array(
        base, *[base.bitwiseXOR(F.lit(2**j)) for j in range(n_planes)]
    )
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
        F.explode(probes).alias("bucket"),
    )
    c = candidates.select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).cast("array<double>").alias("c_emb"),
        lsh_bucket(F.col(emb_col).cast("array<double>"), n_planes, dim).alias(
            "bucket"
        ),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("c_id") != F.col("q_id"))
        .select("q_id", "c_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("sim"))
        .groupBy("q_id", "c_id")
        .agg(F.max("sim").alias("sim"))
    )
    w = W.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
    )


# ---------------------------------------------------------------------------
# scalar quantization (SQ8)
# ---------------------------------------------------------------------------


def sq8_extents(candidates: DataFrame, emb_col: str = "embedding") -> list:
    """Per-dimension [min, max] training of the scalar quantizer: one
    map-side-combined dim-keyed aggregation (shuffle bounded at
    dim × tasks rows), collected as the bounded dim-row relation —
    the SURVEY J3 broadcast-extents pattern."""
    return (
        candidates.select(
            F.posexplode(F.col(emb_col).cast("array<double>")).alias("i", "x")
        )
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("i")
        .collect()
    )


def sq8_recon(emb_col, ext) -> "Column":
    """Midpoint-dequantized SQ8 reconstruction of ``emb_col``:
    code = floor((x−mn)/span·255), recon = mn + (code+0.5)·span/255 —
    only IEEE sub/div/mul (no libm), so the reconstructed doubles are
    bit-identical in any engine given the same extents. Span-0 dims
    reconstruct to mn exactly."""
    c = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    mn_a = F.array(*[F.lit(float(r["mn"])) for r in ext])
    sp_a = F.array(*[F.lit(float(r["mx"] - r["mn"])) for r in ext])

    def one(x, i):
        idx = (i + F.lit(1)).cast("int")
        mn = F.element_at(mn_a, idx)
        sp = F.element_at(sp_a, idx)
        code = F.floor((x - mn) / sp * 255)
        return F.when(sp == 0, mn).otherwise(
            mn + ((code + F.lit(0.5)) * sp) / F.lit(255.0)
        )

    return F.transform(c, one)


def sq8_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    rerank: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """ANN via scalar quantization: candidates compress to uint8 codes
    (4× smaller than float32 — the memory-resident scale path), the
    approximate pass scores queries against midpoint reconstructions,
    and the top-``rerank`` shortlist re-ranks exactly (shared PQ-family
    tail). Fully deterministic: unlike IVF/PQ (k-means-dependent), the
    SQ8 shortlist is a closed-form function of the data, so the final
    top-k is hash-matchable cross-engine, not just recall-bounded.

    Scale shape: extents are a bounded dim-row collect; the encode /
    reconstruction is a pure projection (zero corpus shuffle); the
    approximate pass is one broadcast-queries scan, identical to
    brute_force_topk's plan but over 1-byte-per-dim state."""
    ext = sq8_extents(candidates, emb_col)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
    )
    # staged projection: r_emb must reach the cosine as a bound
    # attribute (3 consumers — dot + both norms — would otherwise
    # inline the whole transform 3x; no CSE inside lambdas)
    recon = candidates.select(
        F.col(id_col).alias("c_id"),
        sq8_recon(F.col(emb_col).cast("array<double>"), ext).alias("r_emb"),
    )
    approx = (
        recon.crossJoin(F.broadcast(q))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id",
            "c_id",
            cosine(F.col("q_emb"), F.col("r_emb")).alias("approx_sim"),
        )
    )
    return _shortlist_and_rerank(approx, queries, candidates, k, rerank, id_col, emb_col)


def ivfsq8_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids,
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 20,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF + scalar quantization — the production billion-scale FAISS
    configuration (IndexIVFScalarQuantizer): candidates partition into
    IVF lists AND compress to SQ8 codes, queries probe their ``nprobe``
    nearest lists scoring against midpoint reconstructions (1 byte/dim
    of state per candidate in the scan), the top-``rerank`` shortlist
    re-ranks exactly. Combines ivf_topk's list-pruned candidate scan
    with sq8_topk's memory story; the shared PQ-family tail fetches raw
    vectors for the shortlist only."""
    ext = sq8_extents(candidates, emb_col)
    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    bc = queries.sparkSession.sparkContext.broadcast(cn)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probes(emb: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(e, dtype=np.float64) for e in emb])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(m @ bc.value.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
        probes(F.col(emb_col)).alias("probe_lists"),
    ).select("q_id", "q_emb", F.explode("probe_lists").alias("ivf_list"))
    # staged projection (see sq8_topk): r_emb must be a bound attribute
    cands = ivf_assign(candidates, centroids, id_col, emb_col).select(
        F.col(id_col).alias("c_id"),
        sq8_recon(F.col(emb_col).cast("array<double>"), ext).alias("r_emb"),
        "ivf_list",
    )
    approx = (
        cands.join(F.broadcast(q), "ivf_list")
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id", "c_id", cosine(F.col("q_emb"), F.col("r_emb")).alias("approx_sim")
        )
        .groupBy("q_id", "c_id")
        .agg(F.max("approx_sim").alias("approx_sim"))  # dedupe multi-probe hits
    )
    return _shortlist_and_rerank(approx, queries, candidates, k, rerank, id_col, emb_col)


def kcenter_coreset(
    df: DataFrame,
    k: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    fxp: int = 1 << 40,
    checkpoint_every: int = 16,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985) — the
    2-approximation diversity-selection primitive a training-data
    pipeline uses to pick a maximally-spread representative subset
    (coreset distillation, eval-set seeding, dedup anchors).

    Deterministic construction: the seed is the smallest id; every
    subsequent center is the point FARTHEST (cosine distance) from the
    selected set, ties broken by smallest id. Distances compare on the
    floor(d·2^40) fixed-point grid — floor + power-of-two scaling are
    exact in any IEEE engine, so the argmax (and hence the whole
    selection) reproduces bit-identically cross-engine and the oracle
    can hash-match both the chosen ids AND each selection's radius.

    Returns the k-row relation (sel_order, vec_id, radius_fp): the
    coreset in selection order, radius_fp = the point's distance to
    the previously-selected set at selection time (non-increasing; the
    seed's is 0 by convention). The output is k rows BY DESIGN — the
    driver-side loop collects exactly one (id, emb, mind) row per
    iteration via TakeOrdered (map-side partial top-1, never a sort).

    Scale shape: k sequential passes over the corpus — inherent to the
    greedy algorithm, each pass one whole-stage-codegen projection
    (least(running mind, dist-to-newest-center) against a broadcast
    64-double literal) + a TakeOrdered reduce; no shuffle of the
    corpus, ever. The running-mind lineage grows one `least` per
    iteration; every ``checkpoint_every`` iterations the running
    relation localCheckpoints, so production k (hundreds) keeps a
    bounded plan — selection is checkpoint-invariant (pinned in
    tests: the checkpoint only materializes the same deterministic
    mind values). Pass 0 to disable."""
    spark = df.sparkSession
    v = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).cast("array<double>").alias("emb"),
    )
    seed = v.orderBy(F.col("vec_id").asc()).limit(1).collect()
    if not seed:
        return spark.createDataFrame(
            [], "sel_order int, vec_id bigint, radius_fp bigint"
        )
    chosen = [(0, int(seed[0]["vec_id"]), 0)]
    center = seed[0]["emb"]
    cur = v
    for i in range(1, k):
        carr = F.array(*[F.lit(float(x)) for x in center])
        d = F.floor(
            (F.lit(1.0) - cosine(F.col("emb"), carr)) * F.lit(float(fxp))
        ).cast("long")
        cur = cur.withColumn(
            "mind", d if i == 1 else F.least(F.col("mind"), d)
        )
        if checkpoint_every and i % checkpoint_every == 0:
            cur = cur.localCheckpoint()  # bound the `least` lineage
        nxt = (
            cur.filter(~F.col("vec_id").isin([c[1] for c in chosen]))
            .orderBy(F.col("mind").desc(), F.col("vec_id").asc())
            .limit(1)
            .collect()
        )
        if not nxt:  # fewer than k points
            break
        chosen.append((i, int(nxt[0]["vec_id"]), int(nxt[0]["mind"])))
        center = nxt[0]["emb"]
    return spark.createDataFrame(
        chosen, "sel_order int, vec_id bigint, radius_fp bigint"
    )


# ---------------------------------------------------------------------------
# graph ANN: bounded-degree neighbor graph + greedy beam search
# ---------------------------------------------------------------------------


def lsh_entry_points(
    df: DataFrame,
    n_entry: int = 16,
    n_planes: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> list[int]:
    """Deterministic, maximally-spread search-entry ids in ONE
    aggregation job: every vector's sign-LSH cell (2**n_planes
    hyperplane sides partition the sphere into angular cells) yields
    one representative (min id) per cell — a bounded ≤2**n_planes-row
    coreset candidate set — and greedy Gonzalez k-center selection
    then runs over those representatives DRIVER-SIDE in numpy (the
    collected relation is ≤64 rows × 64 doubles = 32 KB, a bounded
    constant, never the corpus). Replaces :func:`kcenter_coreset` for
    graph-search entry selection: the full Gonzalez loop is k
    sequential whole-corpus Spark jobs (6.9 s of the graph entry's
    19.9 s driver wall at sf0.1); this is one groupBy job + microseconds
    of numpy, and the entry set keeps Gonzalez' spread guarantee over
    the cell representatives (measured recall re-pinned at
    47/49/44 ≥ the full-kcenter 47/49/40 — see
    similarity_queries._ANN_PINNED).

    Deterministic: representatives sort by id, the seed is the
    globally-smallest id (always a representative — it is minimal
    within its own cell), distance folds are fixed-order numpy, ties
    break by smallest id."""
    import numpy as np

    v = df.select(
        F.col(id_col).alias("id"),
        F.col(emb_col).cast("array<double>").alias("emb"),
    )
    reps = (
        v.select(lsh_bucket(F.col("emb"), n_planes, dim).alias("cell"), "id", "emb")
        .groupBy("cell")
        .agg(F.min(F.struct(F.col("id"), F.col("emb"))).alias("s"))
        .select(F.col("s.id").alias("id"), F.col("s.emb").alias("emb"))
        .collect()
    )
    if not reps:  # empty corpus — no entries, search degenerates to empty
        return []
    reps = sorted(reps, key=lambda r: r["id"])
    ids = np.array([r["id"] for r in reps])
    X = np.array([r["emb"] for r in reps], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    chosen = [0]
    mind = 1.0 - Xn @ Xn[0]
    while len(chosen) < min(n_entry, len(reps)):
        j = int(np.lexsort((ids, -mind))[0])  # farthest first, min-id tiebreak
        chosen.append(j)
        mind = np.minimum(mind, 1.0 - Xn @ Xn[j])
    return [int(ids[j]) for j in chosen]


def neighbor_graph(
    df: DataFrame,
    n_sim: int = 10,
    n_rand: int = 6,
    n_bands: int = 8,
    band_bits: int = 4,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Bounded-degree navigable small-world graph — the NSW/HNSW
    analogue, built distributedly: candidate edges come from the banded
    sign-LSH join (never all-pairs), exact-cosine scored, symmetrized,
    and each node keeps its ``n_sim`` best out-edges by (sim desc, id
    asc) PLUS ``n_rand`` md5-ordered candidates as long-range links —
    the small-world shortcuts a flat similarity graph lacks (HNSW gets
    them from its layer hierarchy; a deterministic pseudo-random subset
    of the candidate edges serves the same navigability role and
    measured +7 recall@5 hits at equal search budget on the sf0.01
    corpus). Returns (src, dst).

    Scale shape: identical to the mutual k-NN entry — pairs shuffle as
    (id, id, sim) triples, both caps are per-node windows (no global
    sort), and the graph relation is (n_sim+n_rand)·N-bounded.

    ``pairs`` injects a precomputed (id_a, id_b, sim) candidate
    relation (typically the session-shared
    :func:`embedding_candidate_pairs` output, persisted once for the
    whole embedding family) instead of rebuilding the LSH join here."""
    from pyspark.sql.window import Window as W

    if pairs is None:
        pairs = embedding_near_dup(
            df,
            threshold=-2.0,  # keep every LSH candidate; the caps rank them
            n_bands=n_bands,
            band_bits=band_bits,
            id_col=id_col,
            emb_col=emb_col,
        )
    directed = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "sim"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "sim")
    )
    wsim = W.partitionBy("src").orderBy(F.col("sim").desc(), F.col("dst").asc())
    wrnd = W.partitionBy("src").orderBy(
        F.md5(F.concat_ws("_", "src", "dst")), F.col("dst").asc()
    )
    return (
        directed.withColumn("rs", F.row_number().over(wsim))
        .withColumn("rr", F.row_number().over(wrnd))
        .filter((F.col("rs") <= n_sim) | (F.col("rr") <= n_rand))
        .select("src", "dst")
    )


def graph_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_sim: int = 10,
    n_rand: int = 6,
    beam: int = 14,
    hops: int = 4,
    n_entry: int = 16,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    pairs: DataFrame | None = None,
    graph: DataFrame | None = None,
) -> DataFrame:
    """Greedy frontier-beam search over :func:`neighbor_graph` (the
    HNSW search loop re-expressed relationally): every query's beam
    starts at ``n_entry`` LSH-cell entry points (angularly spread —
    deterministic one-job selection via :func:`lsh_entry_points`, the
    flat-graph stand-in for HNSW's upper layers), then ``hops`` rounds
    of expand-the-unexpanded-beam → exact-cosine score → keep per-query
    top-beam (a visited flag stops re-expansion, so every hop spends
    its budget on NEW nodes), finishing with the top-k. Deterministic
    end to end (md5 LSH planes and long links, id tie-breaks), so the
    hit TOTAL vs brute force is a pinnable constant.

    Candidate budget per query ≈ n_entry + hops·beam·(n_sim+n_rand)
    exact distances — 912 at the defaults, the same order as the
    IVF-PQ entry's total per-query work (rerank=200 exact + ADC over
    nprobe lists ≈ a quarter of the corpus). Measured recall@5 at this
    budget: 47/49/44 of 50 across the three synthetic corpora vs
    IVF-PQ's 46/48/39 and the r14 full-kcenter config's 47/49/40 (the
    one-job entry selection gives some budget back; beam 10→14 spends
    it where it buys recall).

    Scale shape: the search state is (n_queries·beam) rows; each hop
    broadcasts that state against the degree·N graph relation and the
    corpus (both equi-joins — the corpus never shuffles), so hops
    multiply small-side work only, and per-query cost is INDEPENDENT
    of corpus size (vs brute force's linear scan). The graph build
    dominates and is the LSH-banded near-dup join, not all-pairs —
    and ``pairs``/``graph`` inject session-shared precomputed
    relations so that build isn't paid per call (VERDICT r14 #2)."""
    from pyspark.sql.window import Window as W

    graph_owned = graph is None
    if graph is None:
        graph = neighbor_graph(
            candidates,
            n_sim=n_sim,
            n_rand=n_rand,
            id_col=id_col,
            emb_col=emb_col,
            pairs=pairs,
        )

    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(emb_col).cast("array<double>").alias("q_emb"),
    )
    c = candidates.select(
        F.col(id_col).alias("c_id"),
        F.col(emb_col).cast("array<double>").alias("c_emb"),
    )
    entry_ids = lsh_entry_points(
        candidates, n_entry=n_entry, id_col=id_col, emb_col=emb_col
    )
    entries = c.filter(F.col("c_id").isin(entry_ids))

    def score(frame):
        # frame: (q_id, q_emb, c_id); attach c_emb, exact cosine
        scored = F.broadcast(frame).join(c, "c_id")
        return scored.select(
            "q_id",
            "q_emb",
            "c_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("sim"),
        )

    wq = W.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("c_id").asc())
    # sim desc as a tertiary key (ADVICE r15): tie-break hygiene only;
    # the dedup still requires duplicates to carry identical sim
    w_dedup = W.partitionBy("q_id").orderBy(
        F.col("c_id").asc(), F.col("exp").desc(), F.col("sim").desc()
    )

    def top(frame, n):
        # duplicate (q_id, c_id) rows carry IDENTICAL sim and q_emb
        # (exact cosine is a function of the pair), so dedup only has
        # to keep the exp-DESC-first row of each c_id run (max(exp):
        # once expanded, stays expanded). A lag window does that under
        # the SAME q_id partitioning the beam-rank window needs, so
        # both run off one exchange — the previous groupBy(q_id, c_id)
        # + window shape paid two exchanges per hop (measured 6.0 →
        # 4.3 s warm search at sf0.1, output frame-identical)
        first = F.lag("c_id").over(w_dedup) != F.col("c_id")
        dedup = (
            frame.withColumn("__f", F.coalesce(first, F.lit(True)))
            .filter("__f")
            .drop("__f")
        )
        return (
            dedup.withColumn("rk", F.row_number().over(wq))
            .filter(F.col("rk") <= n)
            .select("q_id", "q_emb", "c_id", "sim", "exp")
        )

    # each hop references `state` twice (frontier + carried beam), so an
    # unchecked lineage re-derives the whole graph build 2^hops times;
    # the state is (n_queries·beam) rows — checkpointing it per hop is
    # bytes, not work, and the checkpoint is value-invariant (the search
    # is deterministic). The graph relation is reused every hop: persist
    # (a caller-injected graph is the caller's to persist and release).
    if graph_owned:
        graph = graph.persist()
    state = top(
        score(entries.select("c_id").crossJoin(F.broadcast(q))).withColumn(
            "exp", F.lit(False)
        ),
        beam,
    ).localCheckpoint(eager=True)
    for _ in range(hops):
        frontier = state.filter(~F.col("exp"))
        expand = (
            F.broadcast(frontier)
            .join(graph, frontier.c_id == graph.src)
            .select("q_id", "q_emb", F.col("dst").alias("c_id"))
        )
        state = top(
            state.withColumn("exp", F.lit(True)).unionByName(
                score(expand).withColumn("exp", F.lit(False))
            ),
            beam,
        ).localCheckpoint(eager=True)
    out = (
        state.filter(F.col("c_id") != F.col("q_id"))
        .withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "rank", "sim")
        .localCheckpoint(eager=True)
    )
    if graph_owned:
        graph.unpersist()
    return out
