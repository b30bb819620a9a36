"""Embedding similarity search: brute-force cosine top-k (exact
baseline) and LSH-bucketed approximate variant (the scale path).

The dot product / norms are pure Spark SQL expressions
(``zip_with`` + ``aggregate``) — JVM-side, codegen'd, no UDF.
Embeddings are cast to double before any arithmetic so Spark and the
DuckDB oracle round identically.

Scale notes: brute-force is one scan + TakeOrderedAndProject (no
shuffle beyond the final top-k merge) — correct but O(N) per query;
the LSH variant buckets vectors by deterministic hyperplane sign bits
so a query probes only its bucket (+ optional 1-bit neighbors).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

from .textops import DEFAULT_MAX_BUCKET_SIZE, _banded_pairs, _PairScore, _spread
from .webgen import _splitmix64


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def _dvec(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k against one query vector.

    A zero vector has no cosine: zero rows of ``df`` are never ranked
    (see ``_nonzero_vectors``), and a zero ``query_vec`` raises
    ValueError.

    r6: _spread raises the scan's parallelism floor — the interpreted
    per-row dot fold was the whole cost and a single small parquet
    file otherwise runs it on one task (identical arithmetic, same
    TakeOrderedAndProject merge)."""
    if not any(float(x) != 0.0 for x in query_vec):
        raise ValueError("cosine_topk: the query vector is zero and has no cosine")
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    v = _dvec(F.col(vec_col))
    cos = _dot(v, q) / (_norm(v) * _norm(q))
    return (
        _nonzero_vectors(_spread(df), vec_col)
        .select(F.col(id_col), F.round(cos, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def _nonzero_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """The rows of ``df`` whose vector has a nonzero norm: a zero
    vector has no cosine, so it pairs with nothing (the near-dup
    operators' shared rule; the DuckDB oracle's division by zero
    yields NULL and drops those pairs the same way)."""
    return df.where(_norm(_dvec(F.col(vec_col))) > 0)


def cosine_neardup_pairs(df: DataFrame, threshold: float = 0.95,
                         id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact embedding near-duplicate pairs (cosine >= threshold).
    A zero vector pairs with nothing (see ``_nonzero_vectors``).

    O(N^2) oracle variant — use lsh_buckets + within-bucket pairs at
    corpus scale."""
    df = _nonzero_vectors(df, vec_col)
    a = df.select(F.col(id_col).alias("id_a"), _dvec(F.col(vec_col)).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), _dvec(F.col(vec_col)).alias("vb"))
    cos = _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb")))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs_lsh(df: DataFrame, dim: int, threshold: float = 0.95,
                             n_planes: int = 8, seed: int = 7,
                             max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Embedding near-dup pairs at scale: candidates share a hyperplane
    sign bucket (one shuffle on the bucket key — never O(N²) across
    buckets), then the exact cosine filter runs on candidates only.
    Deterministic (seeded planes) so an exact oracle exists.
    ``max_bucket_size`` caps a degenerate bucket via min-id
    representative pairing (same policy and default as the textops
    operators, see ``textops._expand_bucket``; None = exact uncapped).
    A zero vector pairs with nothing (see ``_nonzero_vectors``), as in
    ``cosine_neardup_pairs``.

    Candidate pairs are generated and scored inside the shared
    ``textops._banded_pairs`` kernel (one band, band 0) instead of a
    bucket self-join — the exchange moves each vector once (N rows)
    rather than every candidate pair with both payload arrays (3.4M ×
    1 KB at sf1.0), and the dot product is a dim-ordered numpy
    accumulation that reproduces the ``zip_with``+``aggregate`` left
    fold bit-for-bit (same additions, same order, IEEE doubles). The
    kernel pre-filters at threshold minus the round-off bound (6e-5 >
    the 5e-5 a 4-decimal HALF_UP round can move a value), and the
    authoritative ``round(cos,4) >= threshold`` filter stays a Spark
    expression (oracle-verified)."""
    planes = hyperplanes(dim, n_planes, seed)
    banded = _nonzero_vectors(_spread(df), vec_col).select(
        F.col(id_col).alias("id"),
        _dvec(F.col(vec_col)).alias("sig"),
        F.lit(0).alias("band"),
        lsh_bucket_col(vec_col, planes).alias("bucket"),
    )
    return (
        _banded_pairs(banded, _cosine_score(threshold - 6e-5), max_bucket_size)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _cosine_score(margin: float) -> _PairScore:
    """Cosine per pair, kept at >= margin or NaN (NaN >= x is TRUE in
    Spark SQL). A row's payload is its vector plus its norm, computed
    once per row; dot products and norms are dim-ordered left folds
    (≡ ``_dot`` and ``_norm``'s aggregate)."""
    def rows(sig):
        V = np.stack(sig.to_numpy()).astype(np.float64, copy=False)
        nrm = np.zeros(len(V))
        for d in range(V.shape[1]):
            nrm = nrm + V[:, d] * V[:, d]
        return np.column_stack([V, np.sqrt(nrm)])

    def cosine(A, M):
        ndim = A.shape[1] - 1
        dot = np.zeros((len(A), len(M)))
        for d in range(ndim):
            dot += np.outer(A[:, d], M[:, d])
        with np.errstate(divide="ignore", invalid="ignore"):
            return dot / np.outer(A[:, ndim], M[:, ndim])

    # float64 dot, outer term, norm product and cosine; three bool masks
    return _PairScore("cosine double", rows, cosine,
                      lambda cos: (cos >= margin) | np.isnan(cos), 8 * 4 + 3)


def hyperplanes(dim: int, n_planes: int = 12, seed: int = 7) -> np.ndarray:
    """Deterministic pseudo-random unit hyperplanes (counter-hashed)."""
    ctr = np.arange(dim * n_planes, dtype=np.uint64) + np.uint64(seed * 1_000_003)
    u = (_splitmix64(ctr) >> np.uint64(11)).astype(np.float64) / (1 << 53)
    planes = (u * 2 - 1).reshape(n_planes, dim)
    return planes / np.linalg.norm(planes, axis=1, keepdims=True)


def lsh_bucket_col(vec_col: str, planes: np.ndarray) -> Column:
    """Sign-bit bucket id from hyperplane projections (pure expression)."""
    v = _dvec(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        q = F.array(*[F.lit(float(x)) for x in p])
        bucket = bucket + F.when(_dot(v, q) > 0,
                                 F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
    return bucket


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10, n_planes: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate cosine top-k: probe only the query's LSH bucket.
    Zero vectors follow ``cosine_topk``'s rule: zero rows are never
    ranked, and a zero ``query_vec`` raises ValueError.

    Computes buckets on the fly (O(N) scan — the small-scale / oracle
    variant). The scale path is ``build_lsh_index`` +
    ``lsh_topk_indexed``: a bucket-PARTITIONED table where a query
    reads only its probed partitions."""
    dim = len(query_vec)
    planes = hyperplanes(dim, n_planes)
    qb = int(sum((1 << i) for i, p in enumerate(planes) if float(np.dot(p, query_vec)) > 0))
    bucketed = df.withColumn("_bucket", lsh_bucket_col(vec_col, planes))
    cand = bucketed.where(F.col("_bucket") == qb)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def probe_buckets(query_vec: list[float], planes: np.ndarray, probes: int = 1) -> list[int]:
    """Multiprobe bucket list: the query's bucket plus (probes-1)
    single-bit flips ordered by |projection| ascending — the planes the
    query sits closest to are the likeliest sign errors."""
    dots = planes @ np.asarray(query_vec, dtype=np.float64)
    qb = int(sum((1 << i) for i in range(len(planes)) if float(dots[i]) > 0))
    flips = np.argsort(np.abs(dots), kind="stable")
    out = [qb]
    for i in flips[: max(0, probes - 1)]:
        out.append(qb ^ (1 << int(i)))
    return out


def build_lsh_index(df: DataFrame, out_dir: str, dim: int, n_planes: int = 8,
                    seed: int = 7, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Materialize the ANN index: vectors written PARTITIONED BY their
    LSH bucket, plus a meta sidecar pinning (dim, n_planes, seed) so
    queries recompute identical hyperplanes. At 100 TB a query then
    touches only probes/2^n_planes of the data — partition pruning on
    the ``_bucket`` directory column does the skipping (plan-asserted
    in tests/test_plans.py)."""
    import json
    import os

    planes = hyperplanes(dim, n_planes, seed)
    (
        df.withColumn("_bucket", lsh_bucket_col(vec_col, planes))
        .write.mode("overwrite").partitionBy("_bucket")
        .parquet(os.path.join(out_dir, "data"))
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"dim": dim, "n_planes": n_planes, "seed": seed,
                   "id_col": id_col, "vec_col": vec_col}, f)


def lsh_topk_indexed(spark, index_dir: str, query_vec: list[float], k: int = 10,
                     probes: int = 1) -> DataFrame:
    """ANN top-k over a materialized LSH index: reads ONLY the probed
    bucket partitions (multiprobe via single-bit flips)."""
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    planes = hyperplanes(meta["dim"], meta["n_planes"], meta["seed"])
    buckets = probe_buckets(query_vec, planes, probes)
    df = spark.read.parquet(os.path.join(index_dir, "data"))
    cand = df.where(F.col("_bucket").isin(buckets))
    return cosine_topk(cand, query_vec, k, meta["id_col"], meta["vec_col"])


# ------------------------------------------------------------------- IVF ANN


def kmeans_centroids(vectors: np.ndarray, k: int, iters: int = 10,
                     seed: int = 7) -> np.ndarray:
    """Deterministic Lloyd k-means on the unit sphere for IVF training.

    Init picks k rows by counter-hashed rank (no RNG state), iteration
    count is fixed, assignment ties break to the lowest centroid id
    (argmax first-occurrence), and centroids renormalize each round —
    the same inputs always yield the same centroids, which is what
    lets an exact SQL oracle embed them as literals. Runs DRIVER-side
    on a small sample: the classic IVF recipe (train small, assign at
    scale)."""
    v = np.asarray(vectors, dtype=np.float64)
    v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
    n = len(v)
    order = np.argsort(
        _splitmix64(np.arange(n, dtype=np.uint64) + np.uint64(seed * 1009)),
        kind="stable")
    cent = v[order[:k]].copy()
    for _ in range(iters):
        assign = np.argmax(v @ cent.T, axis=1)
        for j in range(k):
            m = assign == j
            if m.any():
                cent[j] = v[m].mean(axis=0)
        cent = cent / np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    return cent


def ivf_cell_col(vec_col: str, centroids: np.ndarray) -> Column:
    """Nearest-centroid cell id as a pure expression: argmax of the
    k dot products (norm of v is common across cells, centroids are
    unit — so argmax dot == argmax cosine); first max wins ties."""
    v = _dvec(F.col(vec_col))
    dots = F.array(*[
        _dot(v, F.array(*[F.lit(float(x)) for x in c])) for c in centroids
    ])
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def build_ivf_index(df: DataFrame, out_dir: str, dim: int,
                    n_centroids: int = 16, sample: int = 512,
                    iters: int = 10, seed: int = 7,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> None:
    """Materialize an IVF ANN index: k-means centroids trained on a
    deterministic sample driver-side, vectors written PARTITIONED BY
    their nearest-centroid cell, centroids pinned in a meta sidecar.
    A query then reads only its nprobe closest cells — partition
    pruning does the skipping, exactly like the LSH index but with
    data-adaptive regions.

    The training sample is the ``sample`` lowest rows by
    ``xxhash64(id)`` — as deterministic as a lowest-ids sample (the
    exact-oracle requirement) but id-order-unbiased, so time-ordered
    or clustered id spaces don't skew the centroids; executes as one
    TakeOrdered (scan + per-partition top-N), scale-safe."""
    import json
    import os

    samp = (df.orderBy(F.xxhash64(F.col(id_col).cast("string")),
                       F.col(id_col))
            .limit(sample)
            .select(vec_col).toPandas()[vec_col])
    cent = kmeans_centroids(np.array([np.asarray(x, dtype=np.float64)
                                      for x in samp]), n_centroids, iters, seed)
    (
        df.withColumn("_cell", ivf_cell_col(vec_col, cent))
        .write.mode("overwrite").partitionBy("_cell")
        .parquet(os.path.join(out_dir, "data"))
    )
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump({"dim": dim, "n_centroids": n_centroids, "sample": sample,
                   "iters": iters, "seed": seed, "id_col": id_col,
                   "vec_col": vec_col,
                   "centroids": [[float(x) for x in c] for c in cent]}, f)


def ivf_probe_cells(query_vec: list[float], centroids: np.ndarray,
                    nprobe: int = 1) -> list[int]:
    """The nprobe cells nearest the query (dot desc, id asc on ties)."""
    q = np.asarray(query_vec, dtype=np.float64)
    dots = np.asarray(centroids, dtype=np.float64) @ q
    order = np.lexsort((np.arange(len(dots)), -dots))
    return [int(i) for i in order[:nprobe]]


def ivf_topk(spark, index_dir: str, query_vec: list[float], k: int = 10,
             nprobe: int = 1) -> DataFrame:
    """ANN top-k over the materialized IVF index: exact cosine over
    the vectors of the nprobe closest cells only (partition-pruned
    read)."""
    import json
    import os

    with open(os.path.join(index_dir, "meta.json")) as f:
        meta = json.load(f)
    cells = ivf_probe_cells(query_vec, np.array(meta["centroids"]), nprobe)
    df = spark.read.parquet(os.path.join(index_dir, "data"))
    cand = df.where(F.col("_cell").isin(cells))
    return cosine_topk(cand, query_vec, k, meta["id_col"], meta["vec_col"])
