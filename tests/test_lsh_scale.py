"""Scale hardening of the LSH paths: capped band buckets (giant
dup-cluster stress) and the materialized bucket-partitioned ANN index
(partition pruning + multiprobe)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bobo_spark import simsearch, textops


def test_capped_buckets_dup_cluster(spark):
    """A 120-doc exact-dup cluster must cost O(c) pairs with a cap,
    not C(120,2), while keeping every member connected to the
    representative."""
    rows = [(i, "the same exact duplicated text payload number one") for i in range(120)]
    rows += [(1000 + i, f"unique text number {i} with filler tokens alpha beta gamma")
             for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = textops.minhash_lsh_pairs(docs, threshold=0.9, max_bucket_size=10).toPandas()
    cluster = capped[(capped["id_a"] < 1000) & (capped["id_b"] < 1000)]
    # representative pairing: exactly (c-1) pairs, all anchored at min id 0
    assert len(cluster) == 119
    assert set(cluster["id_a"]) == {0}
    assert set(cluster["id_b"]) == set(range(1, 120))
    # uncapped would explode quadratically on the same input
    full = textops.minhash_lsh_pairs(docs, threshold=0.9).toPandas()
    assert len(full[(full["id_a"] < 1000) & (full["id_b"] < 1000)]) == 120 * 119 // 2


def test_capped_simhash_pairs(spark):
    rows = [(i, "another big family of identical web pages crawled twice")
            for i in range(60)]
    rows += [(500 + i, f"distinct page {i} about nothing in particular") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = textops.simhash_neardup_pairs(docs, max_hamming=0,
                                           max_bucket_size=8).toPandas()
    cluster = capped[(capped["id_a"] < 500) & (capped["id_b"] < 500)]
    assert len(cluster) == 59 and set(cluster["id_a"]) == {0}


@pytest.fixture(scope="module")
def lsh_index(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lsh_idx"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    simsearch.build_lsh_index(emb, d, dim=64, n_planes=6)
    return d, emb


def test_lsh_index_partition_pruning(spark, lsh_index):
    d, emb = lsh_index
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    df = simsearch.lsh_topk_indexed(spark, d, qv, k=10)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "_bucket" in plan and "PartitionFilters" in plan, plan[:800]
    # identical results to the on-the-fly bucket scan
    flat = simsearch.lsh_topk(emb, qv, k=10, n_planes=6).toPandas()
    idx = df.toPandas()
    assert idx.values.tolist() == flat.values.tolist()


def test_lsh_index_multiprobe(spark, lsh_index):
    d, emb = lsh_index
    qv = [float(x) for x in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    planes = simsearch.hyperplanes(64, 6)
    buckets = simsearch.probe_buckets(qv, planes, probes=3)
    assert len(set(buckets)) == 3
    got = simsearch.lsh_topk_indexed(spark, d, qv, k=10, probes=3).toPandas()
    # brute-force reference: exact cosine top-k restricted to the union
    want = simsearch.cosine_topk(
        emb.withColumn("_b", simsearch.lsh_bucket_col("embedding", planes))
        .where(F.col("_b").isin(buckets)), qv, k=10).toPandas()
    assert got.values.tolist() == want.values.tolist()
    # more probes -> candidate set grows monotonically
    one = simsearch.lsh_topk_indexed(spark, d, qv, k=10**6, probes=1).count()
    three = simsearch.lsh_topk_indexed(spark, d, qv, k=10**6, probes=3).count()
    assert three >= one


def test_cap_is_the_default(spark):
    """The scale-safe cap must be ON by default: a giant dup cluster
    expands O(c) representative pairs unless the caller explicitly
    opts out with max_bucket_size=None (the oracle-equality variant)."""
    import inspect

    for fn in (textops.minhash_lsh_pairs, textops.simhash_neardup_pairs,
               simsearch.cosine_neardup_pairs_lsh):
        default = inspect.signature(fn).parameters["max_bucket_size"].default
        assert isinstance(default, int) and default > 0, fn.__name__
        assert default is textops.DEFAULT_MAX_BUCKET_SIZE, fn.__name__
    rows = [(i, "one enormous duplicated cluster of pages") for i in range(1500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = textops.minhash_lsh_pairs(docs, threshold=0.9).toPandas()
    assert len(pairs) == 1499 and set(pairs["id_a"]) == {0}


@pytest.fixture(scope="module")
def ivf_index(spark, sf_dir, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ivf_idx"))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    simsearch.build_ivf_index(emb, d, dim=64, n_centroids=8, sample=200)
    return d, emb


def test_ivf_partition_pruning_and_equivalence(spark, ivf_index):
    d, emb = ivf_index
    import json
    meta = json.load(open(f"{d}/meta.json"))
    cent = np.array(meta["centroids"])
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).first()["embedding"]]
    df = simsearch.ivf_topk(spark, d, qv, k=10, nprobe=2)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "_cell" in plan and "PartitionFilters" in plan, plan[:800]
    # equals exact cosine restricted to the probed cells (flat scan)
    cells = simsearch.ivf_probe_cells(qv, cent, nprobe=2)
    want = simsearch.cosine_topk(
        emb.withColumn("_c", simsearch.ivf_cell_col("embedding", cent))
        .where(F.col("_c").isin(cells)), qv, k=10).toPandas()
    assert df.toPandas().values.tolist() == want.values.tolist()


def test_ivf_centroids_deterministic(spark, ivf_index):
    d, emb = ivf_index
    samp = (emb.orderBy("vec_id").limit(200)
            .select("embedding").toPandas()["embedding"])
    vs = np.array([np.asarray(x, dtype=np.float64) for x in samp])
    c1 = simsearch.kmeans_centroids(vs, 8)
    c2 = simsearch.kmeans_centroids(vs, 8)
    assert (c1 == c2).all()
    # every cell id in the written index is a valid centroid index and
    # more probes can only widen the candidate set
    one = simsearch.ivf_topk(spark, d, [1.0] * 64, k=10**6, nprobe=1).count()
    allp = simsearch.ivf_topk(spark, d, [1.0] * 64, k=10**6, nprobe=8).count()
    assert allp == emb.count() and one <= allp


def test_uncapped_big_bucket_anchor_path(spark):
    """Uncapped buckets of 600 (minhash) and 1100 (simhash) members
    span several anchor tiles under the shared byte budget — the tiled
    path must produce the exact full O(c^2) expansion."""
    c = 600
    rows = [(i, "same duplicated payload for the anchor path test") for i in range(c)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = textops.minhash_lsh_pairs(docs, threshold=0.9,
                                      max_bucket_size=None).toPandas()
    assert len(pairs) == c * (c - 1) // 2
    assert (pairs["est_jaccard"] == 1.0).all()
    # every doc participates, smallest anchor covers c-1 pairs
    assert (pairs["id_a"] == 0).sum() == c - 1

    c2 = 1100
    rows2 = [(i, "identical simhash family page") for i in range(c2)]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    sp = textops.simhash_neardup_pairs(docs2, max_hamming=0,
                                       max_bucket_size=None).toPandas()
    assert len(sp) == c2 * (c2 - 1) // 2
    assert (sp["hamming"] == 0).all()


def _check_bucket_memory(monkeypatch, ps, sigs):
    """One uncapped bucket of ``len(sigs)`` members (row 7 planted as a
    copy of row 3) expands its pairs in anchor tiles under a fixed
    byte budget: peak memory stays O(c·payload), far under one dense
    c×c float64 block, the planted pair is the only one kept, and the
    tiling never changes a bit of the output."""
    import tracemalloc

    import pandas as pd

    c = len(sigs)
    sigs[7] = sigs[3]
    ids = np.arange(c, dtype=np.int64)
    rows = ps.rows(pd.Series(sigs))
    tracemalloc.start()
    try:
        a, b, _ = textops._expand_bucket(ids, rows, ps, None)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert list(zip(a, b)) == [(3, 7)]
    bound = 8 * textops._PAIR_TILE_BYTES + 32 * rows.nbytes
    assert bound < c * c * 8 and peak < bound, peak

    keep_all = ps._replace(keep=lambda v: np.ones(v.shape, dtype=bool))

    def tiled(anchors):  # every pair of the first 300 rows, `anchors` per tile
        monkeypatch.setattr(textops, "_PAIR_TILE_BYTES",
                            (keep_all.pair_bytes + 2) * 299 * anchors)
        return textops._expand_bucket(ids[:300], rows[:300], keep_all, None)

    whole = tiled(299)  # one tile
    assert len(whole[0]) == 300 * 299 // 2
    for got, want in zip(tiled(7), whole):
        assert got.dtype == want.dtype and np.array_equal(got, want, equal_nan=True)


def test_uncapped_cosine_bucket_memory(monkeypatch):
    rng = np.random.default_rng(3)
    sigs = list(rng.normal(size=(4096, 16)))
    _check_bucket_memory(monkeypatch, simsearch._cosine_score(0.99), sigs)


def test_uncapped_minhash_bucket_memory(monkeypatch):
    rng = np.random.default_rng(4)
    # few distinct values: unrelated rows share some entries, so the
    # estimates vary and the tiled-vs-one-tile check compares real values
    sigs = list(rng.integers(0, 8, size=(4096, 16)))
    _check_bucket_memory(monkeypatch, textops._minhash_score(16, 0.99), sigs)


def test_uncapped_simhash_bucket_memory(monkeypatch):
    rng = np.random.default_rng(5)
    sigs = list(rng.integers(0, 1 << 60, size=4096))
    _check_bucket_memory(monkeypatch, textops._simhash_score(3), sigs)


def test_zero_vectors_pair_with_nothing(spark):
    """A zero vector has no cosine and pairs with nothing: the exact
    and the (uncapped) LSH near-dup operators agree on 40 4-dim
    vectors with 3 zero rows, and neither raises."""
    import pandas as pd

    rng = np.random.default_rng(5)
    V = rng.normal(size=(40, 4))
    V[:3] = 0.0
    V[[10, 11, 12]] = V[5] * np.array([[2.0], [3.0], [0.5]])
    V[[20, 21]] = V[15] * np.array([[4.0], [1.5]])
    df = spark.createDataFrame([(i, V[i].tolist()) for i in range(40)],
                               "vec_id long, embedding array<double>")
    key = ["id_a", "id_b"]
    exact = simsearch.cosine_neardup_pairs(df, threshold=0.99).toPandas() \
        .sort_values(key, ignore_index=True)
    lsh = simsearch.cosine_neardup_pairs_lsh(
        df, dim=4, threshold=0.99, n_planes=4, max_bucket_size=None).toPandas() \
        .sort_values(key, ignore_index=True)
    pd.testing.assert_frame_equal(lsh, exact)
    planted = {(a, b) for g in ([5, 10, 11, 12], [15, 20, 21])
               for a in g for b in g if a < b}
    got = set(zip(exact["id_a"], exact["id_b"]))
    assert planted <= got
    assert not any(a < 3 or b < 3 for a, b in got)


def test_topk_skips_zero_vectors(spark):
    """cosine_topk and lsh_topk never rank a zero vector: on 40 4-dim
    vectors with 3 zero rows both equal brute force over the nonzero
    rows (lsh_topk: those in the query's bucket), and a zero query
    vector raises ValueError."""
    rng = np.random.default_rng(5)
    V = rng.normal(size=(40, 4))
    V[:3] = 0.0
    df = spark.createDataFrame([(i, V[i].tolist()) for i in range(40)],
                               "vec_id long, embedding array<double>")
    q = V[7].tolist()
    planes = simsearch.hyperplanes(4, 2)

    def bucket(v):
        return sum(1 << i for i, p in enumerate(planes) if float(np.dot(p, v)) > 0)

    def brute(ids):
        cos = np.array([float(np.dot(V[i], q) / (np.linalg.norm(V[i]) * np.linalg.norm(q)))
                        for i in ids])
        cos = np.sign(cos) * np.floor(np.abs(cos) * 1e4 + 0.5) / 1e4  # HALF_UP
        order = np.lexsort((np.asarray(ids), -cos))
        return [int(ids[i]) for i in order], cos[order]

    live = list(range(3, 40))
    for got, (ids, cos) in (
            (simsearch.cosine_topk(df, q, k=40), brute(live)),
            (simsearch.lsh_topk(df, q, k=40, n_planes=2),
             brute([i for i in live if bucket(V[i]) == bucket(q)]))):
        pdf = got.toPandas()
        assert pdf["vec_id"].tolist() == ids
        np.testing.assert_allclose(pdf["cosine"].to_numpy(), cos, atol=1e-9)
    for fn in (simsearch.cosine_topk, simsearch.lsh_topk):
        with pytest.raises(ValueError, match="zero"):
            fn(df, [0.0] * 4)


def test_spread_split_count_matches_spark(spark, tmp_path):
    """``_spread`` repartitions to the core count exactly when Spark's
    own split count (``df.rdd``) is below it, on file scans (whole or
    filtered) and on other plans."""
    target = spark.sparkContext.defaultParallelism
    src = spark.range(0, 1000).selectExpr("id AS doc_id", "cast(id AS string) AS text")
    one, many = str(tmp_path / "one"), str(tmp_path / "many")
    src.coalesce(1).write.parquet(one)
    src.repartition(target + 3).write.parquet(many)
    for df in (spark.read.parquet(one),
               spark.read.parquet(one).where("doc_id > 5").select("text"),
               spark.read.parquet(many),
               spark.range(0, 100, 1, 1),
               spark.range(0, 100, 1, target + 1)):
        n = df.rdd.getNumPartitions()
        assert textops._spread(df).rdd.getNumPartitions() == max(n, target)
