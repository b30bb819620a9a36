"""MatchAll / selection-only search on the BM25 index engine
(query=None ≙ MatchAllDocsQuery AND-wrapped with the filter set,
api/MultiBoboBrowser.java:81-92): a plan over the lang facet sentinel
postings, constant score, ordinal-bincount facets with multi-select
leave-one-out — the same scorer and merge as keyword search, on both
request paths."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.webgen import webpages
from conftest import QUERY_PATHS, assert_same_result, path_readers


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_ma"))
    docs = webpages(spark, 700, 3)
    build_snapshot(spark, docs, d, BuildConfig(docs_per_segment=175))
    return IndexReader(spark, d), docs


def test_matchall_no_selection(env):
    reader, docs = env
    res = reader.search(SearchRequest(query=None, k=7))
    assert res.num_hits == docs.count() == reader.n_docs
    want = [r["doc_id"] for r in
            docs.orderBy("doc_id").limit(7).select("doc_id").collect()]
    assert list(res.hits["doc_id"]) == want
    assert set(res.hits["score"]) == {1.0}


def test_matchall_selection_and_facets(env):
    reader, docs = env
    res = reader.search(SearchRequest(
        query=None, k=5, offset=2, selections={"lang": ["de", "fr"]},
        facets=("lang", "ts_bucket")))
    sel = docs.where(F.col("lang").isin(["de", "fr"]))
    assert res.num_hits == sel.count()
    want = [r["doc_id"] for r in
            sel.orderBy("doc_id").limit(7).collect()][2:]
    assert list(res.hits["doc_id"]) == want
    # expand_selection: lang counts ignore the lang filter (full corpus)
    want_lang = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    got_lang = dict(zip(res.facets["lang"]["value"], res.facets["lang"]["count"]))
    assert got_lang == want_lang
    # ts_bucket counts honor the lang filter
    want_ts = {r["b"]: r["count"] for r in
               sel.groupBy(F.date_format(F.date_trunc("day", "warc_ts"),
                                         "yyyy-MM-dd").alias("b")).count().collect()}
    got_ts = dict(zip(res.facets["ts_bucket"]["value"],
                      res.facets["ts_bucket"]["count"]))
    assert got_ts == want_ts


def test_matchall_search_df(env):
    reader, docs = env
    df = reader.search_df(SearchRequest(
        query=None, k=4, selections={"lang": ["en"]}), with_url=True)
    rows = df.orderBy("doc_id").collect()
    want = docs.where(F.col("lang") == "en").orderBy("doc_id").limit(4).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in want]
    assert [r["url"] for r in rows] == [r["url"] for r in want]
    assert set(r["score"] for r in rows) == {1.0}


def test_term_vectors(env):
    """Term-vector reconstruction ≙ SortCollectorImpl.java:430-466:
    exact (term, tf, positions) per requested doc."""
    from bobo_spark.tokenizer import tokenize

    reader, docs = env
    ids = [3, 411, 12]
    got = reader.term_vectors(ids).toPandas()
    texts = {r["doc_id"]: r["text"] for r in
             docs.where(F.col("doc_id").isin(ids)).collect()}
    import collections
    want = {}
    for d, text in texts.items():
        toks = tokenize(text)
        posmap = collections.defaultdict(list)
        for p, t in enumerate(toks):
            posmap[t].append(p)
        for t, ps in posmap.items():
            want[(d, t)] = (len(ps), ",".join(map(str, ps)))
    gmap = {(r["doc_id"], r["term"]): (r["tf"], r["positions"])
            for _, r in got.iterrows()}
    assert gmap == want


def test_search_many_with_matchall(env):
    """A MatchAll request inside a batch must return the same result
    as its solo search(), alongside normal term queries."""
    reader, docs = env
    reqs = [
        SearchRequest(query="ba be", mode="and", k=5),
        SearchRequest(query=None, k=5, selections={"lang": ["en"]}),
        SearchRequest(query="ka", mode="or", k=5),
    ]
    batch = reader.search_many(reqs)
    for req, got in zip(reqs, batch):
        solo = reader.search(req)
        assert got.num_hits == solo.num_hits
        assert got.hits["doc_id"].tolist() == solo.hits["doc_id"].tolist()


_GROUPS = itertools.count()


def _job_count(spark, fn):
    # one group per call: a group's job ids accumulate across calls
    group = f"ma_jobcount_{next(_GROUPS)}"
    spark.sparkContext.setJobGroup(group, "matchall job count")
    try:
        fn()
    finally:
        spark.sparkContext.setJobGroup(None, None)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def readers(spark, env):
    return path_readers(spark, env[0].catalog.index_dir)


def test_matchall_selection_no_facets_single_job(readers, env, spark):
    """A selection-only MatchAll without facets runs no Spark job on
    the cache path and one scoring query on the distributed path: the
    segment tasks serve page and exact num_hits together. AQE runs
    that query as two jobs (the shuffle stage, then the result);
    a warm-up request first builds the reader's persisted postings
    cache, which AQE runs as a job of its own."""
    _reader, docs = env
    req = SearchRequest(query=None, k=6, offset=1,
                        selections={"lang": ["de"]})
    sel = docs.where(F.col("lang") == "de")
    want = [r["doc_id"] for r in sel.orderBy("doc_id").limit(7).collect()][1:]
    readers["distributed"].search(SearchRequest(query=None, k=1))
    for path, most in (("cache", 0), ("distributed", 2)):
        holder = {}
        jobs = _job_count(spark, lambda: holder.update(r=readers[path].search(req)))
        res = holder["r"]
        assert res.num_hits == sel.count(), path
        assert list(res.hits["doc_id"]) == want, path
        assert jobs <= most, (path, jobs)


def test_matchall_facet_rides_count(env, spark):
    """num_hits and every facet count of a MatchAll request come from
    the one scoring pass — on a cached reader, with no Spark job."""
    reader, docs = env
    req = SearchRequest(query=None, k=5, selections={"lang": ["de"]},
                        facets=("ts_bucket",))
    holder = {}
    jobs = _job_count(spark, lambda: holder.update(r=reader.search(req)))
    res = holder["r"]
    sel = docs.where(F.col("lang") == "de")
    assert res.num_hits == sel.count()
    assert int(res.facets["ts_bucket"]["count"].sum()) == res.num_hits
    assert jobs == 0


def _matchall_cases(reader) -> list:
    days = sorted(reader.dicts["ts_bucket"]["value"])
    two_day = (days[0], days[min(1, len(days) - 1)])
    facets = ("lang", "ts_bucket")
    out = []
    for exp in (True, False):
        for sel, rng in (({}, None), ({"lang": ["de", "fr"]}, None),
                         ({"lang": ["en", "nl"]}, two_day),
                         ({"ts_bucket": [days[0]]}, None)):
            for k, offset in ((10, 0), (5, 3), (0, 0)):
                out.append(SearchRequest(query=None, k=k, offset=offset,
                                         selections=sel, ts_range=rng,
                                         facets=facets, expand_selection=exp))
        out.append(SearchRequest(query=None, k=4, selections={"lang": ["it"]},
                                 expand_selection=exp))
    return out


def _check_paths(readers, reqs):
    """Single and batch MatchAll results are identical on every path
    (the cache-path single search is the reference)."""
    want = [readers["cache"].search(r) for r in reqs]
    for path in QUERY_PATHS:
        for req, ref in zip(reqs, want):
            assert_same_result(readers[path].search(req), ref, (path, req))
        for req, got, ref in zip(reqs, readers[path].search_many(reqs), want):
            assert_same_result(got, ref, (path, "batch", req))
    return want


def test_matchall_paths_agree(readers):
    reqs = _matchall_cases(readers["cache"])
    want = _check_paths(readers, reqs)
    by_sel = {}
    for req, ref in zip(reqs, want):
        assert ref.explanations is None
        assert set(ref.hits["score"]) <= {1.0}
        assert ref.hits["doc_id"].is_monotonic_increasing
        key = (repr(req.selections), req.ts_range, req.expand_selection, req.facets)
        if req.k == 0:
            # counts alone, the same as the paged request's
            assert len(ref.hits) == 0
            full = by_sel[key]
            assert ref.num_hits == full.num_hits
            for f in req.facets:
                assert ref.facets[f].equals(full.facets[f]), (req, f)
        by_sel.setdefault(key, ref)


def test_matchall_paths_agree_under_deletes(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_ma_del"))
    docs = webpages(spark, 400, 2)
    build_snapshot(spark, docs, d, BuildConfig(docs_per_segment=100))
    de = [r["doc_id"] for r in docs.where(F.col("lang") == "de").collect()]
    victims = de[::2] + [3, 150, 399]
    delete_docs(spark, d, victims)
    readers = path_readers(spark, d)
    want = _check_paths(readers, _matchall_cases(readers["cache"]))
    everything = want[0]
    assert everything.num_hits == 400 - len(set(victims))
    live = docs.where(~F.col("doc_id").isin(victims))
    got = dict(zip(everything.facets["lang"]["value"],
                   everything.facets["lang"]["count"]))
    assert got == {r["lang"]: r["count"]
                   for r in live.groupBy("lang").count().collect()}
    for path, r in readers.items():
        assert r.facet_counts("lang").equals(everything.facets["lang"]), path


def test_cached_matchall_runs_no_spark_jobs(env, spark):
    """A cached MatchAll search and a mixed keyword + MatchAll batch
    run zero Spark jobs."""
    reader, _docs = env
    ma = SearchRequest(query=None, k=5, offset=2, selections={"lang": ["de", "fr"]},
                       ts_range=("2000-01-01", "2100-01-01"),
                       facets=("lang", "ts_bucket"))
    mixed = [SearchRequest(query="ba be", mode="and", k=5, facets=("lang",)), ma,
             SearchRequest(query="ka", mode="or", k=5),
             SearchRequest(query=None, k=0, facets=("lang",))]
    assert _job_count(spark, lambda: reader.search(ma)) == 0
    assert _job_count(spark, lambda: reader.search_many(mixed)) == 0
