"""search_many (batch query execution) must return results identical
to per-query search() across the reference query set, on every
request path (the cache-path search() is the reference)."""

from __future__ import annotations

import pytest

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.oracle import reference_queryset
from bobo_spark.query import SearchRequest
from bobo_spark.webgen import make_vocab, webpages
from conftest import QUERY_PATHS, assert_same_result, path_readers


@pytest.fixture(scope="module")
def readers(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_many"))
    build_snapshot(spark, webpages(spark, 1200, 6), d,
                   BuildConfig(docs_per_segment=200, block_size=64))
    return path_readers(spark, d)


def _check_batch(readers, reqs):
    """Batch and single results on every path equal the cache-path
    single search."""
    want = [readers["cache"].search(r) for r in reqs]
    for path in QUERY_PATHS:
        for req, ref in zip(reqs, want):
            assert_same_result(readers[path].search(req), ref,
                               (path, "single", req))
    for path in QUERY_PATHS:
        batch = readers[path].search_many(reqs)
        assert len(batch) == len(reqs)
        for req, got, ref in zip(reqs, batch, want):
            assert_same_result(got, ref, (path, "batch", req))
    return want


def test_batch_equals_single(readers):
    qs = reference_queryset(make_vocab(), n_conj=6, n_disj=6, n_lang=4, n_ts=4)
    reqs = [
        SearchRequest(query=q["query"], mode=q.get("mode", "and"), k=10,
                      facets=("lang",), selections=q.get("selections", {}),
                      ts_range=q.get("ts_range"))
        for q in qs
    ]
    reqs.append(SearchRequest(query=["zzznothing"], mode="and", k=5))  # unrunnable
    reqs.append(SearchRequest(query=["zzznothing", "ba"], mode="or", k=5))
    assert readers["cache"]._postings_driver() is not None
    assert readers["distributed"]._postings_driver() is None
    _check_batch(readers, reqs)


def test_batch_prunes_like_single(readers):
    """Facet-less disjunctive queries: batch mode (which trades
    per-query block-max pruning for cross-query decode sharing) must
    stay exact vs solo pruned AND solo unpruned search()."""
    qs = reference_queryset(make_vocab(), n_conj=0, n_disj=8, n_lang=0, n_ts=0)
    reqs = [SearchRequest(query=q["query"], mode="or", k=10) for q in qs]
    want = _check_batch(readers, reqs)
    for req, ref in zip(reqs, want):
        exhaustive = readers["distributed"].search(SearchRequest(
            query=req.query, mode="or", k=10, prune=False))
        assert_same_result(exhaustive, ref, req)


def test_batch_phrase_and_matchall(readers):
    """Phrase queries and MatchAll requests join the batch like any
    other plan — both must equal their solo twins."""
    _check_batch(readers, [
        SearchRequest(query="ba be", mode="phrase", k=10),
        SearchRequest(query=None, k=10, selections={"lang": ["en"]}),
        SearchRequest(query="ba be", mode="and", k=10),
        SearchRequest(query="ba", mode="phrase", k=10),
    ])


def test_batch_explain_empty_result_matches_single(readers):
    # ADVICE r4: explain=True on a zero-hit query must return an empty
    # (doc_id, part, value) frame from BOTH paths, not None from batch
    req = SearchRequest(query=["zzznothing"], mode="and", k=5, explain=True)
    for path in QUERY_PATHS:
        single = readers[path].search(req)
        assert single.explanations is not None and len(single.explanations) == 0
        batch = readers[path].search_many([req])[0]
        assert batch.explanations is not None and len(batch.explanations) == 0
        assert list(batch.explanations.columns) == list(single.explanations.columns)


def test_k0_returns_counts_only(readers):
    """k=0 answers num_hits and facet counts with an empty page, on
    every path, single and batch — keyword (AND, pruned OR, phrase)
    and MatchAll alike."""
    kw = [SearchRequest(query="ba be", mode="and", facets=("lang",)),
          SearchRequest(query="ba be", mode="or"),
          SearchRequest(query="ba ka", mode="or", facets=("lang", "ts_bucket"),
                        selections={"lang": ["en"]}),
          SearchRequest(query="ba be", mode="phrase", facets=("lang",)),
          SearchRequest(query=None, facets=("lang",), selections={"lang": ["de"]})]
    zero = [SearchRequest(query=r.query, mode=r.mode, k=0, facets=r.facets,
                          selections=r.selections) for r in kw]
    want = [readers["cache"].search(r) for r in kw]
    for path in QUERY_PATHS:
        for res in ([readers[path].search(r) for r in zero],
                    readers[path].search_many(zero)):
            for req, got, ref in zip(zero, res, want):
                assert ref.num_hits > 0, req
                assert len(got.hits) == 0, (path, req)
                assert got.num_hits == ref.num_hits, (path, req)
                for f in req.facets:
                    assert got.facets[f].equals(ref.facets[f]), (path, req, f)


def test_distributed_leaves_session_conf_alone(readers, spark, monkeypatch):
    """No request flips session-global Spark conf: a distributed
    search_many and search never call spark.conf.set, and AQE stays as
    the session set it."""
    from pyspark.sql.conf import RuntimeConfig

    calls = []
    orig = RuntimeConfig.set

    def spy(self, key, value):
        calls.append((key, value))
        return orig(self, key, value)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    monkeypatch.setattr(RuntimeConfig, "set", spy)
    reqs = [SearchRequest(query="ba be", mode="or", k=5),
            SearchRequest(query=None, k=5, selections={"lang": ["en"]})]
    readers["distributed"].search_many(reqs)
    readers["distributed"].search(reqs[0])
    assert not calls, calls
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe
