"""search_many (batch query execution) must return results identical
to per-query search() across the reference query set, on every
keyword-search path (the cache-path search() is the reference)."""

from __future__ import annotations

import pytest

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.oracle import reference_queryset
from bobo_spark.query import SearchRequest
from bobo_spark.webgen import make_vocab, webpages
from conftest import BATCH_PATHS, QUERY_PATHS, assert_same_result, path_readers


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
    for path in BATCH_PATHS:
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
        exhaustive = readers["scan"].search(SearchRequest(
            query=req.query, mode="or", k=10, prune=False))
        assert_same_result(exhaustive, ref, req)


def test_batch_phrase_and_matchall(readers):
    """Phrase queries share the batch task's full-frame decode (no
    conjunctive block skip in batch mode) and MatchAll requests route
    to the forward-scan path — both must equal their solo twins."""
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
        if path not in BATCH_PATHS:
            continue
        batch = readers[path].search_many([req])[0]
        assert batch.explanations is not None and len(batch.explanations) == 0
        assert list(batch.explanations.columns) == list(single.explanations.columns)
