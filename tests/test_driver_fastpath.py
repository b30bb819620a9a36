"""Driver fast path: a reader whose index fits the in-driver block
cache ("cache") scores every request on the driver — no groupBy
exchange, no Python-worker round trip, one scoring pass per plan over
the whole store. Results must be IDENTICAL to the distributed path
(same scorer, per segment there)."""

from __future__ import annotations

import pandas as pd
import pytest

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark import query
from bobo_spark.query import SearchRequest
from bobo_spark.webgen import webpages
from conftest import assert_same_result, path_readers


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_fast"))
    build_snapshot(spark, webpages(spark, 900, 5), d,
                   BuildConfig(docs_per_segment=200, block_size=32))
    delete_docs(spark, d, [3, 7])
    return path_readers(spark, d)


REQS = [
    SearchRequest(query="ba be", mode="and", k=10, facets=("lang",)),
    SearchRequest(query="ba ka vu", mode="or", k=10),
    SearchRequest(query="ba be", mode="phrase", k=10),
    SearchRequest(query="ka", mode="or", k=10, selections={"lang": ["en"]},
                  facets=("ts_bucket",)),
    SearchRequest(query="ba be", mode="or", k=5, explain=True),
]


def test_fastpath_equals_distributed(env):
    assert env["cache"]._postings_driver() is not None
    assert env["distributed"]._postings_driver() is None
    for req in REQS:
        assert_same_result(env["distributed"].search(req),
                           env["cache"].search(req), req)


def test_section_fastpath_equals_distributed(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_fast_sec"))
    build_snapshot(spark, webpages(spark, 600, 4), d,
                   BuildConfig(docs_per_segment=150, sections=("window", 8)))
    readers = path_readers(spark, d)
    trees = [("and", ("term", "ba"), ("term", "be")),
             ("phrase", "ba be"),
             ("or", ("term", "ka"), ("and", ("term", "ba"),
                                     ("not", ("term", "vu"))))]
    for tree in trees:
        want = readers["cache"].section_search(tree, k=30)
        got = readers["distributed"].section_search(tree, k=30)
        assert got.num_hits == want.num_hits, tree
        pd.testing.assert_frame_equal(got.hits, want.hits)


def test_cached_fastpath_unknown_term_with_selection(env):
    """r6 regression: an UNKNOWN query term carries term_id -1, the id
    older builds gave their per-doc forward runs; it must resolve to
    no posting block (a forward run would turn the candidate set into
    every doc). OR-mode query with one unknown term + a postings-mode
    selection must match the distributed path exactly."""
    req = SearchRequest(query=["ba", "zzznothing"], mode="or", k=10,
                        facets=("lang",), selections={"lang": ["fr"]})
    assert env["cache"]._postings_driver() is not None
    assert_same_result(env["distributed"].search(req), env["cache"].search(req))


def test_one_score_pass_per_plan(env, monkeypatch):
    """The cache path scores each plan ONCE over the whole store, not
    once per segment: a cached search calls _score_plan once, a cached
    search_many once per runnable plan."""
    calls = []
    orig = query._score_plan

    def spy(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(query, "_score_plan", spy)
    assert env["cache"].snap.stats["n_segments"] >= 4
    reqs = REQS + [SearchRequest(query="ba zzznothing", mode="and")]
    runnable = sum(query._runnable(env["cache"].plan(r)) for r in reqs)
    assert runnable == len(REQS)
    for req in REQS:
        calls.clear()
        env["cache"].search(req)
        assert len(calls) == 1, req
    calls.clear()
    env["cache"].search_many(reqs)
    assert len(calls) == runnable
