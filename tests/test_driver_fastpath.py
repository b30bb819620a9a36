"""Driver fast path: queries whose total posting count (known exactly
from the dictionary df) is page-scale score on the driver — from the
in-driver block cache ("cache") or one term-filtered scan ("scan") —
with no groupBy exchange and no Python-worker round trip, one scoring
pass per plan over the whole store. Results must be IDENTICAL to the
distributed path (same scorer, per segment there)."""

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
    assert env["scan"]._postings_driver() is None
    assert not env["distributed"]._driver_fastpath(
        env["distributed"].plan(REQS[0]))
    for req in REQS:
        assert env["cache"]._driver_fastpath(env["cache"].plan(req)), req
        want = env["cache"].search(req)
        for path in ("scan", "distributed"):
            assert_same_result(env[path].search(req), want, (path, req))


def test_fastpath_costs_postings_selections(env):
    reader = env["cache"]
    # r6: postings-mode selections resolve their sentinel Σdf at plan
    # time (plan["sel_df"]), so the fast path is cost-gated on the
    # COMBINED posting volume — in-gate selections are served on the
    # driver, and a selection heavy enough to breach the gate declines
    plan = reader.plan(SearchRequest(query="ba", mode="or", k=5))
    assert reader._driver_fastpath(plan)
    plan["sel_lang_tids"] = [123]
    plan["sel_df"] = reader.DRIVER_POSTINGS_THRESHOLD + 1
    assert not reader._driver_fastpath(plan)


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
        for path in ("scan", "distributed"):
            got = readers[path].section_search(tree, k=30)
            assert got.num_hits == want.num_hits, (path, tree)
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
    want = env["cache"].search(req)
    for path in ("scan", "distributed"):
        assert_same_result(env[path].search(req), want, path)


def test_one_score_pass_per_plan(env, monkeypatch):
    """The driver paths score each plan ONCE over the whole store, not
    once per segment: cached search calls _score_plan once, cached
    search_many once per runnable plan, and the scan path once per
    plan."""
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
    for path in ("cache", "scan"):
        for req in REQS:
            calls.clear()
            env[path].search(req)
            assert len(calls) == 1, (path, req)
    calls.clear()
    env["cache"].search_many(reqs)
    assert len(calls) == runnable
