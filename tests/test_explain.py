"""Score explanations (≙ BrowseHit.getExplanation,
api/BrowseHit.java:271-282): per-hit per-term BM25 contributions that
reproduce the hit score BIT-EXACTLY when summed in the engine's
pinned ascending-lex term order and multiplied by the recency
factor."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.tokenizer import tokenize
from bobo_spark.webgen import webpages
from conftest import QUERY_PATHS, path_readers


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_expl"))
    build_snapshot(spark, webpages(spark, 700, 4), d,
                   BuildConfig(docs_per_segment=175))
    return d


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def _check_exact(res, with_recency=False):
    assert res.explanations is not None and len(res.explanations)
    for d, s in zip(res.hits["doc_id"], res.hits["score"]):
        ex = res.explanations[res.explanations["doc_id"] == d]
        fac = 1.0
        if with_recency:
            b = ex[ex["part"] == "recency_boost"]
            assert len(b) == 1
            fac = float(b["value"].iloc[0])
            ex = ex[ex["part"] != "recency_boost"]
        # ascending part order == the engine's pinned accumulation order
        total = np.float64(0.0)
        for v in ex.sort_values("part")["value"]:
            total += np.float64(v)
        assert float(total * fac) == s, d


@pytest.mark.parametrize("mode", ["and", "or"])
def test_explanations_reproduce_scores(reader, mode):
    res = reader.search(SearchRequest(query="ba be", mode=mode, k=10,
                                      explain=True))
    assert len(res.hits)
    _check_exact(res)


def _recency(reader) -> dict:
    d = reader.dicts["ts_bucket"]
    now_ms = int(pd.to_datetime(d["value"], utc=True).astype("int64").max()
                 // 1_000_000) + 86400000
    return {"now_ms": now_ms, "cutoff_ms": 60 * 86400000, "max_factor": 2.0}


def test_explanations_with_recency(reader):
    rec = _recency(reader)
    res = reader.search(SearchRequest(query="ba be", mode="or", k=10,
                                      recency=rec, explain=True))
    assert len(res.hits)
    _check_exact(res, with_recency=True)


def test_explanations_phrase(reader):
    res = reader.search(SearchRequest(query="ba be", mode="phrase", k=10,
                                      explain=True))
    if not len(res.hits):
        pytest.skip("no phrase matches in fixture")
    for d, s in zip(res.hits["doc_id"], res.hits["score"]):
        ex = res.explanations[res.explanations["doc_id"] == d]
        assert ex["part"].tolist() == ["phrase"]
        assert float(ex["value"].iloc[0]) == s


def test_explain_off_by_default(reader):
    res = reader.search(SearchRequest(query="ba be", mode="or", k=5))
    assert res.explanations is None


def test_batch_explanations_match_single(reader):
    reqs = [SearchRequest(query="ba be", mode="or", k=5, explain=True),
            SearchRequest(query="ba be", mode="and", k=5)]
    batch = reader.search_many(reqs)
    single = reader.search(reqs[0])
    pd.testing.assert_frame_equal(batch[0].explanations,
                                  single.explanations)
    assert batch[1].explanations is None


def _explain_requests(spark, reader):
    """AND, OR with recency and phrase explain requests; the phrase is
    the first two tokens of doc 0, so it matches at least once."""
    text = webpages(spark, 700, 4).where("doc_id = 0").first()["text"]
    return [
        SearchRequest(query="ba be", mode="and", k=10, offset=2,
                      facets=("lang",), explain=True),
        SearchRequest(query="ba be ka", mode="or", k=10, facets=("ts_bucket",),
                      recency=_recency(reader), explain=True),
        SearchRequest(query=" ".join(tokenize(text)[:2]), mode="phrase",
                      k=10, explain=True),
    ]


def test_explanations_same_on_every_path(spark, index_dir, reader):
    """Explanation frames are identical on the cache and
    distributed paths, ordered by (doc_id, part) with part in
    code-point order."""
    readers = path_readers(spark, index_dir)
    for req in _explain_requests(spark, reader):
        want = readers["cache"].search(req).explanations
        assert len(want), req
        assert want.dtypes.tolist() == [np.int64, object, np.float64]
        keys = list(zip(want["doc_id"].tolist(), want["part"].tolist()))
        assert keys == sorted(keys), req
        for path in QUERY_PATHS[1:]:
            pd.testing.assert_frame_equal(readers[path].search(req).explanations,
                                          want, obj=f"{path} {req}")


def test_cached_shaping_uses_no_pandas_sort_or_merge(spark, reader, monkeypatch):
    """A cached search or search_many with explanations and facets
    shapes its frames from arrays: no DataFrame.sort_values or
    DataFrame.merge call."""
    reqs = _explain_requests(spark, reader)
    want = [reader.search(r) for r in reqs]
    assert reader._postings_driver() is not None

    def forbidden(*args, **kwargs):
        raise AssertionError("pandas sort/merge on the cached search path")

    monkeypatch.setattr(pd.DataFrame, "sort_values", forbidden)
    monkeypatch.setattr(pd.DataFrame, "merge", forbidden)
    got = [reader.search(r) for r in reqs] + reader.search_many(reqs)
    monkeypatch.undo()
    for g, w in zip(got, want + want):
        pd.testing.assert_frame_equal(g.explanations, w.explanations)
        for f in w.facets:
            pd.testing.assert_frame_equal(g.facets[f], w.facets[f])
