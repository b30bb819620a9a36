"""Offset paging contract: ``search_df`` must return rows
offset+1..offset+k — the same page ``search()`` returns — via the
rank-window-above-the-limit pattern (never window-then-limit, which
would sort the full hit set; never limit-without-skip, which returns
the wrong page) — on every keyword-search path."""

from __future__ import annotations

import pytest

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.query import SearchRequest
from bobo_spark.webgen import webpages
from conftest import QUERY_PATHS, path_readers


@pytest.fixture(scope="module")
def readers(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_page"))
    build_snapshot(spark, webpages(spark, 600, 4), d,
                   BuildConfig(docs_per_segment=150))
    return path_readers(spark, d)


@pytest.fixture(scope="module")
def reader(readers):
    return readers["cache"]


@pytest.mark.parametrize("offset", [0, 3, 17])
def test_search_df_matches_search_page(readers, offset):
    req = SearchRequest(query="ba be", mode="or", k=5, offset=offset)
    want = readers["cache"].search(req).hits
    for path in QUERY_PATHS:
        got = (readers[path].search_df(req).toPandas()
               .sort_values(["score", "doc_id"], ascending=[False, True])
               .reset_index(drop=True))
        assert got["doc_id"].tolist() == want["doc_id"].tolist(), path
        assert got["score"].tolist() == want["score"].tolist(), path


@pytest.mark.parametrize("offset", [0, 4])
def test_search_df_matchall_page(reader, offset):
    req = SearchRequest(query=None, k=6, offset=offset,
                        selections={"lang": ["en"]})
    want = reader.search(req).hits
    got = (reader.search_df(req).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_search_df_pages_are_disjoint_and_contiguous(reader):
    req0 = SearchRequest(query="ba", mode="or", k=20, offset=0)
    all_ids = reader.search(req0).hits["doc_id"].tolist()
    p1 = reader.search_df(
        SearchRequest(query="ba", mode="or", k=10, offset=0)).toPandas()
    p2 = reader.search_df(
        SearchRequest(query="ba", mode="or", k=10, offset=10)).toPandas()
    got = (p1["doc_id"].tolist() +
           p2.sort_values(["score", "doc_id"],
                          ascending=[False, True])["doc_id"].tolist())
    p1s = p1.sort_values(["score", "doc_id"], ascending=[False, True])
    assert p1s["doc_id"].tolist() + got[10:] == all_ids
