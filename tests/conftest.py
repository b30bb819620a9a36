from __future__ import annotations

import os

import pandas as pd
import pytest

# The two request paths of IndexReader (see bobo_spark.query): "cache"
# scores from the in-driver block cache, and "distributed" scores each
# segment in a Spark task.
QUERY_PATHS = ("cache", "distributed")


def pin_path(reader, path: str):
    """Pin ``reader`` to one request path by instance attributes
    alone."""
    assert path in QUERY_PATHS, path
    if path == "distributed":
        reader._driver_cache_ok = False
    return reader


def path_readers(spark, index_dir: str, paths=QUERY_PATHS) -> dict:
    """One fresh reader of ``index_dir`` per path, keyed by path."""
    from bobo_spark.query import IndexReader

    return {p: pin_path(IndexReader(spark, index_dir), p) for p in paths}


def assert_same_result(got, want, ctx=None) -> None:
    """Two SearchResults are identical: page doc_ids, float64 scores,
    num_hits, and facet and explanation frames (columns, dtypes, index
    and values, in order)."""
    assert got.hits["doc_id"].tolist() == want.hits["doc_id"].tolist(), ctx
    assert got.hits["score"].tolist() == want.hits["score"].tolist(), ctx
    assert got.num_hits == want.num_hits, ctx
    assert set(got.facets) == set(want.facets), ctx
    for f in want.facets:
        pd.testing.assert_frame_equal(got.facets[f], want.facets[f],
                                      obj=f"facet {f!r} {ctx}")
    if want.explanations is None:
        assert got.explanations is None, ctx
    else:
        pd.testing.assert_frame_equal(got.explanations, want.explanations,
                                      obj=f"explanations {ctx}")


@pytest.fixture
def prune_spy(monkeypatch):
    """Counts driver-side calls of query._blockmax_prune (executor-side
    calls on the distributed path run in worker processes and are not
    seen)."""
    from bobo_spark import query

    calls = []
    orig = query._blockmax_prune

    def spy(*args, **kwargs):
        calls.append(1)
        return orig(*args, **kwargs)

    monkeypatch.setattr(query, "_blockmax_prune", spy)
    return calls


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from bobo_spark.session import get_spark

    s = get_spark("bobo_spark_tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
