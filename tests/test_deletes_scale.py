"""Scale audit of the tombstone design (r3 verdict item: the delete
set must never ride inside query plans).

100k tombstones: query plans stay O(1) in the tombstone count (the
applyInPandas paths carry only a broadcast HANDLE of the reader's one
sorted global doc_id array, never an ``isin`` literal list), keyword
and MatchAll alike."""

from __future__ import annotations

import pickle

import numpy as np
import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.webgen import webpages

N_DOCS = 120_000
# 5 of every 6 docs tombstoned -> 100k tombstones over 20k survivors
_KEEP_MOD = 6


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_del_scale"))
    docs = webpages(spark, N_DOCS, 16)
    build_snapshot(spark, docs, d, BuildConfig(docs_per_segment=15_000))
    pre = IndexReader(spark, d)
    pre_hits = pre.search(
        SearchRequest(query="ba be", mode="or", k=10**7, prune=False))
    victims = spark.range(N_DOCS).where(F.col("id") % _KEEP_MOD != 0) \
        .select(F.col("id").alias("doc_id"))
    delete_docs(spark, d, victims)
    after = IndexReader(spark, d)
    return spark, d, pre_hits, after


def test_tombstone_count_and_broadcast_shape(env):
    spark, d, pre_hits, after = env
    n_del = N_DOCS - (N_DOCS + _KEEP_MOD - 1) // _KEEP_MOD
    assert after.snap.stats["n_deleted"] == n_del
    # one global sorted array, broadcast as is
    assert after.deleted.size == n_del
    assert (np.diff(after.deleted) > 0).all()
    np.testing.assert_array_equal(after._deleted_bc.value, after.deleted)


def test_query_plan_payload_is_o1(env):
    """The pickled plan an executor closure ships must not grow with
    the tombstone count (r3: 100k ids -> ~1 MB per plan per segment)."""
    spark, d, pre_hits, after = env
    plan = after.plan(SearchRequest(query="ba be", mode="or", k=10))
    assert "deleted" not in plan
    assert len(pickle.dumps(plan)) < 20_000


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dataframe_paths_carry_no_tombstone_literals(env):
    """A distributed MatchAll ``search_df`` filters tombstones in its
    segment tasks through the broadcast: its plan holds no id list."""
    spark, d, pre_hits, after = env
    dist = IndexReader(spark, d, cache=False)
    for df in (
        dist.search_df(SearchRequest(query=None, k=10)),
        dist.search_df(SearchRequest(query=None, k=10,
                                     selections={"lang": ["en"]})),
    ):
        plan = _executed(df)
        assert "FlatMapGroupsInPandas" in plan, plan[:800]
        # a 100k-id literal IN list would be megabytes of plan text
        assert len(plan) < 100_000


def test_search_exact_under_mass_deletes(env):
    """Post-delete ranking == pre-delete ranking minus tombstones,
    scores bit-identical (df/avgdl unchanged until merge)."""
    spark, d, pre_hits, after = env
    surv = pre_hits.hits[pre_hits.hits["doc_id"] % _KEEP_MOD == 0]
    for prune in (True, False):
        got = after.search(
            SearchRequest(query="ba be", mode="or", k=25, prune=prune))
        assert got.hits["doc_id"].tolist() == surv["doc_id"].head(25).tolist()
        assert got.hits["score"].tolist() == surv["score"].head(25).tolist()
        assert got.num_hits == len(surv)


def test_matchall_and_facets_under_mass_deletes(env):
    spark, d, pre_hits, after = env
    n_live = (N_DOCS + _KEEP_MOD - 1) // _KEEP_MOD
    ma = after.search(SearchRequest(query=None, k=5))
    assert ma.num_hits == n_live
    fc = after.facet_counts("lang")
    assert int(fc["count"].sum()) == n_live
