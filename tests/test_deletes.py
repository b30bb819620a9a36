"""Soft deletes (≙ BoboTestCase.java:2142-2195 testBrowseWithDeletes:
delete docs, reopen, hits/counts exclude them; Lucene semantics — df
and avgdl statistics unchanged until merge)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.webgen import webpages
from conftest import assert_same_result, path_readers


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_del"))
    docs = webpages(spark, 500, 3)
    build_snapshot(spark, docs, d, BuildConfig(
        docs_per_segment=125, sections=("window", 8)))
    before = IndexReader(spark, d)
    res = before.search(SearchRequest(query="ba", mode="or", k=20,
                                      facets=("lang",)))
    victims = [int(x) for x in res.hits["doc_id"][:3]]
    delete_docs(spark, d, victims)
    after = IndexReader(spark, d)  # reopen sees the tombstones
    return spark, d, docs, before, after, victims


def test_hits_and_counts_exclude_deleted(env):
    spark, d, docs, before, after, victims = env
    req = SearchRequest(query="ba", mode="or", k=20, facets=("lang",))
    a = after.search(req)
    assert not set(victims) & set(a.hits["doc_id"])
    b = before.search(req)
    assert a.num_hits == b.num_hits - len(victims)
    # facet counts drop exactly the victims' lang values
    langs = {r["doc_id"]: r["lang"] for r in
             docs.where(F.col("doc_id").isin(victims)).collect()}
    # victims all matched 'ba'; count deltas per lang value
    delta = {}
    for v in victims:
        delta[langs[v]] = delta.get(langs[v], 0) + 1
    am = dict(zip(a.facets["lang"]["value"], a.facets["lang"]["count"]))
    bm = dict(zip(b.facets["lang"]["value"], b.facets["lang"]["count"]))
    for k in bm:
        assert am.get(k, 0) == bm[k] - delta.get(k, 0), k


def test_stats_unchanged_until_merge(env):
    _, _, _, before, after, victims = env
    # Lucene semantics: df/avgdl/n_docs stats keep counting tombstoned
    # docs until a merge (scores of surviving docs are unchanged)
    assert after.n_docs == before.n_docs
    assert after.avgdl == before.avgdl
    req = SearchRequest(query="ba be", mode="and", k=10)
    a, b = after.search(req), before.search(req)
    surv = b.hits[~b.hits["doc_id"].isin(victims)]
    sa = dict(zip(a.hits["doc_id"], a.hits["score"]))
    for d_, s in zip(surv["doc_id"], surv["score"]):
        if d_ in sa:
            assert sa[d_] == s


def test_matchall_and_sections_exclude_deleted(env):
    spark, d, docs, before, after, victims = env
    ma = after.search(SearchRequest(query=None, k=10**6))
    assert ma.num_hits == docs.count() - len(victims)
    assert not set(victims) & set(ma.hits["doc_id"])
    fa = after.facet_counts("lang")
    want = dict((r["lang"], r["count"]) for r in
                docs.where(~F.col("doc_id").isin(victims))
                .groupBy("lang").count().collect())
    assert dict(zip(fa["value"], fa["count"])) == want
    sec_b = before.section_search(("term", "ba"), k=10**6)
    sec_a = after.section_search(("term", "ba"), k=10**6)
    assert set(sec_b.hits["doc_id"]) - set(sec_a.hits["doc_id"]) == set(victims)


def test_delete_is_snapshot_scoped(env):
    spark, d, docs, before, after, victims = env
    # time travel: the pre-delete snapshot still sees every doc
    old = IndexReader(spark, d, snapshot_id=before.snap.snapshot_id)
    res = old.search(SearchRequest(query="ba", mode="or", k=20))
    assert set(victims) <= set(
        IndexReader(spark, d, snapshot_id=before.snap.snapshot_id)
        .search(SearchRequest(query="ba", mode="or", k=10**6)).hits["doc_id"])
    assert after.snap.stats["n_deleted"] == len(victims)


def test_pruned_or_exact_with_deletes(spark, tmp_path_factory, prune_spy):
    """Block-max pruning with tombstones: θ must come from LIVE
    contributions only. Victims = the top hits of the pruned query
    itself, so a θ computed over deleted docs would be inflated and
    would wrongly prune blocks holding live top-k docs. Runs on every
    path; the spy shows the driver-side path ("cache") pruned."""
    d = str(tmp_path_factory.mktemp("idx_del_prune"))
    docs = webpages(spark, 800, 4)
    build_snapshot(spark, docs, d, BuildConfig(docs_per_segment=200,
                                               block_size=32))
    r0 = IndexReader(spark, d)
    req_all = SearchRequest(query="ba be", mode="or", k=10**6, prune=False)
    pre = r0.search(req_all)
    victims = [int(x) for x in pre.hits["doc_id"][:5]]
    delete_docs(spark, d, victims)
    # exact oracle: pre-delete ranking minus victims (scores unchanged
    # until merge — Lucene stats semantics)
    exp = pre.hits[~pre.hits["doc_id"].isin(victims)].head(10)
    for path, r1 in path_readers(spark, d).items():
        prune_spy.clear()
        a = r1.search(SearchRequest(query="ba be", mode="or", k=10, prune=True))
        b = r1.search(SearchRequest(query="ba be", mode="or", k=10, prune=False))
        assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist(), path
        assert a.hits["score"].tolist() == b.hits["score"].tolist(), path
        assert a.num_hits == b.num_hits == pre.num_hits - len(victims), path
        assert a.hits["doc_id"].tolist() == exp["doc_id"].tolist(), path
        assert a.hits["score"].tolist() == exp["score"].tolist(), path
        if path != "distributed":
            assert prune_spy, f"block-max pruning never ran on the {path} path"


def test_append_after_delete_keeps_tombstones(spark, tmp_path_factory):
    """An incremental append must carry the parent's deletes table
    forward (Lucene: only a merge purges tombstones) — and a value
    whose every doc is tombstoned still shows in collectAll counts
    with count 0 (same value universe as the no-deletes path)."""
    d = str(tmp_path_factory.mktemp("idx_del_append"))
    all_docs = webpages(spark, 700, 4)
    docs_a = all_docs.where(F.col("doc_id") < 500)
    docs_b = all_docs.where(F.col("doc_id") >= 500)
    build_snapshot(spark, docs_a, d, BuildConfig(docs_per_segment=125))
    # tombstone EVERY doc of the rarest lang value in the first batch
    rare = (docs_a.groupBy("lang").count().orderBy("count", "lang")
            .first()["lang"])
    victims = [r["doc_id"] for r in
               docs_a.where(F.col("lang") == rare).collect()]
    delete_docs(spark, d, victims)
    r1 = IndexReader(spark, d)
    fc = dict(zip(r1.facet_counts("lang")["value"],
                  r1.facet_counts("lang")["count"]))
    assert fc[rare] == 0  # zero-count value still listed
    # append a second batch on top of the tombstoned snapshot
    build_snapshot(spark, docs_b, d, BuildConfig(docs_per_segment=125))
    r2 = IndexReader(spark, d)
    assert r2.snap.stats.get("n_deleted", 0) == len(victims)
    res = r2.search(SearchRequest(query="ba", mode="or", k=10**6))
    assert not set(victims) & set(res.hits["doc_id"])
    ma = r2.search(SearchRequest(query=None, k=10**6))
    assert ma.num_hits == 700 - len(victims)
    # the appended batch's docs of the rare lang are NOT deleted
    n_rare_b = docs_b.where(F.col("lang") == rare).count()
    fc2 = dict(zip(r2.facet_counts("lang")["value"],
                   r2.facet_counts("lang")["count"]))
    assert fc2[rare] == n_rare_b


def test_search_many_excludes_deleted(env):
    """Batch mode shares per-task decode state across queries — its
    tombstone handling (deleted passed once per segment) must match
    the single-query path exactly, on every path."""
    spark, d, docs, before, after, victims = env
    reqs = [SearchRequest(query="ba", mode="or", k=20),
            SearchRequest(query="ba be", mode="and", k=10),
            SearchRequest(query="ba be", mode="or", k=10, facets=("lang",))]
    want = [after.search(r) for r in reqs]
    for path, reader in path_readers(spark, d).items():
        for r, s in zip(reqs, want):
            assert_same_result(reader.search(r), s, (path, r))
        batch = reader.search_many(reqs)
        for b, r, s in zip(batch, reqs, want):
            assert_same_result(b, s, (path, "batch", r))
            assert not set(victims) & set(b.hits["doc_id"])


def _mixed_format_index(spark, d: str) -> None:
    """300 docs; tombstones 5 (a ``(segment, doc_id)`` file written by
    delete_docs) plus 11 and 205 (a legacy doc_id-only file)."""
    from bobo_spark.catalog import IndexCatalog

    build_snapshot(spark, webpages(spark, 300, 3), d,
                   BuildConfig(docs_per_segment=100))
    delete_docs(spark, d, [5])  # new (segment, doc_id) format
    cat = IndexCatalog(d)
    snap = cat.latest()
    legacy = f"{d}/deletes/legacy"  # what a pre-r4 snapshot wrote
    spark.createDataFrame([(11,), (205,)], "doc_id long") \
        .coalesce(1).write.parquet(legacy)
    snap.tables["deletes"] = snap.tables["deletes"] + [legacy]
    snap.stats["n_deleted"] = 3
    cat.update_snapshot(snap)


def test_mixed_format_delete_tables(spark, tmp_path_factory):
    """A cumulative delete set can mix a pre-r4 legacy file (doc_id
    only) with per-segment files — the reader loads every file's
    doc_id column into one global array and its broadcast, dropping
    no legacy row."""
    d = str(tmp_path_factory.mktemp("idx_del_mixed"))
    _mixed_format_index(spark, d)
    r = IndexReader(spark, d)
    assert set(r.deleted) == {5, 11, 205}
    assert r.deleted.size == r.snap.stats["n_deleted"] == 3
    np.testing.assert_array_equal(r._deleted_bc.value, r.deleted)
    res = r.search(SearchRequest(query="ba", mode="or", k=10**6))
    assert not {5, 11, 205} & set(res.hits["doc_id"])
    ma = r.search(SearchRequest(query=None, k=10**6))
    assert ma.num_hits == 297
    assert not {5, 11, 205} & set(ma.hits["doc_id"])


def test_matchall_facets_list_fully_deleted_values(env):
    """MatchAll with a facet and tombstones lists the same value
    universe as facet_counts (incl. 0-count fully-deleted values):
    the no-selection collectAll contract."""
    spark, d, docs, before, after, victims = env
    ma = after.search(SearchRequest(query=None, k=5, facets=("lang",)))
    fc = after.facet_counts("lang")
    assert ma.facets["lang"]["value"].tolist() == fc["value"].tolist()
    assert ma.facets["lang"]["count"].tolist() == fc["count"].tolist()


def test_driver_delete_path_matches_distributed(spark, tmp_path_factory):
    """The gated driver-direct delete path (list input, small forward)
    must publish byte-equivalent tombstones to the distributed
    semi-join path (DataFrame input) — same (segment, doc_id) rows,
    same cumulative n_deleted; the distributed path keeps coverage."""
    import pandas as pd

    from bobo_spark.catalog import IndexCatalog, read_table_pdf

    victims = [3, 77, 205, 206, 999_999]  # last id absent -> dropped
    snaps = {}
    for kind in ("list", "df"):
        d = str(tmp_path_factory.mktemp(f"idx_delpar_{kind}"))
        build_snapshot(spark, webpages(spark, 300, 3), d,
                       BuildConfig(docs_per_segment=100))
        ids = (victims if kind == "list"
               else spark.createDataFrame([(v,) for v in victims],
                                          "doc_id long"))
        snap = delete_docs(spark, d, ids)
        # second round on top of the first (cumulative distinct count)
        ids2 = ([205, 8] if kind == "list"
                else spark.createDataFrame([(205,), (8,)], "doc_id long"))
        snap = delete_docs(spark, d, ids2)
        cat = IndexCatalog(d)
        pdf = (read_table_pdf(cat.table_paths(snap, "deletes"))
               .astype({"segment": "int64", "doc_id": "int64"})
               .sort_values(["segment", "doc_id"], ignore_index=True))
        snaps[kind] = (snap.stats["n_deleted"], pdf)
    n_list, pdf_list = snaps["list"]
    n_df, pdf_df = snaps["df"]
    assert n_list == n_df == 5  # 4 real victims + doc 8; 205 deduped
    pd.testing.assert_frame_equal(pdf_list[["segment", "doc_id"]],
                                  pdf_df[["segment", "doc_id"]])
    # reader agrees regardless of which path wrote the tombstones
    ra = IndexReader(spark, tmp_path_factory.getbasetemp().as_posix()
                     + "/idx_delpar_list0")
    assert set(ra.deleted) == {3, 8, 77, 205, 206}


def test_delete_docs_generator_input_without_driver_gate(
        spark, tmp_path_factory, monkeypatch):
    """A generator of ids is consumed once: when the driver-direct
    path declines (forward over the small-table gate), the distributed
    fallback must still publish every id, not an empty set."""
    from bobo_spark import build

    d = str(tmp_path_factory.mktemp("idx_del_gen"))
    build_snapshot(spark, webpages(spark, 300, 3), d,
                   BuildConfig(docs_per_segment=100))
    monkeypatch.setattr(build, "_small_table_pdf", lambda *a, **kw: None)
    victims = [4, 150, 299]
    snap = delete_docs(spark, d, (v for v in victims))
    assert snap.stats["n_deleted"] == len(victims)
    r = IndexReader(spark, d)
    assert set(r.deleted) == set(victims)
    res = r.search(SearchRequest(query=None, k=10**6))
    assert res.num_hits == 300 - len(victims)
    assert not set(victims) & set(res.hits["doc_id"])


def test_merge_mixed_format_delete_tables(spark, tmp_path_factory):
    """A merge over a mixed legacy + per-segment delete set purges every
    tombstone: the merged index equals a fresh build of the survivors
    (stats, terms, forward rows and query results)."""
    import pandas as pd

    from bobo_spark.merge import merge_snapshot

    base = tmp_path_factory.mktemp("idx_del_mixed_merge")
    d, fresh = str(base / "merged"), str(base / "fresh")
    _mixed_format_index(spark, d)
    merge_snapshot(spark, d)
    build_snapshot(spark, webpages(spark, 300, 3)
                   .where(~F.col("doc_id").isin([5, 11, 205])), fresh,
                   BuildConfig(docs_per_segment=100))
    m, f = IndexReader(spark, d), IndexReader(spark, fresh)
    assert m.deleted.size == 0 and m._deleted_bc is None
    for k in ("n_docs", "tok_sum", "avgdl", "n_terms", "n_segments"):
        assert m.snap.stats[k] == f.snap.stats[k], k
    for tbl, key in (("_terms", "term_id"), ("_forward", "doc_id")):
        a = getattr(m, tbl).toPandas().sort_values(key, ignore_index=True)
        b = getattr(f, tbl).toPandas().sort_values(key, ignore_index=True)
        pd.testing.assert_frame_equal(a, b[a.columns])
    for req in (SearchRequest(query="ba", mode="or", k=20, facets=("lang",)),
                SearchRequest(query="ba be", mode="and", k=10),
                SearchRequest(query=None, k=10**6)):
        assert_same_result(m.search(req), f.search(req), req)
