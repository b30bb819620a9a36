"""merge_snapshot: after deletes + merge, the index must answer every
query EXACTLY as a fresh build of the surviving docs would — stats
(df/cf/avgdl), dictionaries, term ids, facet counts, positions — and
readers pinned to older snapshots must keep working across the merge
(≙ the reference build's forceMerge(1) + Lucene delete reclamation,
index/BoboIndexer.java:73-86; commit/reopen semantics per
test/BasicIndexingTest.java:61-191)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.catalog import TABLES
from bobo_spark.merge import merge_snapshot
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.webgen import webpages

N = 1000
CFG = BuildConfig(docs_per_segment=200, block_size=64,
                  sections=("window", 16))
# a full segment (400-599) plus scattered ids — exercises empty-segment
# removal, mid-block deletion, and facet-value df shifts
DELETED = sorted(set(range(400, 600)) | set(range(3, N, 97)))


@pytest.fixture(scope="module")
def readers(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("merge")
    merged_dir = str(base / "merged")
    fresh_dir = str(base / "fresh")
    docs = webpages(spark, N, 6)
    build_snapshot(spark, docs, merged_dir, CFG)
    delete_docs(spark, merged_dir, DELETED)
    pre_merge = IndexReader(spark, merged_dir)
    merge_snapshot(spark, merged_dir, block_size=CFG.block_size)
    build_snapshot(spark, docs.where(~F.col("doc_id").isin(DELETED)),
                   fresh_dir, CFG)
    return {
        "merged": IndexReader(spark, merged_dir),
        "fresh": IndexReader(spark, fresh_dir),
        "pre": pre_merge,
        "merged_dir": merged_dir,
    }


def test_stats_match_fresh(readers):
    m, f = readers["merged"], readers["fresh"]
    for k in ("n_docs", "tok_sum", "avgdl", "n_terms", "n_segments"):
        assert m.snap.stats[k] == f.snap.stats[k], k
    assert m.snap.stats["n_deleted"] == 0
    assert "deletes" not in m.snap.tables
    assert m._deleted_bc is None


def test_terms_table_identical(readers):
    m = readers["merged"]._terms.orderBy("term_id").toPandas()
    f = readers["fresh"]._terms.orderBy("term_id").toPandas()
    pd.testing.assert_frame_equal(
        m[["term", "term_id", "df", "cf"]], f[["term", "term_id", "df", "cf"]])


def test_dicts_identical(readers):
    for fld in ("lang", "ts_bucket"):
        m = readers["merged"].dicts[fld].sort_values("ordinal",
                                                     ignore_index=True)
        f = readers["fresh"].dicts[fld].sort_values("ordinal",
                                                    ignore_index=True)
        pd.testing.assert_frame_equal(
            m[["ordinal", "value", "df", "min_doc", "max_doc"]],
            f[["ordinal", "value", "df", "min_doc", "max_doc"]])


def test_forward_identical(readers):
    cols = ["segment", "doc_id", "doclen", "lang_ord", "ts_ord", "url"]
    m = readers["merged"]._forward.orderBy("doc_id").toPandas()[cols]
    f = readers["fresh"]._forward.orderBy("doc_id").toPandas()[cols]
    pd.testing.assert_frame_equal(m.reset_index(drop=True),
                                  f.reset_index(drop=True))


def _assert_same_result(a, b):
    assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist()
    assert a.hits["score"].tolist() == b.hits["score"].tolist()
    assert a.num_hits == b.num_hits
    for k in a.facets:
        pd.testing.assert_frame_equal(a.facets[k], b.facets[k])


QUERIES = [
    SearchRequest(query="data row", mode="or", k=15, facets=("lang",)),
    SearchRequest(query="spark join", mode="and", k=10),
    SearchRequest(query=None, k=8, facets=("lang", "ts_bucket")),  # MatchAll
    SearchRequest(query="the data", mode="phrase", k=10),
    SearchRequest(query="data", mode="and", k=10,
                  selections={"lang": ["en"]}, explain=True),
]


@pytest.mark.parametrize("qi", range(len(QUERIES)))
def test_queries_match_fresh(readers, qi):
    req = QUERIES[qi]
    a = readers["merged"].search(req)
    b = readers["fresh"].search(req)
    _assert_same_result(a, b)
    if req.explain:
        pd.testing.assert_frame_equal(a.explanations, b.explanations)


def test_collectall_matches_fresh(readers):
    for fld in ("lang", "ts_bucket"):
        pd.testing.assert_frame_equal(
            readers["merged"].facet_counts(fld),
            readers["fresh"].facet_counts(fld))


def test_term_vectors_match_fresh(readers):
    ids = [0, 201, 700, 999]
    m = (readers["merged"].term_vectors(ids)
         .orderBy("doc_id", "term").toPandas())
    f = (readers["fresh"].term_vectors(ids)
         .orderBy("doc_id", "term").toPandas())
    pd.testing.assert_frame_equal(m, f)


def test_section_search_matches_fresh(readers):
    tree = ("and", ("term", "data"), ("term", "row"))
    a = readers["merged"].section_search(tree, k=10)
    b = readers["fresh"].section_search(tree, k=10)
    assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist()
    assert a.hits["score"].tolist() == b.hits["score"].tolist()


def test_old_reader_survives_merge(readers, spark):
    """A reader opened on the pre-merge snapshot keeps answering with
    tombstone semantics (old file set is never deleted), and time
    travel to that snapshot still works post-merge."""
    pre = readers["pre"]
    res = pre.search(SearchRequest(query="data row", mode="or", k=15))
    assert not set(res.hits["doc_id"]).intersection(DELETED)
    tt = IndexReader(spark, readers["merged_dir"],
                     snapshot_id=pre.snap.snapshot_id)
    res2 = tt.search(SearchRequest(query="data row", mode="or", k=15))
    assert res.hits["doc_id"].tolist() == res2.hits["doc_id"].tolist()
    # pre-merge scores use STALE stats (Lucene), so they differ from
    # the merged reader's fresh stats whenever deletes touched df
    merged = readers["merged"].search(
        SearchRequest(query="data row", mode="or", k=15))
    assert res.hits["score"].tolist() != merged.hits["score"].tolist()


def test_merge_without_deletes_is_compaction(spark, tmp_path):
    """Merging a 2-snapshot incremental index with no tombstones
    collapses it to one snapshot equal to a fresh single-shot build
    (term ids re-sorted to global lexicographic rank)."""
    inc_dir = str(tmp_path / "inc")
    one_dir = str(tmp_path / "one")
    docs = webpages(spark, 400, 4)
    cfg = BuildConfig(docs_per_segment=100, block_size=64)
    build_snapshot(spark, docs.where(F.col("doc_id") < 200), inc_dir, cfg)
    build_snapshot(spark, docs.where(F.col("doc_id") >= 200), inc_dir, cfg)
    merge_snapshot(spark, inc_dir, block_size=64)
    build_snapshot(spark, docs, one_dir, cfg)
    m, f = IndexReader(spark, inc_dir), IndexReader(spark, one_dir)
    pd.testing.assert_frame_equal(
        m._terms.orderBy("term_id").toPandas()[["term", "term_id", "df", "cf"]],
        f._terms.orderBy("term_id").toPandas()[["term", "term_id", "df", "cf"]])
    for req in (SearchRequest(query="data row", mode="or", k=10,
                              facets=("lang",)),
                SearchRequest(query="spark join", mode="and", k=10)):
        _assert_same_result(m.search(req), f.search(req))
    # single compacted file set per table
    assert set(m.snap.tables) == set(TABLES)
    for t in TABLES:
        assert len(m.snap.tables[t]) == 1


def test_incremental_append_after_merge(spark, tmp_path):
    """The merged snapshot is a valid parent: append + new deletes
    keep working (term-id stability across the merge boundary)."""
    d = str(tmp_path / "idx")
    docs = webpages(spark, 600, 4)
    cfg = BuildConfig(docs_per_segment=150, block_size=64)
    build_snapshot(spark, docs.where(F.col("doc_id") < 400), d, cfg)
    delete_docs(spark, d, [5, 6, 7])
    merge_snapshot(spark, d, block_size=64)
    build_snapshot(spark, docs.where(F.col("doc_id") >= 400), d, cfg)
    r = IndexReader(spark, d)
    assert r.n_docs == 597
    res = r.search(SearchRequest(query="data", mode="and", k=20))
    assert not {5, 6, 7}.intersection(res.hits["doc_id"])
    # appended docs are findable
    assert (r._forward.where(F.col("doc_id") >= 400).count() == 200)
    delete_docs(spark, d, [450])
    r2 = IndexReader(spark, d)
    assert r2.snap.stats["n_deleted"] == 1


def test_merge_join_fallback_idmap(spark, tmp_path):
    """Web-scale path: broadcast_idmap_threshold=0 forces the
    distributed-join term-id remap; answers must still equal a fresh
    build of the survivors."""
    d = str(tmp_path / "jf")
    fresh_dir = str(tmp_path / "jf_fresh")
    docs = webpages(spark, 400, 4)
    cfg = BuildConfig(docs_per_segment=100, block_size=64)
    build_snapshot(spark, docs, d, cfg)
    delete_docs(spark, d, [7, 8, 9])
    merge_snapshot(spark, d, block_size=64, broadcast_idmap_threshold=0)
    build_snapshot(spark, docs.where(~F.col("doc_id").isin([7, 8, 9])),
                   fresh_dir, cfg)
    m, f = IndexReader(spark, d), IndexReader(spark, fresh_dir)
    pd.testing.assert_frame_equal(
        m._terms.orderBy("term_id").toPandas()[["term", "term_id", "df", "cf"]],
        f._terms.orderBy("term_id").toPandas()[["term", "term_id", "df", "cf"]])
    req = SearchRequest(query="data row", mode="or", k=10, facets=("lang",))
    _assert_same_result(m.search(req), f.search(req))
    # forward data readable post-merge
    assert m._forward.count() == 397


def test_merge_resume_after_failure(spark, tmp_path, monkeypatch):
    """North-rule resumability: a merge killed mid-pipeline resumes
    from the last completed stage of the pending manifest entry and
    publishes the same index a one-shot merge would."""
    import bobo_spark.catalog as catalog_mod

    d = str(tmp_path / "res")
    docs = webpages(spark, 400, 4)
    cfg = BuildConfig(docs_per_segment=100, block_size=64)
    build_snapshot(spark, docs, d, cfg)
    delete_docs(spark, d, [11, 12])
    real_mark = catalog_mod.IndexCatalog.mark_stage

    def dying_mark(self, snap, stage):
        real_mark(self, snap, stage)
        if stage == "terms":
            raise RuntimeError("simulated crash after terms stage")

    monkeypatch.setattr(catalog_mod.IndexCatalog, "mark_stage", dying_mark)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_snapshot(spark, d, block_size=64)
    monkeypatch.setattr(catalog_mod.IndexCatalog, "mark_stage", real_mark)
    # resume completes on the SAME pending snapshot
    snap = merge_snapshot(spark, d, block_size=64)
    assert "published" in snap.stages
    assert snap.stats["merge_of"] == 1  # parent = deletes snapshot
    fresh_dir = str(tmp_path / "res_fresh")
    build_snapshot(spark, docs.where(~F.col("doc_id").isin([11, 12])),
                   fresh_dir, cfg)
    m, f = IndexReader(spark, d), IndexReader(spark, fresh_dir)
    pd.testing.assert_frame_equal(
        m._terms.orderBy("term_id").toPandas()[["term", "term_id", "df", "cf"]],
        f._terms.orderBy("term_id").toPandas()[["term", "term_id", "df", "cf"]])
    req = SearchRequest(query="data row", mode="or", k=10)
    _assert_same_result(m.search(req), f.search(req))


def test_merge_regex_sections_table(spark, tmp_path):
    """Regex-mode sections materialize a per-doc boundary TABLE — the
    merge must filter it to survivors and section search must answer
    like a fresh build of the survivors."""
    d = str(tmp_path / "sec")
    fresh_dir = str(tmp_path / "sec_fresh")
    docs = webpages(spark, 400, 4)
    cfg = BuildConfig(docs_per_segment=100, block_size=64,
                      sections=("regex", r"\. "))
    build_snapshot(spark, docs, d, cfg)
    dele = [5, 17, 230]
    delete_docs(spark, d, dele)
    merge_snapshot(spark, d, block_size=64)
    build_snapshot(spark, docs.where(~F.col("doc_id").isin(dele)),
                   fresh_dir, cfg)
    m, f = IndexReader(spark, d), IndexReader(spark, fresh_dir)
    assert len(m.snap.tables["sections"]) == 1
    tree = ("and", ("term", "data"), ("term", "row"))
    a, b = m.section_search(tree, k=10), f.section_search(tree, k=10)
    assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist()
    assert a.num_hits == b.num_hits
    sec_m = (spark.read.parquet(*m.snap.tables["sections"])
             .orderBy("doc_id").toPandas())
    sec_f = (spark.read.parquet(*f.snap.tables["sections"])
             .orderBy("doc_id").toPandas())
    pd.testing.assert_frame_equal(sec_m.reset_index(drop=True),
                                  sec_f.reset_index(drop=True))


def test_merge_positions_off_index(spark, tmp_path):
    """An index built with store_positions=False (empty pos streams)
    merges cleanly; post-merge stats/search match a fresh build and
    phrase queries still raise the driver-side error."""
    d = str(tmp_path / "nopos")
    fresh_dir = str(tmp_path / "nopos_fresh")
    docs = webpages(spark, 300, 3)
    cfg = BuildConfig(docs_per_segment=100, block_size=64,
                      store_positions=False)
    build_snapshot(spark, docs, d, cfg)
    delete_docs(spark, d, [2, 3])
    merge_snapshot(spark, d, block_size=64)
    build_snapshot(spark, docs.where(~F.col("doc_id").isin([2, 3])),
                   fresh_dir, cfg)
    m, f = IndexReader(spark, d), IndexReader(spark, fresh_dir)
    assert m.snap.stats["store_positions"] is False
    req = SearchRequest(query="data row", mode="or", k=10)
    _assert_same_result(m.search(req), f.search(req))
    # both terms must EXIST in the dictionary ('ba'/'da' are head
    # vocab) — a missing term short-circuits to empty before the
    # positions guard
    with pytest.raises(ValueError, match="position"):
        m.search(SearchRequest(query="ba da", mode="phrase", k=5))


def test_merge_sparse_survivors_forward_fallback(spark, tmp_path):
    """Heavy tombstoning (survivor span > 2x survivor count) takes the
    sampled repartitionByRange fallback in the merge's forward rewrite
    instead of the dense identity-key arithmetic — results must match
    a fresh build of the survivors either way."""
    d = str(tmp_path / "sparse")
    fresh = str(tmp_path / "fresh")
    docs = webpages(spark, 600, 4)
    cfg = BuildConfig(docs_per_segment=150)
    build_snapshot(spark, docs, d, cfg)
    victims = [i for i in range(600) if i % 3 != 0]  # keep every 3rd
    delete_docs(spark, d, victims)
    snap = merge_snapshot(spark, d)
    # gate check: span (~599) > 2 * survivors (400) -> fallback branch
    assert (snap.stats["doc_max"] - snap.stats["doc_min"] + 1
            > 2 * snap.stats["n_docs"])
    build_snapshot(spark, docs.where(~F.col("doc_id").isin(victims)),
                   fresh, cfg)
    cols = ["segment", "doc_id", "doclen", "lang_ord", "ts_ord", "url"]
    m = IndexReader(spark, d)._forward.orderBy("doc_id").toPandas()[cols]
    f = IndexReader(spark, fresh)._forward.orderBy("doc_id").toPandas()[cols]
    pd.testing.assert_frame_equal(m, f)


def test_merge_mixed_docs_per_segment(spark, tmp_path):
    """An append with a different docs_per_segment (base 500, append
    300) leaves the snapshot's docs_per_segment unknown (None), so the
    merge's forward rewrite takes the sampled repartitionByRange path
    instead of the dense doc-range arithmetic; the merged index answers
    exactly like a fresh build of the survivors."""
    from bobo_spark.catalog import IndexCatalog

    d = str(tmp_path / "mixed")
    fresh = str(tmp_path / "fresh")
    docs = webpages(spark, 800, 4)
    build_snapshot(spark, docs.where(F.col("doc_id") < 500), d,
                   BuildConfig(docs_per_segment=500, block_size=64))
    assert IndexCatalog(d).latest().stats["docs_per_segment"] == 500
    build_snapshot(spark, docs.where(F.col("doc_id") >= 500), d,
                   BuildConfig(docs_per_segment=300, block_size=64))
    assert IndexCatalog(d).latest().stats["docs_per_segment"] is None
    victims = [3, 250, 640]
    delete_docs(spark, d, victims)
    snap = merge_snapshot(spark, d, block_size=64)
    assert snap.stats["docs_per_segment"] is None
    build_snapshot(spark, docs.where(~F.col("doc_id").isin(victims)), fresh,
                   BuildConfig(docs_per_segment=500, block_size=64))
    m, f = IndexReader(spark, d), IndexReader(spark, fresh)
    for req in (SearchRequest(query="data row", mode="or", k=10,
                              facets=("lang", "ts_bucket")),
                SearchRequest(query="spark join", mode="and", k=10),
                SearchRequest(query="data", mode="or", k=5, offset=5,
                              selections={"lang": ["en"]}, explain=True)):
        _assert_same_result(m.search(req), f.search(req))
    cols = ["doc_id", "doclen", "lang_ord", "ts_ord", "url"]
    pd.testing.assert_frame_equal(
        m._forward.orderBy("doc_id").toPandas()[cols],
        f._forward.orderBy("doc_id").toPandas()[cols])


def test_dicts_spark_side_equals_driver(spark, tmp_path, readers, monkeypatch):
    """The dicts stage's Spark aggregate over the surviving forward
    rows (taken when ``_small_table_pdf`` declines) gives the same
    dictionaries, terms and stats as the driver read."""
    from bobo_spark import merge

    d = str(tmp_path / "spark_dicts")
    build_snapshot(spark, webpages(spark, N, 6), d, CFG)
    delete_docs(spark, d, DELETED)
    monkeypatch.setattr(merge, "_small_table_pdf", lambda *a, **kw: None)
    merge_snapshot(spark, d, block_size=CFG.block_size)
    got, want = IndexReader(spark, d), readers["merged"]
    for k in ("n_docs", "tok_sum", "avgdl", "n_terms", "doc_min", "doc_max"):
        assert got.snap.stats[k] == want.snap.stats[k], k
    for fld in ("lang", "ts_bucket"):
        pd.testing.assert_frame_equal(
            got.dicts[fld].sort_values("ordinal", ignore_index=True),
            want.dicts[fld].sort_values("ordinal", ignore_index=True))
    pd.testing.assert_frame_equal(got._terms.orderBy("term_id").toPandas(),
                                  want._terms.orderBy("term_id").toPandas())
