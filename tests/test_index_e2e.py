"""End-to-end: build index over deterministic webgen docs, verify
rank identity (top-k docIDs AND exact BM25 scores) + facet counts
against the pure-Python oracle, plus incremental append and resume."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

import bobo_spark.build as build_mod
from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.oracle import OracleIndex, reference_queryset
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.webgen import make_vocab, webpages

N_DOCS = 2000
CFG = BuildConfig(docs_per_segment=300, block_size=64, rows_per_posting_partition=50_000)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    docs = webpages(spark, N_DOCS, n_partitions=8)
    build_snapshot(spark, docs, d, CFG)
    return d


@pytest.fixture(scope="module")
def oracle(spark):
    pdf = (
        webpages(spark, N_DOCS, n_partitions=8)
        .select(
            "doc_id",
            "text",
            "lang",
            F.date_format(F.date_trunc("day", "warc_ts"), "yyyy-MM-dd").alias("ts_bucket"),
        )
        .toPandas()
    )
    return OracleIndex(pdf.to_dict("records"))


@pytest.fixture(scope="module")
def reader(spark, index_dir):
    return IndexReader(spark, index_dir)


def _run_both(reader, oracle, q):
    req = SearchRequest(
        query=q["query"],
        mode=q.get("mode", "and"),
        k=10,
        facets=("lang", "ts_bucket"),
        selections=q.get("selections", {}),
        ts_range=q.get("ts_range"),
    )
    got = reader.search(req)
    exp = oracle.search(
        q["query"],
        mode=q.get("mode", "and"),
        k=10,
        facets=("lang", "ts_bucket"),
        selections=q.get("selections"),
        ts_range=q.get("ts_range"),
    )
    return got, exp


def test_stats_match(reader, oracle):
    assert reader.n_docs == oracle.n_docs
    assert reader.avgdl == pytest.approx(oracle.avgdl, abs=0)


def test_rank_identity_queryset(reader, oracle):
    vocab = make_vocab()
    qs = reference_queryset(vocab, n_conj=8, n_disj=8, n_lang=5, n_ts=5)
    checked_hits = 0
    for q in qs:
        got, exp = _run_both(reader, oracle, q)
        got_ids = got.hits["doc_id"].tolist()
        exp_ids = [d for d, _ in exp["hits"]]
        assert got_ids == exp_ids, f"doc order mismatch for {q}"
        got_scores = got.hits["score"].tolist()
        exp_scores = [s for _, s in exp["hits"]]
        assert got_scores == exp_scores, f"score mismatch for {q}"  # EXACT float64
        assert got.num_hits == exp["num_hits"], f"numHits mismatch for {q}"
        checked_hits += len(got_ids)
    assert checked_hits > 100  # the query set actually exercised matching


def test_facet_counts_match(reader, oracle):
    vocab = make_vocab()
    qs = reference_queryset(vocab, n_conj=4, n_disj=4, n_lang=4, n_ts=4)
    for q in qs:
        got, exp = _run_both(reader, oracle, q)
        for f in ("lang", "ts_bucket"):
            got_map = dict(zip(got.facets[f]["value"], got.facets[f]["count"])) if f in got.facets else {}
            assert got_map == exp["facets"][f], f"facet {f} mismatch for {q}"


def test_multiselect_expand_semantics(reader, oracle):
    # Bobo testExpandSelection analogue: selected facet excluded from own counts
    q = {"query": ["ba"], "mode": "or", "selections": {"lang": ["de"]}}
    got, exp = _run_both(reader, oracle, q)
    assert dict(zip(got.facets["lang"]["value"], got.facets["lang"]["count"])) == exp["facets"]["lang"]
    # lang counts must include non-de langs (expand) while hits are de-only
    assert len(got.facets["lang"]) > 1
    assert got.num_hits < sum(got.facets["lang"]["count"])


def test_paging(reader, oracle):
    q = {"query": ["ba", "be"], "mode": "or"}
    req_all = SearchRequest(query=["ba", "be"], mode="or", k=20)
    req_page = SearchRequest(query=["ba", "be"], mode="or", k=5, offset=5)
    all_hits = reader.search(req_all).hits
    page = reader.search(req_page).hits
    assert page["doc_id"].tolist() == all_hits["doc_id"].iloc[5:10].tolist()


def test_missing_term(reader):
    assert reader.search(SearchRequest(query=["zzzzqqq", "ba"], mode="and")).num_hits == 0
    r = reader.search(SearchRequest(query=["zzzzqqq", "ba"], mode="or"))
    assert r.num_hits > 0


def test_incremental_append_and_id_stability(spark, tmp_path_factory, oracle):
    d = str(tmp_path_factory.mktemp("idx_inc"))
    docs_a = webpages(spark, N_DOCS, n_partitions=6).where(F.col("doc_id") < 1200)
    docs_b = webpages(spark, N_DOCS, n_partitions=6).where(F.col("doc_id") >= 1200)
    s0 = build_snapshot(spark, docs_a, d, CFG)
    terms0 = spark.read.parquet(*s0.tables["terms"]).select("term", "term_id").toPandas()
    s1 = build_snapshot(spark, docs_b, d, CFG)
    terms1 = spark.read.parquet(*s1.tables["terms"]).select("term", "term_id").toPandas()
    j = terms0.merge(terms1, on="term", suffixes=("_0", "_1"))
    assert (j["term_id_0"] == j["term_id_1"]).all()  # old ids never move
    # full-corpus queries on the merged snapshots == oracle over all docs
    reader = IndexReader(spark, d)
    assert reader.n_docs == N_DOCS
    for q in ({"query": ["ba", "keri"], "mode": "and"}, {"query": ["ba", "keri"], "mode": "or"}):
        got, exp = _run_both(reader, oracle, q)
        assert got.hits["doc_id"].tolist() == [x for x, _ in exp["hits"]]
        assert got.hits["score"].tolist() == [s for _, s in exp["hits"]]


def test_resume_after_failure(spark, tmp_path_factory, monkeypatch, oracle):
    d = str(tmp_path_factory.mktemp("idx_resume"))
    docs = webpages(spark, 600, n_partitions=4)
    real = build_mod.assign_sorted_ids
    calls = {"n": 0}

    def boom(*a, **kw):
        calls["n"] += 1
        raise RuntimeError("injected failure before terms stage completes")

    monkeypatch.setattr(build_mod, "assign_sorted_ids", boom)
    with pytest.raises(RuntimeError):
        build_snapshot(spark, docs, d, CFG)
    monkeypatch.setattr(build_mod, "assign_sorted_ids", real)
    snap = build_snapshot(spark, docs, d, CFG, resume=True)  # resumes, completes
    assert "published" in snap.stages
    reader = IndexReader(spark, d)
    assert reader.n_docs == 600
    r = reader.search(SearchRequest(query=["ba"], mode="or", k=5))
    assert r.num_hits > 0


def test_html_resume_skips_extraction(spark, tmp_path_factory, monkeypatch):
    """An html-only build checkpoints its text extraction: a build that
    dies in a later stage resumes without extracting again (the scratch
    doc table's files are untouched) and publishes the index a text
    input builds."""
    import os

    import bobo_spark.catalog as catalog_mod
    from bobo_spark.catalog import IndexCatalog

    d = str(tmp_path_factory.mktemp("idx_html_resume"))
    docs = webpages(spark, 300, n_partitions=4)
    real_mark = catalog_mod.IndexCatalog.mark_stage

    def dying_mark(self, snap, stage):
        real_mark(self, snap, stage)
        if stage == "terms":
            raise RuntimeError("simulated crash after terms stage")

    monkeypatch.setattr(catalog_mod.IndexCatalog, "mark_stage", dying_mark)
    with pytest.raises(RuntimeError, match="simulated crash"):
        build_snapshot(spark, docs.drop("text"), d, CFG)
    monkeypatch.setattr(catalog_mod.IndexCatalog, "mark_stage", real_mark)
    cat = IndexCatalog(d)
    pending = cat.pending()
    assert "extract" in pending.stages and "docs" not in pending.stages
    docs_path = cat.table_path("_docs", pending.snapshot_id)

    def files():
        return {f: os.stat(os.path.join(docs_path, f)).st_mtime_ns
                for f in os.listdir(docs_path)}

    before = files()
    snap = build_snapshot(spark, docs.drop("text"), d, CFG, resume=True)
    assert "published" in snap.stages and files() == before
    ref = str(tmp_path_factory.mktemp("idx_html_resume_ref"))
    build_snapshot(spark, docs.drop("html"), ref, CFG)
    got, want = IndexReader(spark, d), IndexReader(spark, ref)
    assert got.n_docs == want.n_docs == 300
    req = SearchRequest(query=["ba", "keri"], mode="or", k=10, facets=("lang",))
    a, b = got.search(req), want.search(req)
    assert a.num_hits == b.num_hits > 0
    assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist()
    assert a.hits["score"].tolist() == b.hits["score"].tolist()
