"""Physical-plan audits: the optimizations we rely on at 100 TB must
actually appear in the plans (predicate pushdown to parquet, partial
hash aggregation, JVM-only expressions for the SQL-expression
operators, broadcast joins for small dimensions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bobo_spark import simsearch, textops
from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.query import IndexReader
from bobo_spark.webgen import webpages


@pytest.fixture(scope="module")
def reader(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_plan"))
    build_snapshot(spark, webpages(spark, 800, 4), d, BuildConfig(docs_per_segment=200))
    return IndexReader(spark, d, cache=False)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_postings_term_filter_pushed(reader):
    """Query-term block reads must push term_id IN (...) into the
    parquet scan (row-group pruning ≙ Lucene TermsEnum seek)."""
    blocks = reader._postings.where(F.col("term_id").isin([3, 7]))
    plan = blocks._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "term_id" in plan, plan


def test_facet_count_partial_agg(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(docs.groupBy("lang").count())
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_textops_no_python_udf(spark, sf_dir):
    """Dedup/fingerprint/text-analysis operators must stay JVM-side —
    no PythonUDF/ArrowEval nodes in their plans."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        textops.exact_dedup(docs),
        textops.minhash_signatures(docs, k=8),
        textops.simhash64(docs),
        textops.fingerprints(docs),
        textops.token_counts(docs),
        textops.quality_scores(docs),
        textops.langid(docs),
    ):
        plan = _plan(df)
        assert "PythonUDF" not in plan and "ArrowEval" not in plan, plan[:500]


def test_simsearch_no_python_udf(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = simsearch.cosine_topk(emb, [0.1] * 64, k=5)
    plan = _plan(df)
    assert "PythonUDF" not in plan, plan[:500]
    assert "TakeOrderedAndProject" in plan  # distributed top-k, not global sort


def test_selection_filter_pushdown(spark, sf_dir):
    """Browse selections are plain predicates — Catalyst must push
    them into the parquet scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hits = docs.where(F.col("lang") == "en").groupBy("source").count()
    plan = hits._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "lang" in plan, plan[:800]


def test_small_dim_broadcast(spark, sf_dir):
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_hits_page_take_ordered(spark, sf_dir):
    """hits_page_df must page via distributed top-k
    (TakeOrderedAndProject); the rank window's single-partition
    exchange sits ABOVE the limit, so it carries <= offset+count rows,
    never the full hit set."""
    from bobo_spark.facets import (BoboBrowser, BrowseRequest, BrowseSelection,
                                   SimpleFacetHandler, SortField)

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = BoboBrowser(ev, [SimpleFacetHandler("event_type")], doc_col="event_id")
    req = BrowseRequest(count=20, offset=10, sort=[SortField("value", reverse=True)])
    req.add_selection(BrowseSelection("event_type", values=["purchase"]))
    plan = _plan(b.hits_page_df(req))
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    # the global-window exchange must be fed by the limit, not the scan
    assert plan.index("TakeOrderedAndProject") > plan.index("Window"), plan[:1200]


def test_section_search_term_filter_pushed(spark, tmp_path_factory):
    """Section-search postings reads must push term_id IN (...) into
    the parquet scan, same as the BM25 path."""
    d = str(tmp_path_factory.mktemp("idx_secplan"))
    build_snapshot(spark, webpages(spark, 300, 2), d,
                   BuildConfig(docs_per_segment=150, sections=("window", 8)))
    r = IndexReader(spark, d, cache=False)
    df = r.section_search_df(("and", ("term", "ba"), ("term", "be")), k=5)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "term_id" in plan, plan[:900]


def test_matchall_selection_pushed(reader):
    """A distributed MatchAll reads the postings of its facet
    sentinels only, with term_id IN (...) pushed into the parquet
    scan, like any keyword plan."""
    from bobo_spark.query import SearchRequest

    df = reader.search_df(SearchRequest(query=None, k=5,
                                        selections={"lang": ["en"]}))
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "term_id" in plan, plan[:900]
    assert "TakeOrderedAndProject" in plan  # top-k page, not full sort


def test_term_vectors_segment_pushed(reader):
    """Term-vector reconstruction must read only the target docs'
    segments (segment IN pushed to the scan)."""
    df = reader.term_vectors([3, 5])
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters" in plan and "segment" in plan, plan[:900]
    assert "BroadcastHashJoin" in plan  # page-sized result × dictionary


def test_plan_cost_flat_in_dictionary_size(spark, reader, monkeypatch):
    """plan() resolves query terms, selection sentinels and the recency
    table through lookups built once per reader, so its cost does not
    grow with the dictionary: the same reader plans a request mix
    against its real dictionary and then against a synthetic 2M-term
    one (the real terms plus padding) — same plans, and the 2M median
    stays within 3x of the small one. A recency plan never re-parses
    the ts dictionary."""
    import gc
    import time

    import numpy as np
    import pandas as pd

    from bobo_spark.catalog import read_table_pdf
    from bobo_spark.query import SearchRequest

    r = IndexReader(spark, reader.catalog.index_dir)  # cached: driver lookups
    days = sorted(r.dicts["ts_bucket"]["value"])
    reqs = [
        SearchRequest(query="ba be zzznothere", mode="or"),
        SearchRequest(query="ba ka", mode="and", facets=("lang",),
                      selections={"lang": ["en"]}),
        SearchRequest(query="be vu", mode="or", ts_range=(days[0], days[-1])),
        SearchRequest(query="ba", mode="or", recency={
            "now_ms": 1_700_000_000_000, "cutoff_ms": 86_400_000 * 30,
            "max_factor": 2.0}),
    ]

    def plans():
        return [(p["terms"], p["sel_lang_tids"], p["sel_ts_tids"], p["sel_ts"])
                for p in map(r.plan, reqs)]

    def median_ms():
        gc.collect()
        ts = []
        for _ in range(300):
            for q in reqs:
                t0 = time.perf_counter()
                r.plan(q)
                ts.append(time.perf_counter() - t0)
        return 1000 * float(np.median(ts))

    want = plans()
    small_ms = median_ms()
    real = read_table_pdf(r.catalog.table_paths(r.snap, "terms"))[
        ["term", "term_id", "df"]]
    pad = 2_000_000 - len(real)
    r._index_terms(pd.concat([real, pd.DataFrame({
        "term": [f"zz{i:07d}" for i in range(pad)],
        "term_id": np.arange(pad, dtype=np.int64) + int(real["term_id"].max()) + 1,
        "df": np.ones(pad, dtype=np.int64)})], ignore_index=True))
    assert len(r._term_row) == 2_000_000
    assert plans() == want
    big_ms = median_ms()
    assert big_ms <= 3 * small_ms, (small_ms, big_ms)

    calls = []
    real_to_datetime = pd.to_datetime

    def spy(*args, **kwargs):
        calls.append(1)
        return real_to_datetime(*args, **kwargs)

    monkeypatch.setattr(pd, "to_datetime", spy)
    assert r.plan(reqs[-1])["recency"] is not None
    assert not calls, "a recency plan re-parsed the ts dictionary"
