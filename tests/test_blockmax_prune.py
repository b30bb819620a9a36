"""Property test: block-max pruned disjunctive top-k must be EXACTLY
the exhaustive top-k (docIDs and float64 scores). Pruning runs on
every path — on "cache" a pruned query decodes only the blocks it
keeps and shares them with every other query through the block-keyed
decode cache — so the tests run on both, and a spy shows the
driver-side path ("cache") pruned."""

from __future__ import annotations

import pytest

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.oracle import reference_queryset
from bobo_spark.query import SearchRequest
from bobo_spark.webgen import make_vocab, webpages
from conftest import QUERY_PATHS, path_readers


@pytest.fixture(scope="module")
def readers(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_prune"))
    build_snapshot(spark, webpages(spark, 1500, 6), d,
                   BuildConfig(docs_per_segment=250, block_size=32))
    return path_readers(spark, d)


def test_pruned_equals_exhaustive(readers, prune_spy):
    vocab = make_vocab()
    qs = reference_queryset(vocab, n_conj=0, n_disj=12, n_lang=0, n_ts=0)
    qs.append({"query": ["ba", "be", "bi"], "mode": "or"})  # head-heavy
    qs.append({"query": ["ba", vocab[4000]], "mode": "or"})  # head+tail
    for path in QUERY_PATHS:
        prune_spy.clear()
        reader = readers[path]
        pruned_nonempty = 0
        for q in qs:
            a = reader.search(SearchRequest(query=q["query"], mode="or", k=10, prune=True))
            b = reader.search(SearchRequest(query=q["query"], mode="or", k=10, prune=False))
            assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist(), (path, q)
            assert a.hits["score"].tolist() == b.hits["score"].tolist(), (path, q)
            assert a.num_hits == b.num_hits, (path, q)  # exact count survives pruning
            pruned_nonempty += len(a.hits) > 0
        assert pruned_nonempty > 5
        if path != "distributed":
            assert prune_spy, f"block-max pruning never ran on the {path} path"


def test_pruned_recency_equals_exhaustive(readers, prune_spy):
    """Recency-aware pruning (θ from exact boosted contribs, block
    bounds scaled by the factor's global max) must stay exact."""
    import pandas as pd

    # "now" just past the corpus so the decay window bites real docs
    d = readers["cache"].dicts["ts_bucket"]
    now_ms = int(pd.to_datetime(d["value"], utc=True).astype("int64").max()
                 // 1_000_000) + 86400000
    vocab = make_vocab()
    qs = reference_queryset(vocab, n_conj=0, n_disj=8, n_lang=0, n_ts=0)
    qs.append({"query": ["ba", "be", "bi"], "mode": "or"})
    # sweep: cutoff bites some docs (30/90d), no docs (now far past the
    # corpus — every x > cutoff, factor 1 everywhere), and max_factor=0
    # (decay parabola collapses to a constant 1 boost)
    configs = [
        {"now_ms": now_ms, "cutoff_ms": 30 * 86400000, "max_factor": 2.0},
        {"now_ms": now_ms, "cutoff_ms": 90 * 86400000, "max_factor": 2.0},
        {"now_ms": now_ms + 400 * 86400000, "cutoff_ms": 30 * 86400000,
         "max_factor": 2.0},
        {"now_ms": now_ms, "cutoff_ms": 60 * 86400000, "max_factor": 0.0},
    ]
    for path in QUERY_PATHS:
        prune_spy.clear()
        reader = readers[path]
        nonempty = 0
        for rec in configs:
            for q in qs:
                a = reader.search(SearchRequest(query=q["query"], mode="or",
                                                k=10, prune=True, recency=rec))
                b = reader.search(SearchRequest(query=q["query"], mode="or",
                                                k=10, prune=False, recency=rec))
                assert a.hits["doc_id"].tolist() == b.hits["doc_id"].tolist(), (path, q)
                assert a.hits["score"].tolist() == b.hits["score"].tolist(), (path, q)
                assert a.num_hits == b.num_hits, (path, q)
                nonempty += len(a.hits) > 0
        assert nonempty > 10
        if path != "distributed":
            assert prune_spy, f"block-max pruning never ran on the {path} path"
