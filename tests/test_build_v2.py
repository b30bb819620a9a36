"""The build's two postings paths: a dictionary within
``broadcast_terms_threshold`` takes one text shuffle and encodes inside
each partition; past it, a materialized pair table is range-shuffled.
``broadcast_terms_threshold=0`` pins the pairs path. Both must be
SEMANTICALLY identical — same term dictionary, same stats, same
forward rows, and identical query results (the posting block layout
may differ: blocks split at doc-range partition boundaries, which the
reader's block concatenation tolerates by design)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.webgen import webpages


@pytest.fixture(scope="module")
def both(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("v2")
    docs = webpages(spark, 900, 5)
    cfg_a = BuildConfig(docs_per_segment=200, block_size=32,
                        broadcast_terms_threshold=0, sections=("window", 8))
    cfg_b = BuildConfig(docs_per_segment=200, block_size=32,
                        sections=("window", 8),
                        rows_per_posting_partition=20_000)
    build_snapshot(spark, docs, str(base / "a"), cfg_a)
    build_snapshot(spark, docs, str(base / "b"), cfg_b)
    return IndexReader(spark, str(base / "a")), IndexReader(spark, str(base / "b"))


def test_terms_identical(both):
    a, b = both
    ta = a._terms.toPandas().sort_values("term").reset_index(drop=True)
    tb = b._terms.toPandas().sort_values("term").reset_index(drop=True)
    pd.testing.assert_frame_equal(ta[["term", "term_id", "df", "cf"]],
                                  tb[["term", "term_id", "df", "cf"]])


def test_stats_identical(both):
    a, b = both
    for k in ("n_docs", "tok_sum", "avgdl", "n_terms"):
        assert a.snap.stats[k] == b.snap.stats[k], k


def test_forward_identical(both):
    a, b = both
    fa = a._forward.toPandas().sort_values("doc_id").reset_index(drop=True)
    fb = b._forward.toPandas().sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(fa, fb[fa.columns])


def test_query_results_identical(both):
    a, b = both
    reqs = [
        SearchRequest(query="ba be", mode="and", k=10, facets=("lang",)),
        SearchRequest(query="ba ka vu", mode="or", k=10),
        SearchRequest(query="ba be", mode="phrase", k=10),
        SearchRequest(query="ka", mode="or", k=10,
                      selections={"lang": ["en"]}, facets=("ts_bucket",)),
        SearchRequest(query=None, k=10, selections={"lang": ["de"]}),
    ]
    for req in reqs:
        ra, rb = a.search(req), b.search(req)
        assert ra.num_hits == rb.num_hits, req
        pd.testing.assert_frame_equal(ra.hits, rb.hits)
        assert set(ra.facets) == set(rb.facets)
        for f in ra.facets:
            pd.testing.assert_frame_equal(ra.facets[f], rb.facets[f])


def test_section_search_identical(both):
    a, b = both
    tree = ("and", ("term", "ba"), ("not", ("term", "be")))
    ra, rb = a.section_search(tree, k=10), b.section_search(tree, k=10)
    assert ra.num_hits == rb.num_hits
    pd.testing.assert_frame_equal(ra.hits, rb.hits)


def test_oversized_dictionary_falls_back_to_pairs(spark, tmp_path_factory):
    """A dictionary past broadcast_terms_threshold builds its postings
    from the materialized pair table (the ``pairs`` stage runs) and
    answers like the broadcast path."""
    base = tmp_path_factory.mktemp("v2big")
    docs = webpages(spark, 100, 2)
    snaps = {}
    for sub, thr in (("big", 5), ("ref", BuildConfig.broadcast_terms_threshold)):
        snaps[sub] = build_snapshot(spark, docs, str(base / sub), BuildConfig(
            docs_per_segment=50, broadcast_terms_threshold=thr))
    assert snaps["big"].stats["n_terms"] > 5
    assert "pairs" in snaps["big"].stages
    assert "pairs" not in snaps["ref"].stages
    a, b = IndexReader(spark, str(base / "big")), IndexReader(spark, str(base / "ref"))
    for req in (SearchRequest(query="ba be", mode="and", k=10, facets=("lang",)),
                SearchRequest(query="ba be", mode="phrase", k=10)):
        ra, rb = a.search(req), b.search(req)
        assert ra.num_hits == rb.num_hits > 0
        pd.testing.assert_frame_equal(ra.hits, rb.hits)
        for f in rb.facets:
            pd.testing.assert_frame_equal(ra.facets[f], rb.facets[f])


def test_mixed_pipeline_incremental(spark, tmp_path_factory):
    """Snapshot 0's postings built on the pairs path, snapshot 1
    appended on the broadcast path: the index must answer queries
    identically to a single-shot build of the full corpus."""
    base = tmp_path_factory.mktemp("v2mix")
    docs = webpages(spark, 600, 4)
    half = 300
    d_mix = str(base / "mix")
    build_snapshot(spark, docs.where(F.col("doc_id") < half), d_mix,
                   BuildConfig(docs_per_segment=150, broadcast_terms_threshold=0))
    build_snapshot(spark, docs.where(F.col("doc_id") >= half), d_mix,
                   BuildConfig(docs_per_segment=150))
    d_full = str(base / "full")
    build_snapshot(spark, docs, d_full, BuildConfig(docs_per_segment=150))
    a, b = IndexReader(spark, d_mix), IndexReader(spark, d_full)
    assert a.n_docs == b.n_docs and abs(a.avgdl - b.avgdl) < 1e-9
    for req in (SearchRequest(query="ba be", mode="and", k=10, facets=("lang",)),
                SearchRequest(query="ka vu", mode="or", k=10),
                SearchRequest(query=None, k=10, selections={"lang": ["en"]})):
        ra, rb = a.search(req), b.search(req)
        assert ra.num_hits == rb.num_hits
        pd.testing.assert_frame_equal(ra.hits, rb.hits)


def test_v2_empty_text_docs(spark, tmp_path_factory):
    """Docs with empty text must still land in forward (doclen 0) and
    be reachable via MatchAll, without breaking the encoder."""
    d = str(tmp_path_factory.mktemp("v2empty"))
    pdf = pd.DataFrame({
        "doc_id": range(20),
        "url": [f"u{i}" for i in range(20)],
        "warc_ts": pd.Timestamp("2024-03-01"),
        "lang": "en",
        "text": ["" if i % 3 == 0 else f"alpha beta doc {i}" for i in range(20)],
    })
    docs = spark.createDataFrame(pdf)
    build_snapshot(spark, docs, d, BuildConfig(docs_per_segment=10))
    r = IndexReader(spark, d)
    fwd = r._forward.toPandas().set_index("doc_id")["doclen"]
    assert len(fwd) == 20
    assert all(fwd[i] == 0 for i in range(0, 20, 3))
    res = r.search(SearchRequest(query=None, k=25))
    assert res.num_hits == 20
    res2 = r.search(SearchRequest(query="alpha", mode="and", k=25))
    assert res2.num_hits == 20 - len(range(0, 20, 3))


def test_regex_sections_identical_both_pipelines(spark, tmp_path_factory):
    """Regex section geometry (the cogrouped boundary table) must come
    out identical from the pairs and the broadcast postings paths —
    both share _encode_partition, but the sections table is written by
    a separate stage."""
    import numpy as np

    base = tmp_path_factory.mktemp("v2rx")
    rows = []
    words = ["ba", "be", "ka", "vu", "ma", "ne"]
    rng = np.random.RandomState(11)
    for i in range(240):
        parts = [" ".join(rng.choice(words, size=rng.randint(0, 8)))
                 for _ in range(rng.randint(1, 5))]
        rows.append((i, f"u{i}", "2024-01-0%d" % (i % 9 + 1), "en",
                     "\n\n".join(parts)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "url", "warc_ts", "lang",
                                      "text"])
    docs = spark.createDataFrame(pdf).withColumn(
        "warc_ts", F.to_timestamp("warc_ts"))
    readers = []
    for sub, thr in (("a", 0), ("b", BuildConfig.broadcast_terms_threshold)):
        d = str(base / sub)
        build_snapshot(spark, docs, d, BuildConfig(
            docs_per_segment=80, block_size=16, broadcast_terms_threshold=thr,
            sections=("regex", r"\n\n+")))
        readers.append(IndexReader(spark, d))
    a, b = readers
    for tree in (
        ("and", ("term", "ba"), ("term", "be")),
        ("and", ("term", "ba"), ("not", ("term", "ka"))),
        ("phrase", "ba be"),
        ("or", ("phrase", "ka vu"), ("and", ("term", "ma"),
                                     ("term", "ne"))),
    ):
        ra, rb = a.section_search(tree, k=50), b.section_search(tree, k=50)
        assert ra.num_hits == rb.num_hits, tree
        pd.testing.assert_frame_equal(ra.hits, rb.hits)


def test_assign_sorted_ids_driver_equals_distributed(spark):
    """r6: assign_sorted_ids gained a driver-sort path for
    dictionaries under the exact row-count gate; the distributed
    two-pass rank must assign the SAME (term -> id) mapping."""
    from bobo_spark.build import assign_sorted_ids

    rows = [(f"t{i:04d}", i % 7 + 1, i % 11 + 1) for i in range(997)]
    df = spark.createDataFrame(rows, "term string, df long, cf long")
    drv = assign_sorted_ids(df, spark, id_base=5).toPandas()
    dist = assign_sorted_ids(df, spark, id_base=5,
                             driver_threshold=0).toPandas()
    a = drv.sort_values("term", ignore_index=True)
    b = dist.sort_values("term", ignore_index=True)
    assert a["term"].tolist() == b["term"].tolist()
    assert a["term_id"].tolist() == b["term_id"].tolist()
    assert a["term_id"].tolist() == list(range(5, 5 + len(rows)))


def test_murmur3_partition_keys_match_spark_hash(spark):
    """The numpy Murmur3 behind the identity partition keys equals
    Spark's ``hash`` on ints, its pmod equals ``F.pmod(F.hash(k), n)``
    for every tested partition count (1 and non-powers of two
    included), and each key lands on its own partition."""
    from bobo_spark.build import _identity_partition_keys, _murmur3_int

    ns = (1, 3, 7, 8, 13, 64)
    ks = list(range(-2000, 2000)) + [2**31 - 1, -(2**31)]
    got = spark.createDataFrame([(k,) for k in ks], "k int").select(
        "k", F.hash("k").alias("h"),
        *[F.pmod(F.hash("k"), F.lit(n)).alias(f"p{n}") for n in ns]).toPandas()
    h = _murmur3_int(got["k"].to_numpy())
    assert (h == got["h"].to_numpy()).all()
    for n in ns:
        part = got[f"p{n}"].to_numpy()
        assert (np.mod(h, n) == part).all(), n
        to_part = dict(zip(got["k"], part))
        assert [to_part[k] for k in _identity_partition_keys(n)] == list(range(n)), n


def test_append_terms_driver_equals_distributed(spark, tmp_path, monkeypatch):
    """An append writes the same terms table under the driver gate and
    under ``driver_threshold=0`` (the distributed join): the parent's
    terms keep their ids, new terms follow in sorted order from the
    parent's n_terms, and df/cf equal a one-shot build's."""
    import functools

    from bobo_spark import build
    from bobo_spark.catalog import IndexCatalog, read_table_pdf

    docs = webpages(spark, 600, 4)
    cfg = BuildConfig(docs_per_segment=200)

    def terms(d, snap):
        return read_table_pdf(IndexCatalog(d).table_path("terms", snap.snapshot_id)) \
            .sort_values("term_id", ignore_index=True)

    def base_and_append(d):
        base = build_snapshot(spark, docs.where(F.col("doc_id") < 400), d, cfg)
        app = build_snapshot(spark, docs.where(F.col("doc_id") >= 400), d, cfg)
        return terms(d, base), terms(d, app)

    parent, drv = base_and_append(str(tmp_path / "drv"))
    monkeypatch.setattr(build, "_append_terms", functools.partial(
        build._append_terms, driver_threshold=0))
    _, dist = base_and_append(str(tmp_path / "dist"))
    pd.testing.assert_frame_equal(drv, dist)
    n0 = len(parent)
    assert drv["term_id"].tolist() == list(range(len(drv)))
    assert drv["term"][:n0].tolist() == parent["term"].tolist()
    new = drv["term"][n0:].tolist()
    assert new and new == sorted(new)
    one = terms(str(tmp_path / "one"),
                build_snapshot(spark, docs, str(tmp_path / "one"), cfg))
    both = drv.merge(one, on="term", suffixes=("", "_one"))
    assert len(both) == len(drv) == len(one)
    assert (both["df"] == both["df_one"]).all()
    assert (both["cf"] == both["cf_one"]).all()


def test_stats_spark_side_equals_driver(spark, tmp_path_factory, monkeypatch):
    """The stats stage's Spark aggregate over the terms table (taken
    when ``_small_table_pdf`` declines) gives the driver read's stats
    and terms."""
    from bobo_spark import build

    base = tmp_path_factory.mktemp("v2stats")
    docs = webpages(spark, 300, 3)
    cfg = BuildConfig(docs_per_segment=100)
    want = build_snapshot(spark, docs, str(base / "driver"), cfg)
    monkeypatch.setattr(build, "_small_table_pdf", lambda *a, **kw: None)
    got = build_snapshot(spark, docs, str(base / "spark"), cfg)
    for k in ("n_docs", "tok_sum", "avgdl", "n_terms", "new_docs", "new_bytes"):
        assert got.stats[k] == want.stats[k], k
    ta = IndexReader(spark, str(base / "driver"))._terms.toPandas()
    tb = IndexReader(spark, str(base / "spark"))._terms.toPandas()
    pd.testing.assert_frame_equal(ta.sort_values("term", ignore_index=True),
                                  tb.sort_values("term", ignore_index=True))


def test_forward_stage_times_its_own_thread(spark, tmp_path_factory, monkeypatch):
    """The merge runs forward overlapped with the postings rewrite: its
    stage_secs entry is the forward thread's own duration, and the
    wait for it is not charged to the next serial stage. The build has
    no forward stage: its docs stage writes forward on an overlapped
    thread, so the ``docs`` entry carries the write. A 0.3 s sleep in
    the forward write alone must show up in the build's ``docs`` and
    the merge's ``forward``."""
    import time

    from pyspark.sql.readwriter import DataFrameWriter

    from bobo_spark.merge import merge_snapshot

    orig = DataFrameWriter.parquet

    def slow_forward(self, path, *args, **kwargs):
        if "/forward/" in str(path):
            time.sleep(0.3)
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", slow_forward)
    d = str(tmp_path_factory.mktemp("v2fwd"))
    docs = webpages(spark, 200, 2)
    snap = build_snapshot(spark, docs, d, BuildConfig(docs_per_segment=100))
    assert "forward" not in snap.stats["stage_secs"]
    assert snap.stats["stage_secs"]["docs"] >= 0.3
    assert snap.stats["stage_secs"]["published"] < 0.3
    delete_docs(spark, d, [3])
    msnap = merge_snapshot(spark, d)
    assert msnap.stats["stage_secs"]["forward"] >= 0.3
    assert msnap.stats["stage_secs"]["published"] < 0.3


def test_forward_doclen_is_the_token_count(spark, tmp_path_factory):
    """Forward doclen is the tokenizer's token count on both postings
    paths (the default broadcast gate and the pair table under
    ``broadcast_terms_threshold=0``), also for a doc of more than
    65,535 tokens, where the postings' doclen clamps: it equals the
    oracle's ``len(tokens)``. Neither path writes per-doc forward runs
    (term_id -1) into postings."""
    from bobo_spark.catalog import IndexCatalog, read_table_pdf
    from bobo_spark.oracle import OracleIndex

    docs = webpages(spark, 60, 2).withColumn(
        "text", F.when(F.col("doc_id") == 7, F.repeat(F.lit("ab Cd "), 35_000))
        .otherwise(F.col("text")))
    want = OracleIndex(docs.select("doc_id", "text").toPandas()
                       .to_dict("records")).doclen
    assert want[7] == 70_000
    got = {}
    for name, cfg in (("broadcast", BuildConfig(docs_per_segment=25)),
                      ("pairs", BuildConfig(docs_per_segment=25,
                                            broadcast_terms_threshold=0))):
        d = str(tmp_path_factory.mktemp(f"v2dl_{name}"))
        snap = build_snapshot(spark, docs, d, cfg)
        fwd = read_table_pdf(IndexCatalog(d).table_paths(snap, "forward"))
        got[name] = dict(zip(fwd["doc_id"].tolist(), fwd["doclen"].tolist()))
        tids = read_table_pdf(IndexCatalog(d).table_paths(snap, "postings"),
                              columns=["term_id"])["term_id"]
        assert tids.min() >= 0, name
    assert got["broadcast"] == got["pairs"] == want
