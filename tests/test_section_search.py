"""Section search goldens: window and regex section geometry vs a
brute-force per-doc reference, across term/AND/OR/ANDNOT/NOT/PHRASE
trees (≙ search/section/SectionSearchQueryPlanBuilder.java:65-135 +
node semantics; constant-score ≙ SectionSearchQuery.java scorer)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.query import IndexReader
from bobo_spark.tokenizer import tokenize
from bobo_spark.webgen import webpages
from conftest import path_readers

W = 8


def _brute_eval(toks: list[str], secs: list[int], tree):
    """Set of section ids of one doc satisfying the tree."""
    op = tree[0]
    if op == "term":
        return {secs[p] for p, t in enumerate(toks) if t == tree[1]}
    if op == "phrase":
        words = tree[1].split()
        out = set()
        for p in range(len(toks) - len(words) + 1):
            if (toks[p:p + len(words)] == words
                    and len({secs[p + j] for j in range(len(words))}) == 1):
                out.add(secs[p])
        return out
    if op == "not":
        return set()
    if op == "and":
        pos = [c for c in tree[1:] if c[0] != "not"]
        neg = [c[1] for c in tree[1:] if c[0] == "not"]
        if not pos:
            return set()
        out = _brute_eval(toks, secs, pos[0])
        for c in pos[1:]:
            out &= _brute_eval(toks, secs, c)
        for c in neg:
            out -= _brute_eval(toks, secs, c)
        return out
    if op == "or":
        out = set()
        for c in tree[1:]:
            out |= _brute_eval(toks, secs, c)
        return out
    if op == "andnot":
        out = _brute_eval(toks, secs, tree[1])
        for c in tree[2:]:
            out -= _brute_eval(toks, secs, c)
        return out
    raise ValueError(tree)


def _brute_search(corpus: dict, tree, k=10, offset=0):
    """corpus: doc_id -> (toks, secs). Returns (rows, num_hits)."""
    rows = []
    for d in sorted(corpus):
        toks, secs = corpus[d]
        m = _brute_eval(toks, secs, tree)
        if m:
            rows.append((d, len(m)))
    return rows[offset:offset + k], len(rows)


TREES = [
    ("term", "ba"),
    ("and", ("term", "ba"), ("term", "be")),
    ("or", ("term", "vu"), ("and", ("term", "ba"), ("term", "ka"))),
    ("andnot", ("term", "ba"), ("term", "be")),
    ("and", ("term", "ba"), ("not", ("term", "be"))),
    ("not", ("term", "ba")),
    ("phrase", "ba ba"),
    ("and", ("phrase", "ba be"), ("term", "ka")),
    ("term", "zzznothere"),
]


@pytest.fixture(scope="module")
def window_env(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_secw"))
    docs = webpages(spark, 600, 3)
    build_snapshot(spark, docs, d, BuildConfig(
        docs_per_segment=150, block_size=32, sections=("window", W)))
    corpus = {}
    for r in docs.select("doc_id", "text").collect():
        toks = tokenize(r["text"])
        corpus[r["doc_id"]] = (toks, [p // W for p in range(len(toks))])
    return IndexReader(spark, d), corpus


def test_window_sections_match_brute(window_env):
    reader, corpus = window_env
    for tree in TREES:
        res = reader.section_search(tree, k=10)
        want_rows, want_hits = _brute_search(corpus, tree, k=10)
        got = list(zip(res.hits["doc_id"], res.hits["n_sections"]))
        assert got == want_rows, tree
        assert res.num_hits == want_hits, tree
        assert all(s == 1.0 for s in res.hits["score"])


def test_window_sections_paging(window_env):
    reader, corpus = window_env
    tree = ("term", "ba")
    res = reader.section_search(tree, k=5, offset=3)
    want_rows, _ = _brute_search(corpus, tree, k=5, offset=3)
    assert list(zip(res.hits["doc_id"], res.hits["n_sections"])) == want_rows
    df = reader.section_search_df(tree, k=5, offset=3).toPandas()
    assert list(zip(df["doc_id"], df["n_sections"])) == want_rows


def test_window_section_search_df_all_paths(window_env, spark):
    """section_search_df gives section_search's page on every
    request path ("cache" serves window sections on the driver,
    "distributed" in Spark tasks), with and without an offset."""
    reader, _corpus = window_env
    readers = path_readers(spark, reader.catalog.index_dir)
    for path, r in readers.items():
        for tree in TREES:
            for k, offset in ((10, 0), (4, 3)):
                want = reader.section_search(tree, k=k, offset=offset).hits
                got = r.section_search_df(tree, k=k, offset=offset).toPandas()
                got = got.sort_values("doc_id", ignore_index=True)
                assert got["doc_id"].tolist() == want["doc_id"].tolist(), (path, tree)
                assert got["n_sections"].tolist() == want["n_sections"].tolist(), \
                    (path, tree)


@pytest.fixture(scope="module")
def regex_env(spark, tmp_path_factory):
    """Docs with explicit newline-delimited sections."""
    d = str(tmp_path_factory.mktemp("idx_secr"))
    rows = []
    words = ["ba", "be", "ka", "vu", "ma", "ne"]
    rng = np.random.RandomState(7)
    for i in range(300):
        nsec = rng.randint(1, 5)
        parts = [" ".join(rng.choice(words, size=rng.randint(0, 9)))
                 for _ in range(nsec)]
        rows.append((i, f"u{i}", "2024-01-0%d" % (i % 9 + 1), "en",
                     "\n\n".join(parts)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "url", "warc_ts", "lang", "text"])
    docs = (
        pytest.importorskip("pyspark").sql.SparkSession.getActiveSession()
        .createDataFrame(pdf)
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))
    )
    build_snapshot(spark, docs, d, BuildConfig(
        docs_per_segment=100, block_size=16, sections=("regex", r"\n\n+")))
    corpus = {}
    for _, r in pdf.iterrows():
        toks, secs = [], []
        for si, part in enumerate(r["text"].split("\n\n")):
            pt = tokenize(part)
            toks += pt
            secs += [si] * len(pt)
        corpus[r["doc_id"]] = (toks, secs)
    return IndexReader(spark, d), corpus


def test_regex_sections_match_brute(regex_env):
    reader, corpus = regex_env
    for tree in TREES:
        res = reader.section_search(tree, k=10)
        want_rows, want_hits = _brute_search(corpus, tree, k=10)
        got = list(zip(res.hits["doc_id"], res.hits["n_sections"]))
        assert got == want_rows, tree
        assert res.num_hits == want_hits, tree


def test_sectionless_index_raises(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_nosec"))
    build_snapshot(spark, webpages(spark, 100, 2), d,
                   BuildConfig(docs_per_segment=50))
    with pytest.raises(ValueError, match="without sections"):
        IndexReader(spark, d).section_search(("term", "ba"))
