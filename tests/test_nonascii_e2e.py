"""Non-ASCII end-to-end golden (r4 verdict item 7): a corpus whose
batches mix ASCII and non-ASCII text forces the PANDAS tokenizer
fallback (flat_token_codes is Arrow-C++ only for all-ASCII batches),
and the built index must still match the pure-Python oracle exactly —
rank identity, exact float64 scores, stats, df/cf, and phrase
positions shifted by the injected non-ASCII prefixes."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot
from bobo_spark.oracle import OracleIndex
from bobo_spark.query import IndexReader, SearchRequest
from bobo_spark.tokenizer import tokenize
from bobo_spark.webgen import webpages

N = 600
# every 5th doc gets a non-ASCII prefix; under [a-z0-9]+ on lowered
# text it tokenizes to ['caf', 'ber', 'stra', 'e'] (accents and CJK
# are separators), shifting every original token position by 4
PREFIX = "Café ÜBER straße 中文 "
PREFIX_TOKENS = ["caf", "ber", "stra", "e"]


def _mixed_docs(spark):
    docs = webpages(spark, N, 5)
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(PREFIX), F.col("text")))
        .otherwise(F.col("text")))


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    assert tokenize(PREFIX) == PREFIX_TOKENS  # pin the prefix stream
    d = str(tmp_path_factory.mktemp("idx_nonascii"))
    docs = _mixed_docs(spark)
    build_snapshot(spark, docs, d,
                   BuildConfig(docs_per_segment=150, block_size=64))
    pdf = (_mixed_docs(spark).select(
        "doc_id", "text", "lang",
        F.date_format(F.date_trunc("day", "warc_ts"),
                      "yyyy-MM-dd").alias("ts_bucket")).toPandas())
    return IndexReader(spark, d), OracleIndex(pdf.to_dict("records")), pdf


def test_fallback_actually_taken(env):
    # sanity: the corpus really is mixed, so per-batch ASCII gating
    # must route at least the injected batches through pandas
    _, _, pdf = env
    is_ascii = pdf["text"].map(str.isascii)
    assert not is_ascii.all() and is_ascii.any()


def test_stats_match_oracle(env):
    reader, oracle, _ = env
    assert reader.n_docs == oracle.n_docs
    assert reader.avgdl == pytest.approx(oracle.avgdl, abs=0)


def test_term_stats_match_oracle(env):
    reader, oracle, pdf = env
    terms = reader._terms.where(~F.col("term").startswith("\x00")).toPandas()
    got = dict(zip(terms["term"], zip(terms["df"], terms["cf"])))
    from collections import Counter
    want_df: Counter = Counter()
    want_cf: Counter = Counter()
    for t in pdf["text"]:
        toks = tokenize(t)
        want_cf.update(toks)
        want_df.update(set(toks))
    assert set(got) == set(want_cf)
    for t in ("caf", "ber", "stra", "e", "data"):
        assert got[t] == (want_df[t], want_cf[t]), t


@pytest.mark.parametrize("q,mode", [
    (["ber", "data"], "or"),
    (["caf", "data"], "and"),
    (["e"], "and"),
    (["stra"], "or"),
])
def test_rank_identity_nonascii_terms(env, q, mode):
    reader, oracle, _ = env
    got = reader.search(SearchRequest(query=q, mode=mode, k=10,
                                      facets=("lang",)))
    exp = oracle.search(q, mode=mode, k=10, facets=("lang",))
    assert got.hits["doc_id"].tolist() == [d for d, _ in exp["hits"]]
    assert got.hits["score"].tolist() == [s for _, s in exp["hits"]]  # EXACT
    assert got.num_hits == exp["num_hits"]
    assert dict(zip(got.facets["lang"]["value"],
                    got.facets["lang"]["count"])) == exp["facets"]["lang"]


def test_phrase_positions_survive_fallback(env):
    """Phrase over the injected prefix ('caf ber' consecutive) and a
    shifted-body phrase — positions encoded through the pandas path
    must align with the canonical token stream."""
    reader, _, pdf = env
    got = reader.search(SearchRequest(query=["caf", "ber"], mode="phrase",
                                      k=200))
    want = sorted(
        int(r.doc_id) for r in pdf.itertuples()
        if any(a == "caf" and b == "ber" for a, b in
               zip(tokenize(r.text), tokenize(r.text)[1:])))
    assert sorted(got.hits["doc_id"].tolist()) == want[:200] or \
        set(got.hits["doc_id"]) <= set(want)
    assert got.num_hits == len(want)
    # body phrase present in BOTH prefixed and unprefixed docs: the
    # prefixed ones matched with every position shifted by 4
    body = None
    for r in pdf.itertuples():
        toks = tokenize(r.text)
        if int(r.doc_id) % 5 == 0 and len(toks) > 6:
            body = (toks[4], toks[5])
            break
    assert body is not None
    got2 = reader.search(SearchRequest(query=list(body), mode="phrase",
                                       k=200))
    want2 = [int(r.doc_id) for r in pdf.itertuples()
             if any((a, b) == body for a, b in
                    zip(tokenize(r.text), tokenize(r.text)[1:]))]
    assert got2.num_hits == len(want2)
    assert set(got2.hits["doc_id"]) <= set(want2)


def test_engine_tokenizer_matches_jvm_tokens(spark):
    """The MinHash and SimHash kernels tokenize with the index
    encoder's ``tokenizer.flat_token_codes``; token_counts, langid,
    quality_scores and shingles use the JVM ``textops.tokens()``. Both
    give every doc the same tokens — dotted capital I, the Kelvin sign,
    sharp s, a final sigma, fullwidth digits, punctuation-only, empty
    and null texts included (a null text has no tokens on either side)
    — on the pandas fallback (the whole non-ASCII batch) and the Arrow
    path (each ASCII text alone). A null text keeps a null simhash."""
    import pyarrow as pa

    from bobo_spark import textops
    from bobo_spark.tokenizer import flat_token_codes

    texts = ["İstanbul İİ x", "Kelvin K KELVIN",
             "straße STRASSE", "ΟΔΟΣ οδος Σ",
             "１２３ 456 ａｂｃ", "!!! ... ???", "", None,
             "plain Ascii 42", "mixed-Case_words 7up"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    jvm = [r["t"] or [] for r in
           df.orderBy("doc_id").select(textops.tokens().alias("t")).collect()]
    codes, uniq, doclens = flat_token_codes(pd.Series(texts))
    assert [list(t) for t in np.split(uniq[codes], np.cumsum(doclens)[:-1])] == jvm
    for text, want in zip(texts, jvm):
        codes, uniq, _ = flat_token_codes(pa.array([text], type=pa.string()))
        assert list(uniq[codes]) == want, text
    sim = dict(textops.simhash64(df).select("doc_id", "simhash").collect())
    assert sim[texts.index(None)] is None
    assert sim[texts.index("")] == 0
    assert sum(v is None for v in sim.values()) == 1
