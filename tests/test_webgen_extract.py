from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bobo_spark.extract import extract_text, extract_text_bytes
from bobo_spark.tokenizer import flat_token_codes, term_freq_frame, tokenize
from bobo_spark.webgen import gen_batch, make_vocab, webpages, zipf_cdf


def test_gen_batch_deterministic():
    vocab = np.array(make_vocab(), dtype=object)
    cdf = zipf_cdf()
    a = gen_batch(np.arange(50), vocab, cdf)
    b = gen_batch(np.arange(50), vocab, cdf)
    pd.testing.assert_frame_equal(a, b)
    # per-row determinism independent of batching
    c = gen_batch(np.array([10, 20, 30]), vocab, cdf)
    row10 = a[a.doc_id == 10].reset_index(drop=True)
    pd.testing.assert_frame_equal(row10, c[c.doc_id == 10].reset_index(drop=True))


def test_webpages_partition_invariance(spark):
    d4 = webpages(spark, 200, n_partitions=4).orderBy("doc_id").toPandas()
    d13 = webpages(spark, 200, n_partitions=13).orderBy("doc_id").toPandas()
    pd.testing.assert_frame_equal(d4, d13)
    assert d4.url.is_unique
    assert set(d4.lang) <= {"en", "de", "fr", "es", "pt", "it", "nl"}


def test_extraction_byte_identical(spark):
    df = webpages(spark, 300, n_partitions=5)
    bad = df.withColumn("etext", extract_text("html")).where(
        F.col("etext") != F.col("text")
    )
    assert bad.count() == 0
    # pure-function level too
    pdf = df.limit(20).toPandas()
    for _, r in pdf.iterrows():
        assert extract_text_bytes(bytes(r.html)).decode() == r.text


def test_tokenizer_matches_oracle():
    texts = pd.Series(["Hello, World! foo-bar 42x", "", "a  b\tc\nd", "ÀÉü ok"])
    codes, uniq, doclens = flat_token_codes(texts)
    got = np.split(uniq[codes], np.cumsum(doclens)[:-1])
    for t, g in zip(texts, got):
        assert list(g) == tokenize(t)
    assert tokenize("Hello, World! foo-bar 42x") == ["hello", "world", "foo", "bar", "42x"]


def test_term_freq_frame():
    tf = term_freq_frame(np.array([7, 9]), pd.Series(["a b a c", "b b b"]))
    got = {(r.doc_id, r.term): (r.tf, r.doclen) for r in tf.itertuples()}
    assert got == {
        (7, "a"): (2, 4),
        (7, "b"): (1, 4),
        (7, "c"): (1, 4),
        (9, "b"): (3, 3),
    }


def test_zipf_head_skew():
    # head term must be common enough to exercise skew handling
    vocab = np.array(make_vocab(), dtype=object)
    cdf = zipf_cdf()
    pdf = gen_batch(np.arange(2000), vocab, cdf)
    tf = term_freq_frame(pdf.doc_id.to_numpy(), pdf.text)
    byterm = tf.groupby("term")["tf"].sum().sort_values(ascending=False)
    total = byterm.sum()
    assert byterm.iloc[0] / total > 0.02  # head term ≥2% of all tokens


def test_term_freq_frame_positions():
    from bobo_spark.codecs import vb_decode

    texts = pd.Series(["a b a c a", "b b b", "", "x"])
    tf = term_freq_frame(np.array([7, 9, 11, 13]), texts, positions=True)
    got = {}
    for r in tf.itertuples():
        deltas = vb_decode(r.pos_bytes).astype(np.int64)
        pos = np.cumsum(deltas).tolist()  # first absolute, then gaps
        got[(r.doc_id, r.term)] = (r.tf, r.doclen, pos)
    assert got[(7, "a")] == (3, 5, [0, 2, 4])
    assert got[(7, "b")] == (1, 5, [1])
    assert got[(7, "c")] == (1, 5, [3])
    assert got[(9, "b")] == (3, 3, [0, 1, 2])
    assert got[(13, "x")] == (1, 1, [0])
    # empty doc -> no pairs (same as the non-positions path)
    assert not any(d == 11 for d, _ in got)
    # tf/doclen agree with the non-positions path
    plain = term_freq_frame(np.array([7, 9, 11, 13]), texts)
    a = {(r.doc_id, r.term): (r.tf, r.doclen) for r in plain.itertuples()}
    b = {(r.doc_id, r.term): (r.tf, r.doclen) for r in tf.itertuples()}
    assert a == b


def test_flat_token_codes_paths_agree():
    """The Arrow tokenizer must produce the same token stream, doclens
    and code semantics as the canonical ``tokenize`` on ASCII and on
    non-ASCII batches (Unicode casing parity with the oracle)."""
    ascii_texts = pd.Series(["Hello, World! foo-bar 42x", "", "a  b\tc\nd",
                             "x" * 5, "A1 b2 A1"])
    c1, u1, d1 = flat_token_codes(ascii_texts)
    # reference: canonical tokenize()
    want = [tokenize(t) for t in ascii_texts]
    assert d1.tolist() == [len(w) for w in want]
    flat = [u1[c] for c in c1]
    assert flat == [t for w in want for t in w]
    # codes are first-appearance dense ints
    assert sorted(set(c1.tolist())) == list(range(len(u1)))

    # non-ASCII: still matches tokenize()
    uni = pd.Series(["İstanbul CAFÉ merge", "naïve spark"])
    c2, u2, d2 = flat_token_codes(uni)
    want2 = [tokenize(t) for t in uni]
    assert [u2[c] for c in c2] == [t for w in want2 for t in w]
    assert d2.tolist() == [len(w) for w in want2]


def test_flat_token_codes_every_code_point():
    """Every code point, between token characters and alone, tokenizes
    as ``tokenize`` does — the Arrow lowercase differs from Python's
    on 'İ' (U+0130) alone, which ``flat_token_codes`` spells out."""
    cps = [c for c in range(0x80, 0x110000) if not 0xD800 <= c <= 0xDFFF]
    texts = [f"a{chr(c)}b {chr(c)}" for c in cps]
    codes, uniq, doclens = flat_token_codes(pd.Series(texts))
    got = np.split(uniq[codes], np.cumsum(doclens)[:-1])
    bad = [(hex(c), list(g)) for c, t, g in zip(cps, texts, got)
           if list(g) != tokenize(t)]
    assert not bad, bad[:5]


def test_extract_arrow_path_byte_identical_to_py():
    """The Arrow C++ extractor (r5) must be byte-identical to the
    per-row bytes-regex pipeline on every valid-UTF-8 shape: tags at
    edges, mixed whitespace runs, non-ASCII text, empty docs."""
    from bobo_spark.extract import _extract_series_py, extract_series

    cases = pd.Series([
        b"<html><body>hello world</body></html>",
        b"  <p>a</p>\t\r\n<b>b</b>\x0b\x0c end  ",
        b"no tags at all",
        b"",
        b"<only><tags></tags></only>",
        "<p>café über straße</p> 中文 ok".encode(),
        b"<a href='x>y'>weird</a> <",  # '>' inside attr closes the tag
        b"tail<",
    ])
    got = extract_series(cases)
    want = _extract_series_py(cases)
    assert got.tolist() == want.tolist()


def test_extract_invalid_utf8_falls_back_strict():
    """Invalid UTF-8 OUTSIDE tags raises the strict decode error (via
    the pandas fallback); invalid bytes INSIDE tags are stripped by
    both pipelines and succeed."""
    import pytest

    from bobo_spark.extract import extract_series

    ok_inside_tag = pd.Series([b"<\xffbad-tag>clean text"])
    assert extract_series(ok_inside_tag).tolist() == ["clean text"]
    bad = pd.Series([b"broken \xff text"])
    with pytest.raises(UnicodeDecodeError):
        extract_series(bad)


def test_extract_no_per_row_lambda_on_hot_path():
    """Plan-level guard: the hot path returns an Arrow-backed Series
    (no per-value Python str objects were materialized)."""
    from bobo_spark.extract import extract_series

    out = extract_series(pd.Series([b"<p>x</p>"] * 100))
    assert isinstance(out.dtype, pd.ArrowDtype)
