from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from bobo_spark.codecs import (
    decode_block,
    delta_decode,
    delta_encode,
    encode_blocks,
    vb_decode,
    vb_encode,
)


def test_vb_roundtrip_basic():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**40], dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(vals)), vals)


def test_vb_empty():
    assert vb_encode(np.array([], dtype=np.uint64)) == b""
    assert vb_decode(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vb_roundtrip_property(xs):
    vals = np.array(xs, dtype=np.uint64)
    assert np.array_equal(vb_decode(vb_encode(vals)), vals)


@given(st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=500, unique=True))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(xs):
    v = np.sort(np.array(xs, dtype=np.int64))
    first, deltas = delta_encode(v)
    assert np.array_equal(delta_decode(first, deltas), v)


def test_block_roundtrip():
    rng = np.random.default_rng(7)
    docs = np.sort(rng.choice(10**7, size=1000, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 50, size=1000).astype(np.int64)
    contribs = rng.random(1000)
    blocks = list(encode_blocks(docs, tfs, contribs, block_size=128))
    assert len(blocks) == 8
    out_docs, out_tfs = [], []
    for b in blocks:
        d, t = decode_block(b["first_doc"], b["n_docs"], b["doc_bytes"], b["tf_bytes"])
        assert d[0] == b["first_doc"] and d[-1] == b["last_doc"]
        assert len(d) == b["n_docs"]
        out_docs.append(d)
        out_tfs.append(t)
    assert np.array_equal(np.concatenate(out_docs), docs)
    assert np.array_equal(np.concatenate(out_tfs), tfs)
    # block_max is a true upper bound per block
    for i, b in enumerate(blocks):
        assert b["block_max"] >= contribs[i * 128:(i + 1) * 128].max()


def test_binary_array_large_offsets_degrade_to_large_binary():
    # a >2 GiB stream buffer degrades to 64-bit-offset large_binary
    # (ADVICE r4) instead of aborting the build; binary_parts
    # round-trips the offsets without materializing Python bytes
    import pyarrow as pa

    from bobo_spark.codecs import binary_array, binary_parts

    big = np.zeros((1 << 31) + 16, dtype=np.uint8)
    offsets = np.array([0, 8, big.size], dtype=np.int64)
    col = binary_array(memoryview(big), offsets)
    arr = col._pa_array.combine_chunks()
    assert arr.type == pa.large_binary()
    assert len(col) == 2
    data, offs = binary_parts(__import__("pandas").Series(col))
    assert np.array_equal(offs, offsets)
    assert len(data) == big.size


def test_sorted_member_empty_array():
    from bobo_spark.codecs import _sorted_member

    vals = np.array([1, 5, 9], dtype=np.int64)
    out = _sorted_member(np.array([], dtype=np.int64), vals)
    assert out.shape == vals.shape and not out.any()


def test_distinct_pair_codes_wide_bits_fallback():
    from bobo_spark.build import _distinct_pair_codes

    rng = np.random.default_rng(11)
    rows = rng.integers(0, 2**40, size=500).astype(np.int64)
    codes = rng.integers(0, 2**40, size=500).astype(np.int64)
    rows = np.concatenate([rows, rows[:100]])  # guarantee duplicates
    codes = np.concatenate([codes, codes[:100]])
    narrow = _distinct_pair_codes(rows % 1024, codes % 512, 9, 10)
    expect_n = (pd := __import__("pandas")).DataFrame(
        {"r": rows % 1024, "c": codes % 512}).drop_duplicates()
    assert np.array_equal(np.sort(narrow), np.sort(expect_n["c"].to_numpy()))
    wide = _distinct_pair_codes(rows, codes, 40, 40)  # 80 bits > 63
    expect_w = pd.DataFrame({"r": rows, "c": codes}).drop_duplicates()
    assert np.array_equal(np.sort(wide), np.sort(expect_w["c"].to_numpy()))
