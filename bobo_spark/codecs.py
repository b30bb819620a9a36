"""Posting-list block codecs: delta + varbyte, block-max metadata.

Vectorized numpy implementations (no per-value Python loops; the only
loops are over the ≤10 byte positions of a varint, constant-bounded).

Format: classic varbyte with the MSB set on the *terminating* byte of
each value (Lucene-style vInt reversed terminator). Values are
docID deltas (first block doc stored absolutely in the block row) and
raw term frequencies.

Replaces the storage role of Lucene postings consumed by the reference
(bobo-browse/src/main/java/com/browseengine/bobo/facets/data/
FacetDataCache.java:122-157); block-max metadata generalizes the
reference's per-value minID/maxID skip bounds
(facets/filter/FacetFilter.java:44-49) to per-block score bounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

BLOCK_SIZE = 128
_MAX_VARBYTES = 10  # enough for uint64


def vb_encode(values: np.ndarray) -> bytes:
    """Varbyte-encode a uint64/int64 array (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    # number of 7-bit groups per value
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    # bit_length via iterative shift (≤10 iters)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    del nbits
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    ends = np.cumsum(nbytes) - 1  # index of terminating byte per value
    starts = ends - (nbytes - 1)
    # fill byte k (k-th least-significant 7-bit group) at position start+ (nbytes-1-k)
    for k in range(_MAX_VARBYTES):
        mask = nbytes > k
        if not mask.any():
            break
        group = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        pos = ends[mask] - k
        out[pos] = group
    out[ends] |= 0x80  # terminator bit on last byte of each value
    return out.tobytes()


def vb_decode(buf: bytes | bytearray | memoryview, count: int | None = None) -> np.ndarray:
    """Decode a varbyte buffer back to a uint64 array (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.zeros(0, dtype=np.uint64)
    ends = np.flatnonzero(b & 0x80)
    n = ends.size
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    nbytes = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for k in range(int(nbytes.max())):
        mask = nbytes > k
        pos = ends[mask] - k
        vals[mask] |= (b[pos].astype(np.uint64) & np.uint64(0x7F)) << np.uint64(7 * k)
    return vals


def vb_encode_segmented(values: np.ndarray, seg_starts: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte-encode `values` once, returning (buffer, byte_offsets)
    where byte_offsets[i] is the buffer offset of segment i
    (seg_starts are value indexes; one trailing offset is appended).

    This is the batch path of the posting encoder: one vectorized
    encode for millions of values across hundreds of thousands of
    blocks, then zero-copy slicing per block — no per-run Python.
    """
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b"", np.zeros(len(seg_starts) + 1, dtype=np.int64)
    nbytes = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp > 0).astype(np.int64)
        tmp = tmp >> np.uint64(7)
    ends_b = np.cumsum(nbytes)
    total = int(ends_b[-1])
    out = np.zeros(total, dtype=np.uint8)
    ends = ends_b - 1
    for k in range(_MAX_VARBYTES):
        mask = nbytes > k
        if not mask.any():
            break
        group = ((v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(np.uint8)
        out[ends[mask] - k] = group
    out[ends] |= 0x80
    # byte offset of each segment = cumulative bytes before its first value
    starts_b = np.concatenate(([0], ends_b))  # len(values)+1 entries
    offsets = np.empty(len(seg_starts) + 1, dtype=np.int64)
    offsets[:-1] = starts_b[seg_starts] if len(seg_starts) else 0
    offsets[-1] = total
    return out.tobytes(), offsets


def binary_array(buf, offsets: np.ndarray):
    """One Arrow-backed pandas array of ``len(offsets)-1`` binary
    values sliced from a contiguous buffer — ZERO per-value Python
    ``bytes`` objects.

    The object-dtype alternative materializes one heap object per
    posting run / block stream (millions per partition at build
    scale); that allocator churn dominated the encode stage and
    serialized Python workers on the shared allocator — the measured
    postings-stage scaling gap. Arrow's (offsets, data) layout IS the
    on-wire format mapInPandas ships, so this is also conversion-free
    at the Spark boundary."""
    n = len(offsets) - 1
    # Spark's Arrow bridge maps BinaryType to 32-bit-offset binary —
    # fine for the common case: a build partition's stream buffers are
    # MBs, not GBs (the partitioner bounds rows per partition). A
    # partition whose buffer exceeds 2 GiB degrades to large_binary
    # (64-bit offsets; binary_parts round-trips it) instead of
    # aborting — the 32-bit limit then only bites where Spark's
    # serializer truly requires it, at the mapInPandas boundary.
    if int(offsets[-1]) >= (1 << 31):
        arr = pa.LargeBinaryArray.from_buffers(
            pa.large_binary(), n,
            [None,
             pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int64)),
             pa.py_buffer(buf)])
    else:
        arr = pa.BinaryArray.from_buffers(
            pa.binary(), n,
            [None,
             pa.py_buffer(np.ascontiguousarray(offsets, dtype=np.int32)),
             pa.py_buffer(buf)])
    return pd.arrays.ArrowExtensionArray(arr)


def binary_parts(col: "pd.Series") -> tuple[memoryview | bytes, np.ndarray]:
    """(concatenated_bytes, offsets[n+1]) of a binary column —
    zero-copy for Arrow-backed columns, one join for object dtype."""
    if isinstance(col.dtype, pd.ArrowDtype):
        arr = col.array._pa_array.combine_chunks()
        odt = np.int64 if arr.type == pa.large_binary() else np.int32
        offs = np.frombuffer(arr.buffers()[1], dtype=odt)[
            arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
        data = memoryview(arr.buffers()[2])[offs[0]:offs[-1]] \
            if arr.buffers()[2] is not None else b""
        return data, offs - offs[0]
    vals = col.to_numpy(object)
    lens = np.fromiter((len(x) for x in vals), dtype=np.int64,
                       count=len(vals))
    offs = np.concatenate(([0], np.cumsum(lens)))
    return b"".join(vals), offs


def empty_binary_array(n: int):
    """Arrow-backed column of ``n`` empty byte strings."""
    return binary_array(b"", np.zeros(n + 1, dtype=np.int64))


def compact_binary(col: "pd.Series") -> "pd.Series":
    """Re-pack a (possibly chunked, possibly object) binary column
    into ONE contiguous Arrow array — required at the mapInPandas
    boundary, whose serializer takes single Arrow arrays only."""
    buf, offs = binary_parts(col)
    return pd.Series(binary_array(buf, offs), index=col.index)


def delta_encode(sorted_vals: np.ndarray) -> tuple[int, np.ndarray]:
    """Return (first_value, deltas) where deltas[0] = v1 - v0, … (strictly ascending input)."""
    v = np.asarray(sorted_vals, dtype=np.int64)
    return int(v[0]), np.diff(v).astype(np.uint64)


def delta_decode(first: int, deltas: np.ndarray) -> np.ndarray:
    out = np.empty(deltas.size + 1, dtype=np.int64)
    out[0] = first
    if deltas.size:
        np.cumsum(deltas.astype(np.int64), out=out[1:])
        out[1:] += first
    return out


def _rebase_docs(deltas: np.ndarray, nds: np.ndarray,
                 firsts: np.ndarray) -> np.ndarray:
    """Absolute docIDs of consecutive blocks from their concatenated
    delta streams (a block's first doc lives in its row, not in the
    stream): one segmented cumsum, per-block firsts re-based."""
    total = int(nds.sum())
    starts = np.cumsum(nds) - nds
    vals = np.zeros(total, dtype=np.int64)
    mask = np.ones(total, dtype=bool)
    mask[starts] = False
    vals[mask] = deltas
    cums = np.cumsum(vals)
    return cums - np.repeat(cums[starts], nds) + np.repeat(firsts, nds)


def _sorted_member(sorted_arr: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Boolean membership of ``vals`` in a SORTED int64 array — one
    searchsorted, no hash set (np.isin) materialization."""
    if sorted_arr.size == 0:
        return np.zeros(vals.shape, dtype=bool)
    pos = sorted_arr.searchsorted(vals)
    return (pos < sorted_arr.size) & \
        (sorted_arr[np.minimum(pos, sorted_arr.size - 1)] == vals)


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    contribs: np.ndarray,
    block_size: int = BLOCK_SIZE,
):
    """Split one term's sorted posting run into compressed blocks.

    Yields dicts: first_doc, last_doc, n_docs, doc_bytes (varbyte
    deltas incl. delta-from-first for position 0 = 0 handled by
    storing deltas of len n-1 and first_doc raw), tf_bytes,
    block_max (float64 upper bound of the per-doc BM25 contribution —
    exact max, used for pruning only, never for scoring).
    """
    n = doc_ids.size
    for s in range(0, n, block_size):
        e = min(s + block_size, n)
        d = doc_ids[s:e]
        t = tfs[s:e]
        first, deltas = delta_encode(d)
        yield {
            "first_doc": first,
            "last_doc": int(d[-1]),
            "n_docs": int(e - s),
            "doc_bytes": vb_encode(deltas),
            "tf_bytes": vb_encode(t.astype(np.uint64)),
            "block_max": float(contribs[s:e].max()),
        }


def decode_block(first_doc: int, n_docs: int, doc_bytes: bytes, tf_bytes: bytes):
    """Decode one block -> (doc_ids int64[n], tfs int64[n])."""
    deltas = vb_decode(doc_bytes)
    docs = delta_decode(first_doc, deltas)
    tfs = vb_decode(tf_bytes).astype(np.int64)
    return docs, tfs
