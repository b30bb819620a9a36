"""Deterministic tokenizer — the analyzer of the engine.

Replaces the reference's Lucene ``StandardAnalyzer`` (bobo-browse/src/
main/java/com/browseengine/bobo/index/BoboIndexer.java:63-65) with a
fixed, locale-independent rule: NFC-free ASCII-safe lowercasing via
``str.lower()`` (Unicode default casing, never locale-dependent) and
token extraction with the fixed pattern ``[a-z0-9]+``.

``tokenize`` is the rule the rank-identity oracle runs; the Spark
build and the dedup kernels run its Arrow C++ form,
``flat_token_codes``, which yields the same tokens on every input
(checked over every code point by tests/test_webgen_extract.py).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

TOKEN_RE = re.compile(r"[a-z0-9]+")


def tokenize(text: str) -> list[str]:
    """Canonical token stream for one document (oracle + engine)."""
    return TOKEN_RE.findall(text.lower())


def flat_token_codes(texts):
    """Batch tokenize straight to integer codes: returns
    ``(codes int64[n_tokens], uniq object[n_vocab], doclens int64)``
    with tokens in document-major order and codes assigned by first
    appearance. ``texts`` is a pandas Series or an Arrow string array
    (an Arrow batch column is tokenized without a pandas round trip).

    Tokenization runs entirely in Arrow C++ (utf8_lower →
    split_pattern_regex on the token-class complement →
    dictionary_encode): no Python object array is ever materialized
    for the token stream, which removes the allocator churn that
    throttled multi-worker scaling. It is BIT-IDENTICAL to
    :func:`tokenize` (same tokens, first-appearance code order) on any
    text: a lowered character only matters through the [a-z0-9] it
    yields, and the one code point whose lowercase yields different
    ones in Arrow and in Python's ``str.lower`` is 'İ' (U+0130; Arrow
    'i', Python 'i' + U+0307, which ends the token), so it is spelled
    out first. tests/test_webgen_extract.py checks every code point.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = texts if isinstance(texts, pa.Array) else pa.array(
        texts, type=pa.string(), from_pandas=True)
    # nulls tokenize as empty
    arr = pc.replace_substring(pc.fill_null(arr, ""), "\u0130", "i\u0307")
    parts = pc.split_pattern_regex(pc.utf8_lower(arr), "[^a-z0-9]+")
    flat = pc.list_flatten(parts)
    nonempty = pc.not_equal(flat, "").to_numpy(zero_copy_only=False)
    par = pc.list_parent_indices(parts).to_numpy()
    doclens = np.bincount(par[nonempty], minlength=len(arr)).astype(np.int64)
    dictarr = pc.dictionary_encode(pc.filter(flat, pa.array(nonempty)))
    if isinstance(dictarr, pa.ChunkedArray):
        dictarr = dictarr.combine_chunks()
    codes = dictarr.indices.to_numpy().astype(np.int64)
    uniq = dictarr.dictionary.to_numpy(zero_copy_only=False)
    return codes, uniq, doclens


def term_freq_frame(doc_ids: np.ndarray, texts: pd.Series,
                    positions: bool = False, term_codes: bool = False):
    """Vectorized per-batch term-frequency table.

    Returns columns (doc_id, term, tf, doclen[, pos_bytes]). Token
    counting happens through one integer lexsort + run-length pass
    over the code stream from :func:`flat_token_codes` — no per-row
    Python and no token object array at all.

    With ``positions=True`` each row also carries ``pos_bytes``: the
    term's in-document token positions (0-based), delta-varbyte
    encoded (first position absolute, then gaps) — the per-posting
    positions stream that unlocks phrase search. The column is an
    Arrow-backed binary array sliced from ONE contiguous buffer
    (codecs.binary_array): per-run Python ``bytes`` objects would
    number in the millions per partition and dominated the encode
    stage.

    With ``term_codes=True`` the frame carries an int64 ``tcode``
    column instead of term strings, and the return value is
    ``(frame, uniq)`` where ``uniq[tcode]`` is the term — callers
    that resolve terms against a dictionary then do ONE vocab-sized
    lookup instead of a per-run string map.
    """
    from .codecs import binary_array, vb_encode_segmented

    codes, uniq, doclens = flat_token_codes(texts)
    flat_rows = np.repeat(doc_ids, doclens)
    if len(flat_rows) == 0:
        cols = {
            "doc_id": np.array([], dtype=np.int64),
            "term": np.array([], dtype=object),
            "tf": np.array([], dtype=np.int64),
            "doclen": np.array([], dtype=np.int64),
        }
        if term_codes:
            cols["tcode"] = np.array([], dtype=np.int64)
            del cols["term"]
        if positions:
            cols["pos_bytes"] = pd.Series(
                binary_array(b"", np.zeros(1, dtype=np.int64))[:0])
        frame = pd.DataFrame(cols)
        return (frame, uniq) if term_codes else frame
    # positions beyond 2^24-1 would carry into the doc_id bits of the
    # query engine's (doc<<24|pos) occurrence keys (query._POS_SHIFT)
    # and silently corrupt phrase matching — fail the build instead,
    # mirroring pack_meta's tf/lang/ts overflow checks. 64 tokens of
    # headroom keep phrase/section probe keys (pos + phrase_len) from
    # ever carrying into the doc bits either.
    if positions and int(doclens.max()) >= (1 << 24) - 64:
        raise ValueError(
            f"document with {int(doclens.max())} tokens exceeds the "
            "2^24 position limit of the positional postings codec")
    # one integer sort by (doc, code) — stable, so within each run the
    # original flat order (= ascending position order) survives. Runs
    # become rows; one segmented varbyte encode covers the batch's
    # positions. Single packed-key argsort when the ranges fit 63 bits
    # (~2x faster than the two-key lexsort on this memory-bound step).
    dmin = int(flat_rows.min())
    bc = max(len(uniq) - 1, 0).bit_length()
    bd = int(flat_rows.max() - dmin).bit_length()
    if bc + bd <= 63:
        key = ((flat_rows - dmin).astype(np.uint64) << np.uint64(bc)) \
            | codes.astype(np.uint64)
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((codes, flat_rows))
    d, c = flat_rows[order], codes[order]
    n = d.size
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (d[1:] != d[:-1]) | (c[1:] != c[:-1])
    run_starts = np.flatnonzero(new_run)
    run_lens = np.diff(np.append(run_starts, n))
    dl = pd.Series(doclens, index=doc_ids)
    run_docs = d[run_starts]
    cols = {
        "doc_id": run_docs,
        "term": None,  # placed below (string or code form)
        "tf": run_lens.astype(np.int64),
        "doclen": dl.loc[run_docs].to_numpy(),
    }
    if term_codes:
        del cols["term"]
        cols["tcode"] = c[run_starts]
    else:
        cols["term"] = np.asarray(uniq, dtype=object)[c[run_starts]]
    if positions:
        starts_per_doc = np.cumsum(doclens) - doclens
        pos = np.arange(flat_rows.size, dtype=np.int64) \
            - np.repeat(starts_per_doc, doclens)
        p = pos[order]
        prev = np.empty_like(p)
        prev[0] = 0
        prev[1:] = p[:-1]
        deltas = np.where(new_run, p, p - prev).astype(np.uint64)
        buf, offs = vb_encode_segmented(deltas, run_starts)
        cols["pos_bytes"] = pd.Series(binary_array(buf, offs))
    frame = pd.DataFrame(cols)
    return (frame, uniq) if term_codes else frame


def section_starts_frame(doc_ids: np.ndarray, texts: pd.Series,
                         pattern: str) -> pd.DataFrame:
    """Per-doc section geometry for regex-delimited sections.

    Sections = the text split on ``pattern``; a section's start is the
    global token position of its first token. Returns (doc_id, n_secs,
    sec_bytes) with the starts delta-varbyte encoded (first start is
    always 0). Empty sections keep their ids (they simply never claim
    a position — occurrence mapping is searchsorted-right minus one).

    This is the per-DOC analogue of the reference's per-OCCURRENCE
    section payloads (search/section/TermNode.java:55-63,
    IntMetaDataQuery.java:20): boundaries are stored once per doc, and
    occurrence→section resolves at query time.
    """
    from .codecs import binary_array, vb_encode_segmented

    parts = texts.str.split(pattern, regex=True)
    nparts = parts.map(len).to_numpy(np.int64)
    flat = parts.explode()
    cnt = flat.str.lower().str.count(TOKEN_RE.pattern).to_numpy(np.int64)
    doc_first = np.cumsum(nparts) - nparts  # index of each doc's first part
    g_end = np.cumsum(cnt)
    before_doc = np.concatenate(([0], g_end))[doc_first]
    starts = np.concatenate(([0], g_end[:-1])) - np.repeat(before_doc, nparts)
    prev = np.concatenate(([0], starts[:-1]))
    new_doc = np.zeros(starts.size, dtype=bool)
    new_doc[doc_first] = True
    deltas = np.where(new_doc, starts, starts - prev).astype(np.uint64)
    buf, offs = vb_encode_segmented(deltas, doc_first)
    return pd.DataFrame({
        "doc_id": np.asarray(doc_ids, dtype=np.int64),
        "n_secs": nparts.astype(np.int32),
        "sec_bytes": pd.Series(binary_array(buf, offs)),
    })
