"""Section search: boolean/phrase matching constrained to one section.

Spark rendition of the reference's SectionSearchQuery
(search/section/SectionSearchQuery.java:22 — a CONSTANT-SCORE query;
the scorer returns the boost, not BM25) with the plan semantics of
SectionSearchQueryPlanBuilder.java:20,65-135 (BooleanQuery: required
clauses → AndNode, prohibited → OR'd negative via AndNotNode,
optional → OrNode; a pure-negative root plan yields NO hits —
getPlan returns null for UnaryNotNode) and the node iterators
AndNode.java:13, OrNode.java:13, AndNotNode.java:13,
UnaryNotNode.java:12, PhraseNode.java:14, TermNode.java:16.

Design difference (Spark-first): Lucene stores a section-id PAYLOAD on
every posting occurrence (TermNode.readSecId decoding
IntMetaDataQuery int payloads). Here section geometry is per-DOC:

* window mode — ``sec = token_pos // W``: pure arithmetic, zero index
  bytes;
* regex mode — per-doc boundary arrays (token start of each section,
  delta varbyte, one row per doc in the ``sections`` table).

Occurrence→section is a vectorized lookup at query time; at crawl
scale this removes the dominant per-occurrence payload stream
entirely while answering the same queries.

Tree grammar (plain tuples, mirroring the reference's translation):

    ("term", word)
    ("phrase", "w1 w2 ...")         # all tokens consecutive AND in
                                    # the same section (PhraseNode:
                                    # fetchPos + readSecId equality)
    ("and", node, ...)              # may contain ("not", x) children
                                    # — required + prohibited clauses
    ("or", node, ...)
    ("andnot", positive, negative, ...)
    ("not", node)                   # at the root (or as the only
                                    # content) → zero hits

A doc matches iff some section satisfies the whole tree; the
evaluator works on sorted-unique uint64 ``doc<<24 | section`` keys
(sections < 2^24 — bounded by the positions codec limit) with numpy
set algebra, the vectorized equivalent of the reference's zig-zag
(doc, section) iterators.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .codecs import vb_decode

_SEC_SHIFT = np.uint64(24)
_SEC_MASK = np.uint64((1 << 24) - 1)


def tree_words(tree) -> list[str]:
    """All words referenced by a section tree (driver term resolution)."""
    op = tree[0]
    if op == "term":
        return [tree[1]]
    if op == "phrase":
        return list(tree[1].split())
    return [w for sub in tree[1:] for w in tree_words(sub)]


class _SegmentEval:
    """Evaluator over (doc<<24|sec) key sets of one block store: the
    driver's whole store, or one segment in a distributed task."""

    def __init__(self, store, plan: dict, sec_pdf: pd.DataFrame | None):
        self.store = store  # a query._BlockStore (term -> its blocks)
        self.word_tid = plan["word_tid"]  # word -> term_id (-1 = absent)
        self.sec_cfg = plan["sections"]
        self._occ: dict = {}  # tid -> (keys doc<<24|pos asc, secs aligned)
        self._starts: dict | None = None
        if self.sec_cfg[0] == "regex":
            self._starts = {}
            if sec_pdf is not None:
                for d, sb in zip(sec_pdf["doc_id"].to_numpy(np.int64),
                                 sec_pdf["sec_bytes"]):
                    self._starts[int(d)] = np.cumsum(
                        vb_decode(sb).astype(np.int64))

    # ------------------------------------------------------- occurrences

    def _sections_of(self, occ_docs: np.ndarray, pos: np.ndarray) -> np.ndarray:
        if self.sec_cfg[0] == "window":
            return pos // int(self.sec_cfg[1])
        # regex mode: per-doc searchsorted over the boundary arrays.
        # a doc's occurrences are contiguous -> one pass over doc runs.
        sec = np.zeros(pos.size, dtype=np.int64)
        if pos.size == 0:
            return sec
        bnd = np.flatnonzero(np.diff(occ_docs) != 0) + 1
        starts_idx = np.concatenate(([0], bnd))
        ends_idx = np.concatenate((bnd, [pos.size]))
        for s, e in zip(starts_idx, ends_idx):
            st = self._starts.get(int(occ_docs[s]))
            if st is None or st.size == 0:  # doc without geometry: one section
                sec[s:e] = 0
            else:
                sec[s:e] = np.searchsorted(st, pos[s:e], side="right") - 1
        return sec

    def occ(self, tid: int):
        """(doc<<24|pos ascending, section per occurrence) for a term."""
        if tid in self._occ:
            return self._occ[tid]
        b = self.store.blocks(tid)
        if b is None:
            out = (np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64))
        else:
            st = self.store
            docs, tf = st.get("doc", b), st.get("tf", b)
            pos = st.positions(b, tf)
            occ_docs = np.repeat(docs, tf)
            keys = (occ_docs.astype(np.uint64) << _SEC_SHIFT) | pos.astype(np.uint64)
            secs = self._sections_of(occ_docs, pos)
            if not np.all(keys[1:] > keys[:-1]):
                # the term's blocks overlap in doc range across segments
                o = np.argsort(keys)
                keys, secs = keys[o], secs[o]
            out = (keys, secs)
        self._occ[tid] = out
        return out

    # -------------------------------------------------------------- nodes

    def _term_keys(self, word: str) -> np.ndarray:
        tid = self.word_tid.get(word, -1)
        if tid < 0:
            return np.zeros(0, dtype=np.uint64)
        keys, secs = self.occ(tid)
        dockeys = ((keys >> _SEC_SHIFT) << _SEC_SHIFT) | secs.astype(np.uint64)
        return np.unique(dockeys)

    def _phrase_keys(self, phrase: str) -> np.ndarray:
        words = phrase.split()
        tids = [self.word_tid.get(w, -1) for w in words]
        if any(t < 0 or self.store.blocks(t) is None for t in tids):
            return np.zeros(0, dtype=np.uint64)
        occs = {t: self.occ(t) for t in set(tids)}
        # consecutive-position intersection (≙ PhraseNode.fetchPos)
        keys = occs[tids[0]][0]
        for j, t in enumerate(tids[1:], start=1):
            if keys.size == 0:
                return np.zeros(0, dtype=np.uint64)
            keys = keys[np.isin(keys + np.uint64(j), occs[t][0])]
        if keys.size == 0:
            return np.zeros(0, dtype=np.uint64)
        # same-section check across the matched tokens
        # (≙ PhraseNode.fetchSec: readSecId equality per TermNode)
        sec0 = None
        ok = np.ones(keys.size, dtype=bool)
        for j, t in enumerate(tids):
            k, s = occs[t]
            idx = np.searchsorted(k, keys + np.uint64(j))
            sj = s[idx]
            if sec0 is None:
                sec0 = sj
            else:
                ok &= sj == sec0
        keys, sec0 = keys[ok], sec0[ok]
        return np.unique(((keys >> _SEC_SHIFT) << _SEC_SHIFT)
                         | sec0.astype(np.uint64))

    def eval(self, tree) -> np.ndarray:
        op = tree[0]
        if op == "term":
            return self._term_keys(tree[1])
        if op == "phrase":
            return self._phrase_keys(tree[1])
        if op == "not":
            # pure-negative plan → no hits (≙ getPlan returning null
            # for a root UnaryNotNode)
            return np.zeros(0, dtype=np.uint64)
        if op == "and":
            pos = [c for c in tree[1:] if c[0] != "not"]
            neg = [c[1] for c in tree[1:] if c[0] == "not"]
            if not pos:
                return np.zeros(0, dtype=np.uint64)
            out = self.eval(pos[0])
            for c in pos[1:]:
                if out.size == 0:
                    return out
                out = np.intersect1d(out, self.eval(c), assume_unique=True)
            for c in neg:  # required + prohibited ≙ AndNotNode
                if out.size == 0:
                    return out
                out = np.setdiff1d(out, self.eval(c), assume_unique=True)
            return out
        if op == "or":
            parts = [self.eval(c) for c in tree[1:]]
            parts = [p for p in parts if p.size]
            if not parts:
                return np.zeros(0, dtype=np.uint64)
            return np.unique(np.concatenate(parts))
        if op == "andnot":
            out = self.eval(tree[1])
            for c in tree[2:]:
                if out.size == 0:
                    return out
                out = np.setdiff1d(out, self.eval(c), assume_unique=True)
            return out
        raise ValueError(f"unknown section node: {tree[0]!r}")


def segment_section_search(store, deleted: np.ndarray | None, plan: dict,
                           sec_pdf: pd.DataFrame | None) -> pd.DataFrame:
    """Evaluate a section tree over the posting blocks of ``store`` (a
    query._BlockStore: the driver's whole store, or one segment in a
    distributed task; ``deleted``: sorted tombstone ids, None when
    there are none).

    Emits one hit row per matching doc: score = the query boost
    (constant-score, ≙ SectionSearchScorer.score returning getValue),
    count = number of matching sections in the doc (a free diagnostic
    the key-set representation gives us), plus a stats row.
    """
    from .codecs import _sorted_member
    from .query import _K_HIT, _K_STATS, _empty_out

    ev = _SegmentEval(store, plan, sec_pdf)
    keys = ev.eval(plan["tree"])
    if keys.size and deleted is not None:
        keys = keys[~_sorted_member(deleted, (keys >> _SEC_SHIFT).astype(np.int64))]
    if keys.size == 0:
        return _empty_out()
    docs = (keys >> _SEC_SHIFT).astype(np.int64)
    uniq, counts = np.unique(docs, return_counts=True)
    boost = float(plan.get("boost", 1.0))
    # constant-score ⇒ global order is doc_id ascending: each call
    # only ships its first offset+k docs (uniq is already ascending)
    page = min(plan.get("k", 10) + plan.get("offset", 0), uniq.size)
    out = pd.DataFrame({
        "kind": np.full(page, _K_HIT, dtype=np.int32),
        "doc_id": uniq[:page],
        "score": np.full(page, boost),
        "field": "",
        "ordinal": np.int64(-1),
        "count": counts[:page].astype(np.int64),
    })
    out.loc[len(out)] = (_K_STATS, -1, 0.0, "", -1, int(uniq.size))
    return out
