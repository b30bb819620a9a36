"""BM25 top-k query engine over the posting-block index.

Execution model (the Spark rendition of SURVEY.md §3.1):

* Planning is O(query), never O(dictionary): each reader builds, once
  at open, a term → (term_id, df) lookup (facet sentinels included),
  per-facet value → ordinal maps and value-rank arrays, and the
  recency ``ord_ms`` table. Readers over a web-scale dictionary (past
  the 2M-term gate) resolve terms with a filtered Spark read instead.
* Posting blocks for the query terms are read with a pushed-down
  ``term_id IN (...)`` filter (blocks are sorted by (segment, term_id,
  doc_id) at build time → parquet row-group pruning does the work of
  Lucene's TermsEnum seek).
* Blocks are scored from a ``_BlockStore``, laid out like the
  reference's FacetDataCache columns (SURVEY §1.1): numpy metadata
  arrays (term_id, first_doc, last_doc, n_docs, max_tf, min_dl)
  sorted by (term_id, first_doc), and one concatenated byte buffer
  plus an int64 block-offset array per stream. Streams decode lazily,
  per BLOCK, into one flat array per stream; a term's run of decoded
  blocks is a zero-copy view.
* One scorer (``_score_plan``) turns one plan and one store into a
  typed ``_SegOut``: selection masks → intersection/union → BM25 TAAT
  accumulation in ascending lexicographic term order (float64, pinned
  order = score identity with the oracle) → top-k doc_id/score
  arrays, one bincount vector per facet, the hit count, explanation
  arrays. Doc ids are global, so a store is scored in ONE pass
  whatever segments it holds — the reference loops over segments
  (api/MultiBoboBrowser.java:100-127) only because each Lucene
  segment is a separate reader. It runs on one of two paths, fixed
  per reader:
  - ``cache``: an index under ``DRIVER_CACHE_TOKSUM`` is read into an
    in-driver ``_BlockStore`` once per reader; every request scores
    there, one pass per plan, with zero Spark jobs, decoded blocks
    shared across requests;
  - ``distributed``: ``groupBy(segment).applyInPandas`` scores each
    segment's store on the executors; the tasks encode ``_SegOut``s
    as ``OUT_SCHEMA`` rows only at that boundary and the driver
    decodes them back (``_parts_from_rows``).
  Every path filters tombstones with the reader's one sorted global
  ``deleted`` array; the tasks get it as one broadcast.
* MatchAll (``query=None``) is a plan like any other (≙ the
  reference's MatchAllDocsQuery AND-wrapped with the filters,
  api/MultiBoboBrowser.java:81-92): its terms are the ``\\x00lang:o``
  facet sentinels, one per doc, so their union is every doc, and
  every candidate scores 1.0. Selections, tombstones, the
  leave-one-out facet counts and the page come from the same scorer.
* One merge (``IndexReader._merge``) serves ``search_many`` (and so
  ``search``, a batch of one) and ``search_df``: one (score desc, doc_id asc)
  lexsort for the page (≙ sort/SortCollectorImpl.java:354-368 +
  util/ListMerger.java:104-137), one (doc_id, part) lexsort for the
  explanation rows, and ``_facet_frame``'s (count desc, value rank)
  order (≙ facets/CombinedFacetAccessible.java:101-192), which MatchAll
  and collectAll facets share. No pandas sort or merge.

Pruning (every path, once per store — so the cache path gets one
global θ):
* conjunctive — blocks of non-rarest terms are skipped before decode
  when their [first_doc, last_doc] interval overlaps no block of the
  rarest term (the skip-scan analogue of
  facets/filter/FacetFilter.java:44-49).
* disjunctive top-k without facets — two-phase block-max pruning:
  a safe θ lower bound from the highest-impact term's exact
  contributions, then whole blocks whose summed upper bound stays
  below θ are dropped *before* tf decode (block-max WAND flavor;
  every doc in a dropped block provably scores < θ).
A query decodes only the blocks it keeps. Because the decode cache is
keyed by block, a cached query also reuses every block other queries
already decoded — pruning and decode sharing hold together.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import bm25
from .build import load_tombstones, read_table
from .catalog import IndexCatalog, Snapshot, read_table_arrow, read_table_pdf
from .codecs import _rebase_docs, _sorted_member, vb_decode
from .tokenizer import tokenize

OUT_SCHEMA = "kind int, doc_id long, score double, field string, ordinal long, count long"
_OUT_COLS = ["kind", "doc_id", "score", "field", "ordinal", "count"]
_K_HIT, _K_FACET, _K_STATS, _K_EXPL = 1, 2, 3, 4
FACET_FIELDS = {"lang": "lang", "ts_bucket": "ts_bucket"}
# what a missing, remote or unreadable table raises on a driver-direct
# read; the callers fall back to a Spark read
_READ_ERRORS = (OSError, pa.ArrowInvalid)


@dataclass
class SearchRequest:
    # None = MatchAllDocs / selection-only search (the reference
    # AND-wraps MatchAllDocsQuery with the filter set,
    # api/MultiBoboBrowser.java:81-92): hits come from the lang facet
    # sentinel postings, scores are the constant 1.0
    query: str | list[str] | None
    mode: str = "and"  # "and" | "or" | "phrase" (exact consecutive positions)
    k: int = 10
    offset: int = 0
    facets: tuple[str, ...] = ()  # subset of {lang, ts_bucket}
    # selections: field -> list of values (OR semantics, Bobo ValueOperation.OR)
    selections: dict = field(default_factory=dict)
    # ts range selection: (lo, hi) inclusive "YYYY-MM-DD"
    ts_range: tuple[str, str] | None = None
    # Bobo expandSelection: a facet's own selection excluded from its counts
    expand_selection: bool = True
    prune: bool = True
    # quadratic time-decay boost ≙ query/RecencyBoostScorerBuilder.java:15,40,58-60:
    # {"now_ms": int, "cutoff_ms": int, "max_factor": float} — final score =
    # raw * (x > cutoff ? 1 : A·x² + (max_factor+1)), x = now - doc time,
    # A = -max_factor/cutoff². Doc time = the doc's ts_bucket start (the
    # engine's long time facet). float64 (reference uses float32).
    recency: dict | None = None
    # per-hit score breakdown (≙ BrowseHit.getExplanation,
    # api/BrowseHit.java:271-282): SearchResult.explanations gets one
    # row per (page doc, query term) with its exact BM25 contribution,
    # plus a 'recency_boost' row when a recency boost applies —
    # sum(contributions) × boost == score, bit-exact
    explain: bool = False


@dataclass
class SearchResult:
    """One search answer. Row order is part of the contract, the same
    on every path: ``hits`` by score desc, then doc_id asc; each facet
    frame by count desc, then value asc; ``explanations`` by doc_id
    asc, then part asc (code-point order)."""
    hits: pd.DataFrame  # doc_id int64, score float64 (page: offset..offset+k)
    num_hits: int
    facets: dict  # field -> pd.DataFrame(value object, count int64)
    # explain=True only: (doc_id int64, part object, value float64);
    # part = term, 'phrase' or 'recency_boost'
    explanations: pd.DataFrame | None = None


def _plan_terms(found: dict, qtokens: list[str], n_docs: int) -> list[dict]:
    """Plan entries of the query terms; ``found`` maps each known term
    to its (term_id, df)."""
    plan = []
    for t in sorted(set(qtokens)):  # ascending lexicographic = accumulation order
        if t in found:
            tid, df = found[t]
            plan.append({"term": t, "term_id": tid, "df": df,
                         "idf": float(bm25.idf(df, n_docs))})
        else:
            plan.append({"term": t, "term_id": -1, "df": 0, "idf": 0.0})
    return plan


def _spans(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices of the concatenated ranges [starts[i], starts[i]+lens[i])."""
    ends = np.cumsum(lens)
    total = int(ends[-1]) if ends.size else 0
    return np.arange(total) + np.repeat(starts - (ends - lens), lens)


_POS_SHIFT = 24  # (doc_id << 24 | position) occurrence keys: doc_id < 2^40, pos < 2^24

# stream name -> postings column
_STREAMS = {"doc": "doc_bytes", "tf": "tf_bytes", "dl": "dl_bytes",
            "lang": "lang_bytes", "ts": "ts_bytes", "pos": "pos_bytes"}


class _BlockStore:
    """Posting blocks as plain arrays (≙ FacetDataCache's orderArray /
    freqs / minIDs / maxIDs, SURVEY §1.1), built from an Arrow table of
    postings rows.

    Block metadata are numpy arrays sorted by (term_id, first_doc), so
    each term's blocks are one contiguous run whatever segments they
    came from; doc ids are global, so a store of many segments is
    scored as one unit. Doc order holds only WITHIN a block: blocks of
    one term from different segments can overlap in doc range (a
    merge can re-chunk a segment whose range interleaves another's),
    so a term's concatenated doc stream need not be sorted.
    Each stream is one concatenated byte buffer with int64 block
    offsets. Decoding is lazy and keyed by block: ``get`` decodes only
    the requested blocks not decoded before, into one flat array per
    stream (docIDs int64; tf/dl/ordinal streams int32 — tf/dl are
    16-bit-clamped at encode and the ordinal spaces are small), and a
    contiguous run comes back as a view. Positions are decoded per
    call (``positions``), never cached."""

    def __init__(self, tbl: pa.Table):
        def col(name):
            return tbl.column(name).to_numpy(zero_copy_only=False)

        tid = col("term_id").astype(np.int64, copy=False)
        first = col("first_doc").astype(np.int64, copy=False)
        order = np.lexsort((first, tid))
        self.tid, self.first = tid[order], first[order]
        self.last = col("last_doc").astype(np.int64, copy=False)[order]
        self.nd = col("n_docs").astype(np.int64)[order]
        self.max_tf = col("max_tf")[order]
        self.min_dl = col("min_dl")[order]
        self.el = np.concatenate(([0], np.cumsum(self.nd)))
        take = pa.array(order)
        self.bufs: dict[str, tuple] = {}
        for s, c in _STREAMS.items():
            if c not in tbl.column_names:
                continue
            arr = tbl.column(c).cast(pa.large_binary()).take(take).combine_chunks()
            _valid, offs, data = arr.buffers()
            self.bufs[s] = (
                np.frombuffer(data, np.uint8) if data is not None
                else np.zeros(0, np.uint8),
                np.frombuffer(offs, np.int64)[arr.offset:arr.offset + len(arr) + 1]
                if len(arr) else np.zeros(1, np.int64))
        # term runs: run i is blocks [_run_lo[i], _run_hi[i]) of _run_tid[i]
        brk = np.flatnonzero(np.diff(self.tid)) + 1
        self._run_lo = np.concatenate(([0], brk)) if self.tid.size else brk
        self._run_hi = np.concatenate((brk, [self.tid.size])) if self.tid.size else brk
        self._run_tid = self.tid[self._run_lo]
        self._flat: dict[str, np.ndarray] = {}
        self._done: dict[str, np.ndarray] = {}

    def blocks(self, tid: int) -> np.ndarray | None:
        """Block indices of term ``tid`` (ascending first_doc), or None
        when the store holds none."""
        i = int(self._run_tid.searchsorted(tid))
        if i < self._run_tid.size and self._run_tid[i] == tid:
            return np.arange(self._run_lo[i], self._run_hi[i])
        return None

    def raw(self, stream: str, b: np.ndarray) -> np.ndarray:
        """The encoded bytes of blocks ``b``, concatenated."""
        data, offs = self.bufs[stream]
        lo, hi = int(b[0]), int(b[-1]) + 1
        if hi - lo == b.size:
            return data[offs[lo]:offs[hi]]
        return data[_spans(offs[b], offs[b + 1] - offs[b])]

    def get(self, stream: str, b: np.ndarray) -> np.ndarray:
        """Decoded ``stream`` values of blocks ``b`` (ascending block
        indices), decoding only blocks not decoded before."""
        flat = self._flat.get(stream)
        if flat is None:
            flat = self._flat[stream] = np.empty(
                int(self.el[-1]), np.int64 if stream == "doc" else np.int32)
            self._done[stream] = np.zeros(self.nd.size, dtype=bool)
        if b.size == 0:
            return flat[:0]
        done = self._done[stream]
        lo, hi = int(b[0]), int(b[-1]) + 1
        if hi - lo == b.size:
            if np.count_nonzero(done[lo:hi]) != b.size:
                self._decode(stream, b[~done[lo:hi]])
            return flat[self.el[lo]:self.el[hi]]
        miss = b[~done[b]]
        if miss.size:
            self._decode(stream, miss)
        return flat[_spans(self.el[b], self.nd[b])]

    def _decode(self, stream: str, b: np.ndarray) -> None:
        vals = vb_decode(self.raw(stream, b))
        if stream == "doc":
            vals = _rebase_docs(vals.astype(np.int64), self.nd[b], self.first[b])
        lo, hi = int(b[0]), int(b[-1]) + 1
        if hi - lo == b.size:
            self._flat[stream][self.el[lo]:self.el[hi]] = vals
        else:
            self._flat[stream][_spans(self.el[b], self.nd[b])] = vals
        self._done[stream][b] = True

    def positions(self, b: np.ndarray, tf: np.ndarray) -> np.ndarray:
        """Positions of blocks ``b``, aligned with their decoded tf: per
        posting, first position absolute then gaps — recovered with one
        segmented cumsum over the concatenated buffers."""
        vals = (vb_decode(self.raw("pos", b)).astype(np.int64)
                if "pos" in self.bufs and b.size else np.zeros(0, np.int64))
        total = int(tf.sum(dtype=np.int64))
        if vals.size != total:
            raise ValueError(
                "positions stream missing or truncated — index built with "
                "store_positions=False cannot serve phrase queries")
        # int64 accumulator: tf is int32 and a position total can
        # exceed 32 bits at scale
        starts = np.cumsum(tf, dtype=np.int64) - tf
        cums = np.cumsum(vals)
        base = cums[starts] - vals[starts]  # sum of values before each run
        return cums - np.repeat(base, tf)


def _task_segment(pdf: pd.DataFrame, deleted_bc):
    """(block store, tombstones) of one segment task's block rows. The
    tombstones are the reader's one sorted global doc_id array (the
    liveDocs analogue; doc ids are global, so no per-segment split),
    shipped once per executor as a broadcast, never per query plan."""
    store = _BlockStore(pa.Table.from_pandas(pdf, preserve_index=False))
    return store, (deleted_bc.value if deleted_bc is not None else None)


def _phrase_filter(st: _BlockStore, groups: dict, phrase_ids: list[int],
                   cand: np.ndarray):
    """Exact phrase verification over the conjunctive candidate set.

    Fully vectorized (≙ Lucene ExactPhraseMatcher): occurrences become
    uint64 (doc << 24 | pos) keys; an occurrence of token j at key k
    survives iff k + 1 is an occurrence key of token j+1. Returns
    (matching docs ascending, phrase frequency per doc)."""
    keymap = {}
    for tid in set(phrase_ids):
        b = groups[tid]
        docs, tf = st.get("doc", b), st.get("tf", b)
        pos = st.positions(b, tf)
        occ_docs = np.repeat(docs, tf)
        # restrict to candidate docs before building keys
        ok = _sorted_member(cand, occ_docs)
        keymap[tid] = (occ_docs[ok].astype(np.uint64) << np.uint64(_POS_SHIFT)) \
            | pos[ok].astype(np.uint64)
    keys = keymap[phrase_ids[0]]
    for j, tid in enumerate(phrase_ids[1:], start=1):
        if keys.size == 0:
            break
        keys = keys[np.isin(keys + np.uint64(j), keymap[tid])]
    if keys.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    match_docs, ptf = np.unique((keys >> np.uint64(_POS_SHIFT)).astype(np.int64),
                                return_counts=True)
    return match_docs, ptf.astype(np.int64)


def _and_masks(*masks):
    out = None
    for m in masks:
        if m is None:
            continue
        out = m if out is None else (out & m)
    return out


def _postings_doc_mask(cand: np.ndarray, st: _BlockStore, groups: dict,
                       tids: list[int]) -> np.ndarray:
    """Inverted access path for a selection: membership of candidates
    in the union of the facet-value posting lists (sorted-array
    intersection, ≙ OR of TermDocIdSets)."""
    doc_lists = [st.get("doc", groups[t]) for t in tids if t in groups]
    if not doc_lists:
        return np.zeros(cand.size, dtype=bool)
    return _sorted_member(np.unique(np.concatenate(doc_lists)), cand)


def _recency_factor(ts: np.ndarray, rec: dict) -> np.ndarray:
    """Quadratic decay factor per doc from its time-bucket ordinal
    (≙ query/RecencyBoostScorerBuilder.java:58-60). Shared by scoring
    and by recency-aware pruning so the two can never diverge."""
    x = rec["now_ms"] - rec["ord_ms"][ts]
    mx = rec["max_factor"] + 1.0
    a = (1.0 - mx) / (float(rec["cutoff_ms"]) ** 2)
    return np.where(x > rec["cutoff_ms"], 1.0, a * x * x + mx)


def _blockmax_prune(st: _BlockStore, groups: dict, present: list, k: int,
                    avgdl: float, recency: dict | None = None,
                    deleted: np.ndarray | None = None) -> dict:
    """Block-max two-phase pruning for disjunctive top-k.

    θ = k-th largest exact single-term contribution of the
    highest-idf term (a true lower bound of the final k-th score: a
    doc's total ≥ any single contribution). A block b of term t whose
    bound(b) + Σ_{t'≠t} max-bound(t') < θ provably contains no top-k
    doc — every doc in it scores < θ while ≥k docs score ≥ θ — so it
    is dropped before decode. Docs of surviving blocks that also sat
    in dropped blocks end up partial-scored BELOW θ and fall out of
    the page, so returned docIDs AND scores stay exact
    (property-tested against the exhaustive path). Block bounds come
    from (max_tf, min_dl) — contrib is monotone ↑ in tf and ↓ in dl —
    under CURRENT global stats, so they stay valid across incremental
    snapshots. Returns the pruned term → blocks map."""
    bounds = {t["term_id"]: bm25.contrib(
        st.max_tf[groups[t["term_id"]]], st.min_dl[groups[t["term_id"]]],
        t["idf"], avgdl) for t in present}
    gmax = {tid: (b.max() if b.size else 0.0) for tid, b in bounds.items()}
    tstar = max(present, key=lambda t: t["idf"])
    b = groups[tstar["term_id"]]
    docs = st.get("doc", b)
    c = bm25.contrib(st.get("tf", b), st.get("dl", b), tstar["idf"], avgdl)
    # recency-aware variant: θ uses each doc's EXACT boost (total
    # boosted score = Σcontrib × factor ≥ contrib_t* × factor), block
    # bounds scale by the boost's global max (factor ≤ max_factor+1
    # everywhere — the parabola peaks at x=0) — both stay safe
    mx = 1.0
    if recency:
        c = c * _recency_factor(st.get("ts", b), recency)
        mx = recency["max_factor"] + 1.0
    # tombstoned docs must not contribute to θ: a deleted doc among the
    # k best t* contributions would inflate the bound and wrongly prune
    # blocks holding live top-k docs (they are removed from the
    # candidate set only AFTER pruning)
    if deleted is not None and c.size:
        c = c[~_sorted_member(deleted, docs)]
    if c.size < k:
        return groups
    theta = np.partition(c, c.size - k)[c.size - k]
    out = dict(groups)
    for t in present:
        tid = t["term_id"]
        if tid == tstar["term_id"]:
            continue
        cross = sum(gmax[o["term_id"]] for o in present if o["term_id"] != tid)
        out[tid] = groups[tid][(bounds[tid] + cross) * mx >= theta]
    return out


_NO_DOCS = np.zeros(0, dtype=np.int64)
_NO_SCORES = np.zeros(0, dtype=np.float64)


class _SegOut:
    """One scoring unit's answer to one plan — the whole driver store,
    or one segment in a distributed task: top-k ``docs``/``scores``
    (score desc, doc_id asc), the hit count, one count vector per facet
    (indexed by ordinal) and, for explain plans, the page candidates'
    explanation arrays (doc_id, part, value)."""

    __slots__ = ("n_hits", "docs", "scores", "facets", "expl")

    def __init__(self, n_hits: int, docs: np.ndarray = _NO_DOCS,
                 scores: np.ndarray = _NO_SCORES, facets: dict | None = None):
        self.n_hits, self.docs, self.scores = n_hits, docs, scores
        self.facets = {} if facets is None else facets
        self.expl: tuple | None = None


def _score_plan(plan: dict, st: _BlockStore,
                deleted: np.ndarray | None = None) -> _SegOut | None:
    """Score one plan against every block of ``st`` in one pass (pure
    numpy); None when the store holds no match. ``deleted`` is the
    sorted tombstone ids (global doc ids, so the reader's whole set
    serves a store of many segments; None when there are none). Only
    blocks that survive pruning are decoded, each at most once per
    store. Nothing here assumes a term's doc stream is sorted across
    blocks (see ``_BlockStore``). A ``matchall`` plan's terms are the
    lang sentinels, a disjunction over every doc, each scoring 1.0."""
    terms = plan["terms"]
    mode = plan["mode"]
    k = plan["k"] + plan["offset"]
    avgdl = plan["avgdl"]
    sel_lang = np.array(plan["sel_lang"], dtype=np.int64) if plan["sel_lang"] is not None else None
    sel_ts = np.array(plan["sel_ts"], dtype=np.int64) if plan["sel_ts"] is not None else None

    # term_id -1 marks unknown query terms; _plan_tids never returns it
    groups = {}
    for tid in set(_plan_tids(plan)):
        b = st.blocks(tid)
        if b is not None:
            groups[tid] = b
    present = [t for t in terms if t["term_id"] in groups]
    conj = mode in ("and", "phrase")  # phrase = conjunction + positional check
    if conj and len(present) < len(terms):
        return None
    if not present:
        return None

    # ---- conjunctive block skip: drop blocks not overlapping the rarest term's
    if conj and len(present) > 1:
        rare = min(present, key=lambda t: t["df"])
        rb = groups[rare["term_id"]]
        # rf is ascending, but blocks from different segments can
        # overlap: compare against the running max of the rare term's
        # last_doc over the blocks starting at or before a block's end
        rf, rl = st.first[rb], np.maximum.accumulate(st.last[rb])
        for t in present:
            if t is rare:
                continue
            g = groups[t["term_id"]]
            idx = rf.searchsorted(st.last[g], side="right") - 1
            keep = (idx >= 0) & (rl[np.maximum(idx, 0)] >= st.first[g])
            groups[t["term_id"]] = g[keep]
            if not keep.any():
                return None

    # ---- disjunctive block-max pruning (top-k only: no facets or
    # selections; recency uses the boost-aware bound variant)
    n_hits_exact = None
    if (mode == "or" and k and plan.get("prune") and not plan["facets"]
            and sel_lang is None and sel_ts is None and len(present) > 1):
        # exact hit count BEFORE pruning: union of doc streams only
        # (tf/meta streams of dropped blocks stay undecoded, so the
        # pruning still pays — num_hits also counts docs that live
        # only in dropped blocks)
        uni = np.unique(np.concatenate(
            [st.get("doc", groups[t["term_id"]]) for t in present]))
        if deleted is not None:
            uni = uni[~_sorted_member(deleted, uni)]
        n_hits_exact = int(uni.size)
        groups = _blockmax_prune(st, groups, present, k, avgdl,
                                 plan.get("recency"), deleted)
        present = [t for t in present if groups[t["term_id"]].size]

    docs_of = {t["term_id"]: st.get("doc", groups[t["term_id"]]) for t in present}

    # ---- candidate doc set, ascending (a term's doc stream need not be)
    if conj and len(present) > 1:
        cand = docs_of[present[0]["term_id"]]
        for t in present[1:]:
            cand = np.intersect1d(cand, docs_of[t["term_id"]], assume_unique=True)
            if cand.size == 0:
                return None
    else:
        cand = np.unique(np.concatenate(list(docs_of.values())))

    # ---- soft deletes (≙ Lucene liveDocs): tombstoned docs leave the
    # candidate set before scoring/facets/phrase verification
    if deleted is not None and cand.size:
        cand = cand[~_sorted_member(deleted, cand)]
        if cand.size == 0:
            return None if n_hits_exact is None else _SegOut(n_hits_exact)

    # ---- phrase: positional verification narrows the candidate set
    ptf = None
    if mode == "phrase":
        cand, ptf = _phrase_filter(st, groups, plan["phrase_ids"], cand)
        if cand.size == 0:
            return None

    # ---- where each term's postings land in the candidate set
    match = {}
    for t in present:
        docs = docs_of[t["term_id"]]
        pos = cand.searchsorted(docs)
        ok = (pos < cand.size) & (cand[np.minimum(pos, cand.size - 1)] == docs)
        match[t["term_id"]] = (pos[ok], ok)

    def doc_ords(stream: str) -> np.ndarray:
        # a doc's ordinal from the first (lex-ordered) term holding it:
        # later writes win, so write in reverse
        out = np.zeros(cand.size, dtype=np.int64)
        for t in reversed(present):
            p, ok = match[t["term_id"]]
            out[p] = st.get(stream, groups[t["term_id"]])[ok]
        return out

    # ---- per-doc ordinals, decoded only for the streams the plan reads
    # (facet counts, ord-mode selections, recency)
    lang_postings = plan.get("sel_lang_mode") == "postings"
    ts_postings = plan.get("sel_ts_mode") == "postings"
    rec = plan.get("recency")
    doc_lang = (doc_ords("lang") if "lang" in plan["facets"]
                or (sel_lang is not None and not lang_postings) else None)
    doc_ts = (doc_ords("ts") if "ts_bucket" in plan["facets"] or rec
              or (sel_ts is not None and not ts_postings) else None)

    # ---- per-field selection masks: adaptive inverted-vs-forward path
    lang_mask = ts_mask = None
    if sel_lang is not None:
        lang_mask = (_postings_doc_mask(cand, st, groups, plan["sel_lang_tids"])
                     if lang_postings else np.isin(doc_lang, sel_lang))
    if sel_ts is not None:
        ts_mask = (_postings_doc_mask(cand, st, groups, plan["sel_ts_tids"])
                   if ts_postings else np.isin(doc_ts, sel_ts))
    m = _and_masks(lang_mask, ts_mask)

    # ---- exact TAAT scoring, ascending lexicographic term order
    if mode == "phrase":
        # Lucene PhraseQuery scoring: freq = phrase occurrences, idf =
        # Σ idf over the phrase's token INSTANCES (duplicates counted)
        t0 = plan["phrase_ids"][0]  # every candidate holds it
        p, ok = match[t0]
        dl = np.zeros(cand.size, dtype=np.int64)
        dl[p] = st.get("dl", groups[t0])[ok]
        scores = bm25.contrib(ptf, dl, plan["phrase_idf_sum"], avgdl)
    elif mode == "matchall":
        scores = np.ones(cand.size, dtype=np.float64)
    else:
        scores = np.zeros(cand.size, dtype=np.float64)
        for t in present:  # already lex-ordered
            b = groups[t["term_id"]]
            p, ok = match[t["term_id"]]
            scores[p] += bm25.contrib(st.get("tf", b)[ok], st.get("dl", b)[ok],
                                      t["idf"], avgdl)

    # ---- recency boost: quadratic decay factor on the doc's time bucket
    raw_scores = scores
    if rec:
        scores = scores * _recency_factor(doc_ts, rec)

    # ---- facet counts (multi-select: leave-one-out masks) + hits
    full_mask = m if m is not None else np.ones(cand.size, dtype=bool)
    facets = {}
    for f in plan["facets"]:
        ords = {"lang": doc_lang, "ts_bucket": doc_ts}[f]
        if plan["expand_selection"]:
            fmask = _and_masks(None if f == "lang" else lang_mask,
                               None if f == "ts_bucket" else ts_mask)
        else:
            fmask = m
        facets[f] = np.bincount(ords if fmask is None else ords[fmask])

    hit_docs = cand[full_mask]
    hit_scores = scores[full_mask]
    n_local = int(hit_docs.size)
    out = _SegOut(n_hits_exact if n_hits_exact is not None else n_local,
                  facets=facets)
    kk = min(k, n_local)
    if not kk:
        return out
    # top-k by (-score, doc_id). Select everything >= the kk-th largest
    # score (including ALL ties) before the exact lexsort, so score
    # ties at the boundary break by doc_id exactly.
    if n_local > kk:
        kth = np.partition(hit_scores, n_local - kk)[n_local - kk]
        part = np.flatnonzero(hit_scores >= kth)
    else:
        part = np.arange(n_local)
    sel = part[np.lexsort((hit_docs[part], -hit_scores[part]))[:kk]]
    out.docs, out.scores = hit_docs[sel], hit_scores[sel]
    # ---- score explanations for the local page candidates
    # (≙ BrowseHit.getExplanation): per-term exact contributions;
    # summed in the same ascending-lex order and multiplied by the
    # recency factor they reproduce the score bit-for-bit
    if plan.get("explain"):
        sel_docs = out.docs
        cpos = np.searchsorted(cand, sel_docs)
        ex = []  # (doc_ids, part, values)
        if mode == "phrase":
            ex.append((sel_docs, "phrase", raw_scores[cpos]))
        else:
            for t in present:
                b = groups[t["term_id"]]
                p, ok = match[t["term_id"]]
                at = np.full(cand.size, -1)  # candidate -> its posting of t
                at[p] = np.flatnonzero(ok)
                j = at[cpos]
                has = j >= 0
                ex.append((sel_docs[has], t["term"], bm25.contrib(
                    st.get("tf", b)[j[has]], st.get("dl", b)[j[has]], t["idf"], avgdl)))
        if rec:
            ex.append((sel_docs, "recency_boost", _recency_factor(doc_ts[cpos], rec)))
        out.expl = (np.concatenate([d for d, _, _ in ex]),
                    np.repeat(np.array([s for _, s, _ in ex], dtype=object),
                              [d.size for d, _, _ in ex]),
                    np.concatenate([v for _, _, v in ex]))
    return out


def _out_rows(o: _SegOut) -> list:
    """A ``_SegOut`` as OUT_SCHEMA tuples (kind, doc_id, score, field,
    ordinal, count) — the distributed tasks' wire format."""
    rows = [(_K_HIT, d, s, "", -1, 0)
            for d, s in zip(o.docs.tolist(), o.scores.tolist())]
    for f, cnt in o.facets.items():
        nz = np.flatnonzero(cnt)
        rows += [(_K_FACET, -1, 0.0, f, v, c)
                 for v, c in zip(nz.tolist(), cnt[nz].tolist())]
    if o.expl is not None:
        d, p, v = o.expl
        rows += [(_K_EXPL, a, c, b, -1, 0)
                 for a, b, c in zip(d.tolist(), p.tolist(), v.tolist())]
    rows.append((_K_STATS, -1, 0.0, "", -1, o.n_hits))
    return rows


def _parts_from_rows(out: pd.DataFrame) -> dict:
    """Inverse of ``_out_rows`` on the driver: qid → one ``_SegOut``
    holding all that query's segment rows (hit counts and facet
    vectors summed)."""
    if not len(out):
        return {}
    qid = out["qid"].to_numpy(np.int64)
    order = np.argsort(qid, kind="stable")
    kind = out["kind"].to_numpy(np.int64)[order]
    doc = out["doc_id"].to_numpy(np.int64)[order]
    score = out["score"].to_numpy(np.float64)[order]
    fld = out["field"].to_numpy(object)[order]
    ordinal = out["ordinal"].to_numpy(np.int64)[order]
    count = out["count"].to_numpy(np.int64)[order]
    qid = qid[order]
    brk = np.flatnonzero(np.diff(qid)) + 1
    parts = {}
    for a, b in zip(np.concatenate(([0], brk)), np.concatenate((brk, [qid.size]))):
        kd = kind[a:b]
        hit = np.flatnonzero(kd == _K_HIT) + a
        o = _SegOut(int(count[a:b][kd == _K_STATS].sum()), doc[hit], score[hit])
        fac = np.flatnonzero(kd == _K_FACET) + a
        for f in set(fld[fac].tolist()):
            r = fac[fld[fac] == f]
            o.facets[f] = np.bincount(ordinal[r], weights=count[r]).astype(np.int64)
        ex = np.flatnonzero(kd == _K_EXPL) + a
        if ex.size:
            o.expl = (doc[ex], fld[ex], score[ex])
        parts[int(qid[a])] = o
    return parts


def _empty_out() -> pd.DataFrame:
    return pd.DataFrame(
        {"kind": pd.Series([], dtype="int32"), "doc_id": pd.Series([], dtype="int64"),
         "score": pd.Series([], dtype="float64"), "field": pd.Series([], dtype="object"),
         "ordinal": pd.Series([], dtype="int64"), "count": pd.Series([], dtype="int64")})


def _plan_tids(plan: dict) -> list[int]:
    """Term ids a plan reads: its known query terms (unknown terms
    carry term_id -1) plus its postings-mode selection sentinels."""
    return ([t["term_id"] for t in plan["terms"] if t["term_id"] >= 0]
            + plan.get("sel_lang_tids", []) + plan.get("sel_ts_tids", []))


def _runnable(plan: dict) -> bool:
    """False when a plan provably matches nothing: no known query term,
    or an AND/phrase plan with an unknown term."""
    known = sum(t["term_id"] >= 0 for t in plan["terms"])
    return known > 0 and (plan["mode"] not in ("and", "phrase")
                          or known == len(plan["terms"]))


def _score_store(store: _BlockStore, plans: list,
                 deleted: np.ndarray | None) -> dict:
    """Score every ``(qid, plan)`` against the whole ``store``, one pass
    per plan. Returns qid → ``_SegOut`` (plans that match nothing are
    absent)."""
    parts = {}
    for qid, plan in plans:
        o = _score_plan(plan, store, deleted)
        if o is not None:
            parts[qid] = o
    return parts


def _task_rows(pdf: pd.DataFrame, plans: list, deleted_bc) -> pd.DataFrame:
    """One distributed segment task: score ``plans`` against the task's
    block rows and encode the answers as OUT_SCHEMA rows plus ``qid``."""
    store, deleted = _task_segment(pdf, deleted_bc)
    rows: list = []
    qids: list = []
    for qid, o in _score_store(store, plans, deleted).items():
        r = _out_rows(o)
        rows += r
        qids += [qid] * len(r)
    out = pd.DataFrame(rows, columns=_OUT_COLS) if rows else _empty_out()
    out["qid"] = np.asarray(qids, dtype=np.int32)
    return out


def _section_page(out: pd.DataFrame, offset: int, k: int) -> pd.DataFrame:
    """Section hit rows offset..offset+k in doc_id order."""
    return (out[out["kind"] == _K_HIT].sort_values("doc_id")
            .iloc[offset:offset + k])


def _read_local(paths, columns=None) -> pa.Table | None:
    """Driver-direct Arrow read of a catalog table (zero Spark jobs;
    see catalog.read_table_arrow), or None when its files are not
    readable from the driver — the caller then reads through Spark."""
    try:
        return read_table_arrow(paths, columns=columns)
    except _READ_ERRORS:
        return None


class IndexReader:
    """Open one snapshot of the index (≙ BoboBrowser construction)."""

    def __init__(self, spark: SparkSession, index_dir: str, snapshot_id: int | None = None,
                 cache: bool = True):
        self.spark = spark
        self.catalog = IndexCatalog(index_dir)
        self.snap: Snapshot = (
            self.catalog.get(snapshot_id) if snapshot_id is not None else self.catalog.latest()
        )
        if self.snap is None:
            raise ValueError(f"no published snapshot in {index_dir}")
        self.n_docs = self.snap.stats["n_docs"]
        self.avgdl = self.snap.stats["avgdl"]
        self._terms = self._read("terms")
        self._postings_full = self._read("postings")
        # non-phrase queries never read the positions stream — keep the
        # hot cache pruned so it pins only the scoring columns
        self._postings = self._postings_full.drop("pos_bytes")
        self._forward = self._read("forward")
        # in-driver block cache (lazy; see _postings_driver): exact
        # cost gate from the published token count
        self._store = None
        self._driver_cache_ok = bool(cache) and (
            self.snap.stats.get("tok_sum", 1 << 62) <= self.DRIVER_CACHE_TOKSUM)
        self._term_row = None
        if cache:
            # hot-path tables pinned like Lucene's in-heap FacetDataCache
            # (spills to disk when they don't fit executor memory).
            # NOT pre-partitioned by segment: Spark cannot propagate a
            # cached AdaptiveSparkPlan's partitioning (measured — the
            # groupBy exchange stays either way), and the per-query
            # exchange only moves the term-filtered blocks (page-scale
            # bytes), while pre-partitioning would cost a full postings
            # shuffle at every reader open.
            self._terms = self._terms.persist()
            self._postings = self._postings.persist()
            # small dictionaries also live driver-side as a term lookup,
            # so planning costs zero Spark jobs (a web-scale dictionary
            # resolves terms with a filtered scan instead)
            if self.snap.stats.get("n_terms", 1 << 62) <= 2_000_000:
                cols = ["term", "term_id", "df"]
                tbl = _read_local(self.catalog.table_paths(self.snap, "terms"), cols)
                self._index_terms(tbl.to_pandas() if tbl is not None
                                  else self._terms.select(*cols).toPandas())
        # facet dictionaries are page-scale — driver-direct parquet
        # read (zero Spark jobs per reader open; see catalog.read_table_pdf)
        self.dicts = {
            "lang": read_table_pdf(
                self.catalog.table_paths(self.snap, "dict_lang")),
            "ts_bucket": read_table_pdf(
                self.catalog.table_paths(self.snap, "dict_ts_bucket")),
        }
        # per facet: dictionary values and ordinals (row order), a
        # value → row map for selections, and per-ordinal arrays of the
        # dictionary row and the value's rank — ordinals stop being
        # value-sorted after an append (build._build_dict), so facet
        # order needs the rank
        self._facet = {}
        for f, d in self.dicts.items():
            vals = d["value"].to_numpy(object)
            ords = d["ordinal"].to_numpy(np.int64)
            n = int(ords.max()) + 1 if ords.size else 0
            row = np.full(n, -1, dtype=np.int64)
            row[ords] = np.arange(ords.size)
            rank = np.full(n, -1, dtype=np.int64)
            rank[ords[np.argsort(vals, kind="stable")]] = np.arange(ords.size)
            self._facet[f] = (vals, ords, {v: i for i, v in enumerate(vals.tolist())},
                              row, rank)
        # recency table: ordinal → its time bucket's start in epoch ms
        # (ordinal 0/missing → -1e18, i.e. factor 1)
        vals, ords = self._facet["ts_bucket"][:2]
        self._ord_ms = np.full(int(ords.max()) + 1 if ords.size else 1, -1e18)
        if ords.size:
            ms = pd.to_datetime(pd.Series(vals), utc=True).astype("int64") // 1_000_000
            self._ord_ms[ords] = ms.to_numpy(np.float64)
        # cumulative soft-delete tombstones (≙ Lucene liveDocs): hits,
        # facet counts and num_hits exclude them; df/cf/avgdl stats
        # intentionally do NOT change until a merge — Lucene semantics.
        # Loaded ONCE per reader open as one sorted doc_id array: the
        # cache path filters with it directly, and one broadcast of it
        # serves the distributed tasks — query plans carry only the
        # broadcast HANDLE, never the id list, so plan size is O(1) in
        # the tombstone count (the r3 scale-killer).
        self.deleted = load_tombstones(self.catalog, self.snap)
        self._deleted_bc = None
        if self.deleted.size:
            self._deleted_bc = self.spark.sparkContext.broadcast(self.deleted)

    def _read(self, table: str) -> DataFrame:
        """This snapshot's files of a catalog table, read with the
        table's declared schema (no schema-inference Spark job)."""
        return read_table(self.spark, table,
                          self.catalog.table_paths(self.snap, table))

    def _index_terms(self, terms: pd.DataFrame) -> None:
        """Build the per-reader term → (term_id, df) lookup (facet
        sentinels included) from a (term, term_id, df) frame."""
        self._term_ids = terms["term_id"].to_numpy(np.int64)
        self._term_dfs = terms["df"].to_numpy(np.int64)
        self._term_row = dict(zip(terms["term"].tolist(), range(len(terms))))

    def _lookup_terms(self, names) -> dict:
        """term → (term_id, df) for the known ``names``: dictionary
        lookups on a cached reader, one filtered scan otherwise."""
        names = set(names)
        if self._term_row is not None:
            rows = [(t, self._term_row[t]) for t in names if t in self._term_row]
            return {t: (int(self._term_ids[r]), int(self._term_dfs[r]))
                    for t, r in rows}
        pdf = (self._terms.where(F.col("term").isin(list(names)))
               .select("term", "term_id", "df").toPandas())
        return {t: (int(i), int(d))
                for t, i, d in zip(pdf["term"], pdf["term_id"], pdf["df"])}

    def _tombstones(self) -> np.ndarray | None:
        """The cache path's tombstones: ``deleted``, or None when empty."""
        return self.deleted if self.deleted.size else None

    def facet_counts(self, field: str) -> pd.DataFrame:
        """collectAll shortcut: no-query/no-filter facet counts served
        straight from the facet dictionary's df stats — ZERO index scan
        (≙ FacetCountCollector.collectAll over dataCache.freqs,
        facets/impl/SimpleFacetHandler.java:222-225 +
        api/BoboSubBrowser.java:59-64). Every dictionary value is
        listed, count 0 included."""
        if self.deleted.size:
            # the dictionary df stats still count deleted docs: count
            # the live docs with a k=0 MatchAll search instead (values
            # whose every doc is deleted keep count 0)
            return self.search(SearchRequest(
                query=None, k=0, facets=(field,))).facets[field]
        counts = np.bincount(self._facet[field][1], weights=self.dicts[field]["df"])
        return self._facet_frame(field, counts, keep_zero=True)

    # ---------------------------------------------------------------- planning

    OR_THRESHOLD = 5  # ≙ AdaptiveFacetFilter.java:98

    def _ords_of(self, field: str, values) -> list[int]:
        """Ordinals of the dictionary values in ``values``, in
        dictionary row order."""
        _vals, ords, row_of, _row, _rank = self._facet[field]
        return ords[sorted({row_of[v] for v in values if v in row_of})].tolist()

    def _resolve_selections(self, req: SearchRequest):
        sel_lang = sel_ts = None
        if "lang" in req.selections:
            sel_lang = self._ords_of("lang", req.selections["lang"])
        if req.ts_range is not None:
            vals, ords = self._facet["ts_bucket"][:2]
            lo, hi = req.ts_range
            sel_ts = ords[(vals >= lo) & (vals <= hi)].tolist()
        if "ts_bucket" in req.selections:
            vals = self._ords_of("ts_bucket", req.selections["ts_bucket"])
            sel_ts = vals if sel_ts is None else sorted(set(sel_ts) & set(vals))
        return sel_lang, sel_ts

    def _access_path(self, field: str, ords: list[int] | None):
        """Adaptive access-path choice for one selection (≙ facets/
        filter/AdaptiveFacetFilter.java:84-89): iterate facet-value
        posting lists when Σdf(values)·2 < n_docs and ≤5 values, else
        scan the per-posting ordinal stream."""
        if ords is None:
            return None, []
        if 0 < len(ords) <= self.OR_THRESHOLD:
            found = self._lookup_terms(f"\x00{field}:{o}" for o in ords)
            df = sum(d for _, d in found.values())
            if len(found) == len(ords) and 2 * df < self.n_docs:
                return "postings", [t for t, _ in found.values()]
        return "ords", []

    def plan(self, req: SearchRequest) -> dict:
        matchall = req.query is None
        if matchall:
            # every doc holds exactly one lang sentinel, so the union
            # of their posting lists is every doc
            qtokens = [f"\x00lang:{o}" for o in self._facet["lang"][1].tolist()]
        elif isinstance(req.query, str):
            qtokens = tokenize(req.query)
        else:
            qtokens = [t for q in req.query for t in tokenize(q)]
        mode = "matchall" if matchall else req.mode
        plan_terms = _plan_terms(self._lookup_terms(qtokens), qtokens, self.n_docs)
        sel_lang, sel_ts = self._resolve_selections(req)
        lang_mode, lang_tids = self._access_path("lang", sel_lang)
        ts_mode, ts_tids = self._access_path("ts", sel_ts)
        recency = None
        if req.recency and not matchall:
            recency = {
                "now_ms": float(req.recency["now_ms"]),
                "cutoff_ms": float(req.recency["cutoff_ms"]),
                "max_factor": float(req.recency["max_factor"]),
                "ord_ms": self._ord_ms,
            }
        phrase_ids: list[int] = []
        phrase_idf_sum = 0.0
        if mode == "phrase":
            by_term = {t["term"]: t for t in plan_terms}
            phrase_ids = [by_term[t]["term_id"] for t in qtokens]
            for t in qtokens:  # token-instance order — pinned sum order
                phrase_idf_sum += by_term[t]["idf"]
        return {
            "terms": plan_terms,
            "mode": mode,
            "k": req.k,
            "offset": req.offset,
            "avgdl": self.avgdl,
            "facets": list(req.facets),
            "sel_lang": sel_lang,
            "sel_ts": sel_ts,
            "sel_lang_mode": lang_mode,
            "sel_ts_mode": ts_mode,
            "sel_lang_tids": lang_tids,
            "sel_ts_tids": ts_tids,
            "expand_selection": req.expand_selection,
            "prune": req.prune and not matchall,
            "phrase_ids": phrase_ids,
            "phrase_idf_sum": phrase_idf_sum,
            "recency": recency,
            "explain": req.explain and not matchall,
        }

    # --------------------------------------------------------------- execution

    # tok_sum (known exactly from the published stats) below which the
    # whole postings table is pulled driver-side ONCE per reader open —
    # the embedded analogue of serving a small Lucene index from RAM:
    # every request then costs ZERO Spark jobs instead of scheduled
    # scans and collects (~0.25 s of fixed per-job latency each on
    # local[32]). Encoded blocks are ~4-8 B/token, so the default pins
    # well under 200 MB of driver memory; web-scale indexes exceed the
    # gate and take the distributed path.
    DRIVER_CACHE_TOKSUM = 20_000_000

    def _postings_driver(self) -> _BlockStore | None:
        """The in-driver block cache — a ``_BlockStore`` of the whole
        postings table (pos_bytes included, so phrase queries are
        served too) — or None past the gate. Built lazily on first
        use from one driver-direct Arrow read (a Spark read where the
        files are not driver-readable)."""
        if not getattr(self, "_driver_cache_ok", False):
            return None
        if self._store is None:
            tbl = _read_local(self.catalog.table_paths(self.snap, "postings"))
            self._store = _BlockStore(tbl if tbl is not None
                                      else self._postings_full.toArrow())
        return self._store

    def _blocks(self, tids: list[int], phrase: bool) -> DataFrame:
        """Term-filtered block rows (pushed term_id IN scan). The
        positions stream — the largest column, pruned out of the hot
        cache — is read only for phrase verification."""
        if phrase:
            self._require_positions()
        src = self._postings_full if phrase else self._postings
        return src.where(F.col("term_id").isin(tids))

    def _require_positions(self) -> None:
        """Plan-time guard: a phrase/section query against an index
        built with store_positions=False must fail on the DRIVER with
        the real reason, not as a pandas KeyError inside an executor."""
        if not self.snap.stats.get("store_positions", True):
            raise ValueError(
                "index built with store_positions=False cannot serve "
                "phrase queries (no positions stream)")

    def _segment_frame(self, runnable: list) -> DataFrame:
        """The distributed body of every request, lazy: each segment
        task scores every runnable ``(qid, plan)`` against its blocks,
        decoding each block (and each stream) at most once however
        many plans read it, and emits OUT_SCHEMA rows plus ``qid``."""
        tids = sorted({t for _, p in runnable for t in _plan_tids(p)})
        blocks = self._blocks(tids, any(p["mode"] == "phrase" for _, p in runnable))
        deleted_bc = self._deleted_bc
        # pin the exchange width: left to AQE, the small term-
        # filtered shuffle coalesces to a handful of fat partitions
        # (measured 15 partitions for 64 segments at 16 cores —
        # idle cores + ragged last wave in the Python stage). A
        # user repartition on the grouping key is reused by the
        # groupBy (no second exchange) and is never coalesced.
        n_seg = self.snap.stats.get("n_segments") or 0
        npart = max(2 * self.spark.sparkContext.defaultParallelism,
                    int(self.spark.conf.get(
                        "spark.sql.shuffle.partitions", "32")))
        if n_seg:
            npart = min(npart, n_seg)
        return blocks.repartition(npart, "segment").groupBy(
            "segment").applyInPandas(
                lambda pdf: _task_rows(pdf, runnable, deleted_bc),
                schema=OUT_SCHEMA + ", qid int")

    def _score(self, runnable: list) -> dict:
        """qid → ``_SegOut`` for every runnable ``(qid, plan)``: one
        pass per plan over the in-driver block cache (``cache``, zero
        Spark jobs), else one collect of ``_segment_frame``
        (``distributed``). Plans that match nothing are absent."""
        if not runnable:
            return {}
        if any(p["mode"] == "phrase" for _, p in runnable):
            self._require_positions()
        store = self._postings_driver()
        if store is None:
            return _parts_from_rows(self._segment_frame(runnable).toPandas())
        return _score_store(store, runnable, self._tombstones())

    def _merge(self, req: SearchRequest, plan: dict,
               out: _SegOut | None) -> SearchResult:
        """The final merge of every request (≙ ListMerger +
        CombinedFacetAccessible, util/ListMerger.java:104-137,
        facets/CombinedFacetAccessible.java:101-192): one (score desc,
        doc_id asc) lexsort for the page — the union of per-segment
        top-ks on the distributed path — facet count vectors ordered
        by (count desc, value rank) and one (doc_id, part) lexsort for
        the page's explanation rows. A MatchAll facet that no
        selection filters lists every dictionary value, as
        ``facet_counts`` does."""
        o = out if out is not None else _SegOut(0)
        page = np.lexsort((o.docs, -o.scores))[req.offset:req.offset + req.k]
        hits = pd.DataFrame({"doc_id": o.docs[page], "score": o.scores[page]}, copy=False)
        sels = {"lang": plan["sel_lang"], "ts_bucket": plan["sel_ts"]}
        facets = {}
        for f in req.facets:
            unfiltered = all(v is None for g, v in sels.items()
                             if g != f or not req.expand_selection)
            facets[f] = self._facet_frame(
                f, o.facets.get(f), keep_zero=plan["mode"] == "matchall" and unfiltered)
        explanations = None
        if plan["explain"]:
            d, part, v = (o.expl if o.expl is not None
                          else (_NO_DOCS, np.zeros(0, object), _NO_SCORES))
            keep = np.flatnonzero(np.isin(d, o.docs[page]))
            keep = keep[np.lexsort((part[keep], d[keep]))]
            explanations = pd.DataFrame(
                {"doc_id": d[keep], "part": part[keep], "value": v[keep]}, copy=False)
        return SearchResult(hits=hits, num_hits=int(o.n_hits),
                            facets=facets, explanations=explanations)

    def _facet_frame(self, f: str, counts: np.ndarray | None,
                     keep_zero: bool = False) -> pd.DataFrame:
        """(value, count) of one facet from its count vector (indexed
        by ordinal; any numeric dtype, counts cast to int64), count
        desc, value asc: values with a dictionary entry and a nonzero
        count, or every dictionary value with ``keep_zero``. Serves
        keyword, MatchAll and collectAll facets."""
        vals, _ords, _row_of, row, rank = self._facet[FACET_FIELDS[f]]
        tot = np.zeros(rank.size, dtype=np.int64)
        if counts is not None:
            n = min(counts.size, tot.size)
            tot[:n] = counts[:n]
        o = np.flatnonzero((rank >= 0) if keep_zero else (tot > 0) & (rank >= 0))
        o = o[np.lexsort((rank[o], -tot[o]))]
        return pd.DataFrame({"value": vals[row[o]], "count": tot[o]}, copy=False)

    def search(self, req: SearchRequest) -> SearchResult:
        """One request: ``search_many`` of one."""
        return self.search_many([req])[0]

    # ---------------------------------------------------------- term vectors

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """Per-doc term vectors (term, tf, positions) reconstructed
        from the postings (≙ sort/SortCollectorImpl.java:430-466,
        which fetches Lucene's stored term vectors for the hit page).

        The index is term-major, so reconstruction scans only the
        target docs' SEGMENTS (segment IN pushed to the parquet scan)
        and skips every block whose [first_doc, last_doc] interval
        misses all targets before decoding (the in-driver cache skips
        blocks the same way over its whole store). Intended for
        page-sized hit sets (≤ offset+k docs), where the work is one
        pruned pass."""
        ids = sorted(set(int(d) for d in doc_ids))
        segs = [r["segment"] for r in
                self._forward.where(F.col("doc_id").isin(ids))
                .select("segment").distinct().collect()]
        if not segs:
            return self.spark.createDataFrame(
                [], "doc_id long, term string, tf long, positions string")
        has_pos = self.snap.stats.get("store_positions", True)
        src = self._postings_full if has_pos else self._postings
        blocks = src.where(F.col("segment").isin(segs))
        ids_arr = np.array(ids, dtype=np.int64)

        def tv(store: _BlockStore) -> pd.DataFrame:
            out = []
            idx = np.searchsorted(ids_arr, store.first)
            keep = (idx < ids_arr.size) & \
                   (ids_arr[np.minimum(idx, ids_arr.size - 1)] <= store.last)
            blk = np.flatnonzero(keep & (store.tid >= 0))  # -1: older builds' forward runs
            brk = np.flatnonzero(np.diff(store.tid[blk])) + 1
            for g in np.split(blk, brk) if blk.size else []:
                docs, tf = store.get("doc", g), store.get("tf", g)
                # facet sentinel terms carry no positions even in a
                # positional index — they are dropped by the
                # term-name filter below, so just skip their decode
                pos = (store.positions(g, tf)
                       if has_pos and store.raw("pos", g).size else None)
                starts = np.cumsum(tf, dtype=np.int64) - tf
                tid = int(store.tid[g[0]])
                for i in np.flatnonzero(np.isin(docs, ids_arr)):
                    ps = (",".join(map(str, pos[starts[i]:starts[i] + tf[i]]))
                          if pos is not None else "")
                    out.append((int(docs[i]), tid, int(tf[i]), ps))
            return pd.DataFrame(
                out, columns=["doc_id", "term_id", "tf", "positions"])

        cached = self._postings_driver()
        if cached is not None and self._term_row is not None:
            # in-driver path: same tv() reconstruction over the whole
            # cached store, sentinel filter via the driver term lookup
            # — one Spark job (the segs lookup) instead of three
            vec_pd = tv(cached)
            names = dict(zip(self._term_ids.tolist(), self._term_row))
            vec_pd["term"] = vec_pd["term_id"].map(names)
            vec_pd = vec_pd[~vec_pd["term"].str.startswith("\x00")]
            out_pd = vec_pd[["doc_id", "term", "tf", "positions"]].astype(
                {"doc_id": "int64", "tf": "int64"})
            return self.spark.createDataFrame(
                out_pd, schema="doc_id long, term string, tf long, "
                               "positions string")
        vecs = blocks.groupBy("segment").applyInPandas(
            lambda pdf: tv(_BlockStore(pa.Table.from_pandas(pdf, preserve_index=False))),
            schema="doc_id long, term_id long, tf long, positions string")
        # the result is page-sized — broadcast it against the dictionary
        return (
            F.broadcast(vecs)
            .join(self._terms.select("term_id", "term"), "term_id")
            .where(~F.col("term").startswith("\x00"))  # facet sentinels out
            .select("doc_id", "term", "tf", "positions")
        )

    # --------------------------------------------------------- section search

    def _section_plan(self, tree, k: int, offset: int, boost: float) -> dict:
        """Driver-side plan for a section query (≙ SectionSearchQuery
        + SectionSearchQueryPlanBuilder, bobo_spark.sections)."""
        from .sections import tree_words

        sec_cfg = self.snap.stats.get("sections")
        if not sec_cfg:
            raise ValueError(
                "index built without sections — rebuild with "
                "BuildConfig(sections=('window', W)) or ('regex', pattern)")
        self._require_positions()
        words = sorted(set(tree_words(tree)))
        found = self._lookup_terms(words)
        word_tid = {w: found[w][0] if w in found else -1 for w in words}
        return {"tree": tree, "word_tid": word_tid, "sections": tuple(sec_cfg),
                "k": k, "offset": offset, "boost": float(boost)}

    def _sections_table(self) -> DataFrame:
        if getattr(self, "_sections_df", None) is None:
            self._sections_df = self._read("sections")
        return self._sections_df

    def _section_outputs(self, plan: dict) -> DataFrame:
        from .sections import segment_section_search

        tids = [t for t in plan["word_tid"].values() if t >= 0]
        if not tids:
            return self.spark.createDataFrame([], OUT_SCHEMA)
        blocks = self._blocks(tids, True)
        deleted_bc = self._deleted_bc

        def task(pdf, sec_pdf):
            if not len(pdf):
                return _empty_out()
            return segment_section_search(*_task_segment(pdf, deleted_bc),
                                          plan, sec_pdf)

        if plan["sections"][0] == "regex":
            # per-doc boundary arrays ride along via cogroup on segment
            return blocks.groupBy("segment").cogroup(
                self._sections_table().groupBy("segment")
            ).applyInPandas(task, schema=OUT_SCHEMA)
        return blocks.groupBy("segment").applyInPandas(
            lambda pdf: task(pdf, None), schema=OUT_SCHEMA)

    def _section_outputs_pd(self, plan: dict) -> pd.DataFrame:
        """Section outputs as pandas: a WINDOW-mode query on a cached
        reader runs over the in-driver block cache (geometry is
        metadata-only; zero Spark jobs). Regex mode needs the
        per-segment boundary cogroup, and an uncached reader has no
        store, so both run distributed."""
        from .sections import segment_section_search

        store = self._postings_driver()
        if plan["sections"][0] == "window" and store is not None:
            if all(t < 0 for t in plan["word_tid"].values()):
                return _empty_out()
            return segment_section_search(store, self._tombstones(), plan, None)
        return self._section_outputs(plan).toPandas()

    def section_search(self, tree, k: int = 10, offset: int = 0,
                       boost: float = 1.0) -> SearchResult:
        """Constant-score section search (hits carry the number of
        matching sections in SearchResult.hits['n_sections'])."""
        plan = self._section_plan(tree, k, offset, boost)
        out = self._section_outputs_pd(plan)
        page = _section_page(out, offset, k)
        hits = page[["doc_id", "score"]].copy()
        hits["n_sections"] = page["count"].to_numpy()
        num_hits = int(out[out["kind"] == _K_STATS]["count"].sum())
        return SearchResult(hits=hits.reset_index(drop=True),
                            num_hits=num_hits, facets={})

    def section_search_df(self, tree, k: int = 10, offset: int = 0,
                          boost: float = 1.0) -> DataFrame:
        """Section search as an uncollected DataFrame
        (doc_id, n_sections) — the pipeline-composable form."""
        from pyspark.sql.window import Window

        plan = self._section_plan(tree, k, offset, boost)
        if plan["sections"][0] == "window" and self._postings_driver() is not None:
            # zero-Spark-job page (same rows: doc_id is a unique total
            # order, so sort+slice ≡ the distributed orderBy+limit+rank)
            hp = _section_page(self._section_outputs_pd(plan), offset, k)
            return self.spark.createDataFrame(
                hp[["doc_id", "count"]].rename(columns={"count": "n_sections"})
                .astype({"doc_id": "int64", "n_sections": "int64"}),
                schema="doc_id long, n_sections long")
        out = self._section_outputs(plan)
        top = (
            out.where(F.col("kind") == _K_HIT)
            .orderBy(F.asc("doc_id"))
            .limit(offset + k)
        )
        if offset:  # rank window above the limit: ≤ offset+k rows pass
            top = (top.withColumn(
                "_rank", F.row_number().over(Window.orderBy(F.asc("doc_id"))))
                .where(F.col("_rank") > offset))
        return top.select("doc_id", F.col("count").alias("n_sections"))

    def search_many(self, reqs: list[SearchRequest]) -> list[SearchResult]:
        """Batch execution, keyword and MatchAll requests alike: the
        cached batch scores each plan once over the whole store (zero
        Spark jobs); the distributed batch is one ``_segment_frame``
        whose segment tasks score every plan against their segment.
        Results are identical on both paths (same scorer and merge per
        request); per-request driver/scheduling overhead amortizes to
        zero, so batch retrieval throughput scales with executors."""
        plans = [self.plan(r) for r in reqs]
        parts = self._score([(i, p) for i, p in enumerate(plans) if _runnable(p)])
        return [self._merge(r, p, parts.get(i))
                for i, (r, p) in enumerate(zip(reqs, plans))]

    def search_df(self, req: SearchRequest, with_url: bool = False) -> DataFrame:
        """Spark-DataFrame result (doc_id, score[, url]) for pipelines:
        the ``search`` page, created from the driver's merge on a cached
        reader, and a limit over ``_segment_frame`` otherwise."""
        from pyspark.sql.window import Window

        plan = self.plan(req)
        runnable = [(0, plan)] if _runnable(plan) else []
        if self._postings_driver() is not None or not runnable:
            # zero-Spark-job page: same scorer and merge, same (score
            # desc, doc_id asc) total order as the distributed limit
            page = self._merge(req, plan, self._score(runnable).get(0)).hits
            hits = self.spark.createDataFrame(
                page, schema="doc_id long, score double")
        else:
            hits = (
                self._segment_frame(runnable).where(F.col("kind") == _K_HIT)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(req.offset + req.k)
                .select("doc_id", "score")
            )
            if req.offset:
                # rank window ABOVE the limit (≤ offset+k rows reach it),
                # as in section_search_df — returns rows
                # offset+1..offset+k, matching search()'s page contract
                page_order = Window.orderBy(F.desc("score"), F.asc("doc_id"))
                hits = (hits.withColumn("_rank", F.row_number().over(page_order))
                        .where(F.col("_rank") > req.offset).drop("_rank"))
        if with_url:
            # hits is ≤ offset+k rows — broadcast it so the stored-field
            # fetch never shuffles the forward table (SURVEY §2.1).
            # Inner join: every indexed doc has a forward row, and only
            # inner joins support a broadcast LEFT build side.
            hits = F.broadcast(hits).join(
                self._forward.select("doc_id", "url"), "doc_id")
        return hits
