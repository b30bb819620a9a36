"""BM25 top-k query engine over the posting-block index.

Execution model (the Spark rendition of SURVEY.md §3.1):

* Driver resolves query terms against the term dictionary (tiny
  filtered read), facet/selection values against the facet dicts, and
  broadcasts a query plan.
* Posting blocks for the query terms are read with a pushed-down
  ``term_id IN (...)`` filter (blocks are sorted by (segment, term_id,
  doc_id) at build time → parquet row-group pruning does the work of
  Lucene's TermsEnum seek).
* One per-segment scorer (``_segment_search_rows``) is the exact
  analogue of the reference's per-segment sub-browse loop
  (api/MultiBoboBrowser.java:100-127): decode → selection masks →
  intersection/union → BM25 TAAT accumulation in ascending
  lexicographic term order (float64, pinned order = score identity
  with the oracle) → local top-k + local facet bincounts. It runs on
  one of three paths, chosen from published stats and dictionary df:
  - ``cache``: an index under ``DRIVER_CACHE_TOKSUM`` is pulled into an
    in-driver block cache once per reader; page-scale queries score
    there with zero Spark jobs, decoded streams shared across queries;
  - ``scan``: page-scale queries (Σdf ≤ ``DRIVER_POSTINGS_THRESHOLD``)
    on an uncached reader fetch their term-filtered blocks once and
    score them in-process;
  - ``distributed``: ``groupBy(segment).applyInPandas`` scores each
    segment on the executors.
* Driver merge: global top-k by a (score desc, doc_id asc) sort
  (≙ sort/SortCollectorImpl.java:354-368 +
  util/ListMerger.java:104-137) and facet count summation
  (≙ facets/CombinedFacetAccessible.java:101-192).

Pruning:
* conjunctive — blocks of non-rarest terms are skipped before decode
  when their [first_doc, last_doc] interval overlaps no block of the
  rarest term (the skip-scan analogue of
  facets/filter/FacetFilter.java:44-49).
* disjunctive top-k without facets — two-phase block-max pruning:
  a safe θ lower bound from the highest-impact term's exact
  contributions, then whole blocks whose summed upper bound stays
  below θ are dropped *before* tf decode (block-max WAND flavor;
  every doc in a dropped block provably scores < θ).
Both apply only where a query decodes its own blocks (``scan`` and
``distributed`` single queries); shared-decode scoring (``cache`` and
``search_many``) skips them — same results, different work.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import bm25
from .catalog import IndexCatalog, Snapshot, read_table_arrow, read_table_pdf
from .codecs import vb_decode
from .tokenizer import tokenize

# serializes search_many's session-conf AQE flip (see its comment)
import threading as _threading
_AQE_LOCK = _threading.RLock()

OUT_SCHEMA = "kind int, doc_id long, score double, field string, ordinal long, count long"
_OUT_COLS = ["kind", "doc_id", "score", "field", "ordinal", "count"]
_K_HIT, _K_FACET, _K_STATS, _K_EXPL = 1, 2, 3, 4
FACET_FIELDS = {"lang": "lang", "ts_bucket": "ts_bucket"}


@dataclass
class SearchRequest:
    # None = MatchAllDocs / selection-only search (the reference
    # AND-wraps MatchAllDocsQuery with the filter set,
    # api/MultiBoboBrowser.java:81-92): hits come from a forward-table
    # scan, scores are the constant 1.0
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
    hits: pd.DataFrame  # doc_id, score (page: offset..offset+k)
    num_hits: int
    facets: dict  # field -> pd.DataFrame(value, count) count-desc, value-asc
    # explain=True only: (doc_id, part, value); part = term or
    # 'recency_boost'
    explanations: pd.DataFrame | None = None


def _plan_terms(terms_pd: pd.DataFrame, qtokens: list[str], n_docs: int) -> list[dict]:
    by_term = terms_pd.set_index("term")
    plan = []
    for t in sorted(set(qtokens)):  # ascending lexicographic = accumulation order
        if t in by_term.index:
            row = by_term.loc[t]
            plan.append(
                {
                    "term": t,
                    "term_id": int(row["term_id"]),
                    "df": int(row["df"]),
                    "idf": float(bm25.idf(int(row["df"]), n_docs)),
                }
            )
        else:
            plan.append({"term": t, "term_id": -1, "df": 0, "idf": 0.0})
    return plan


def _decode_docs(b: pd.DataFrame) -> np.ndarray:
    """Decode ONLY the docID streams of a term's blocks (sorted by
    first_doc): one vectorized pass over the concatenated delta
    buffers, per-block absolute first_docs re-based with a segmented
    cumsum. Used standalone for exact hit counting under block-max
    pruning (tf/meta streams stay undecoded)."""
    nds = b["n_docs"].to_numpy(np.int64)
    firsts = b["first_doc"].to_numpy(np.int64)
    total = int(nds.sum())
    starts = np.cumsum(nds) - nds
    deltas_all = vb_decode(b"".join(b["doc_bytes"])).astype(np.int64)
    vals = np.zeros(total, dtype=np.int64)
    mask = np.ones(total, dtype=bool)
    mask[starts] = False
    vals[mask] = deltas_all
    cums = np.cumsum(vals)
    return cums - np.repeat(cums[starts], nds) + np.repeat(firsts, nds)


def _decode_docs_blocks(b: pd.DataFrame):
    """_decode_docs plus per-block offsets into the decoded array, so
    a later pass can re-slice surviving blocks without re-decoding."""
    docs = _decode_docs(b)
    nds = b["n_docs"].to_numpy(np.int64)
    offs = np.concatenate(([0], np.cumsum(nds)))
    return docs, offs


def _decode_term_blocks(b: pd.DataFrame, docs: np.ndarray | None = None):
    """Decode all blocks of one term (sorted by first_doc) at once.

    Returns (docs, tf, dl, lang, ts); docs are int64 ascending
    (global ids can exceed 32 bits at web scale), the per-posting
    streams are int32 — tf/dl are 16-bit-clamped at encode
    (pack_meta) and the ordinal spaces are small, so int32 is always
    sufficient and halves the decode cache's memory traffic (the
    batch stage's measured residual). All consumers promote to
    int64/float64 at use. ``docs`` may be passed pre-decoded
    (pruned-OR mode reuses the counting pass's docID decode instead
    of paying it twice).
    """
    if docs is None:
        docs = _decode_docs(b)
    tf = vb_decode(b"".join(b["tf_bytes"])).astype(np.int32)
    dl = vb_decode(b"".join(b["dl_bytes"])).astype(np.int32)
    lang = vb_decode(b"".join(b["lang_bytes"])).astype(np.int32)
    ts = vb_decode(b"".join(b["ts_bytes"])).astype(np.int32)
    return docs, tf, dl, lang, ts


_POS_SHIFT = 24  # (doc_id << 24 | position) occurrence keys: doc_id < 2^40, pos < 2^24


def _decode_positions(b: pd.DataFrame, tf: np.ndarray) -> np.ndarray:
    """Decode a term's positions stream (aligned with the decoded tf
    order): per posting, first position absolute then gaps — recovered
    with one segmented cumsum over the concatenated buffers."""
    vals = vb_decode(b"".join(b["pos_bytes"])).astype(np.int64)
    total = int(tf.sum(dtype=np.int64))
    if vals.size != total:
        raise ValueError(
            "positions stream missing or truncated — index built with "
            "store_positions=False cannot serve phrase queries")
    # int64 accumulator: tf is int32 and a task-level position total
    # can exceed 32 bits at scale
    starts = np.cumsum(tf, dtype=np.int64) - tf
    cums = np.cumsum(vals)
    base = cums[starts] - vals[starts]  # sum of values before each run
    return cums - np.repeat(base, tf)


def _phrase_filter(groups: dict, decoded: dict, phrase_ids: list[int],
                   cand: np.ndarray):
    """Exact phrase verification over the conjunctive candidate set.

    Fully vectorized (≙ Lucene ExactPhraseMatcher): occurrences become
    uint64 (doc << 24 | pos) keys; an occurrence of token j at key k
    survives iff k + 1 is an occurrence key of token j+1. Returns
    (matching docs ascending, phrase frequency per doc)."""
    keymap = {}
    for tid in set(phrase_ids):
        docs, tf, _dl, _lang, _ts = decoded[tid]
        pos = _decode_positions(groups[tid], tf)
        occ_docs = np.repeat(docs, tf)
        # restrict to candidate docs before building keys
        idx = np.searchsorted(cand, occ_docs)
        ok = (idx < cand.size) & (cand[np.minimum(idx, cand.size - 1)] == occ_docs)
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


def _sorted_member(sorted_arr: np.ndarray, vals: np.ndarray) -> np.ndarray:
    """Boolean membership of ``vals`` in a SORTED int64 array — one
    searchsorted, no hash set (np.isin) materialization."""
    if sorted_arr.size == 0:
        return np.zeros(vals.shape, dtype=bool)
    pos = np.searchsorted(sorted_arr, vals)
    return (pos < sorted_arr.size) & \
        (sorted_arr[np.minimum(pos, sorted_arr.size - 1)] == vals)


def _segment_deleted(deleted_bc, pdf: pd.DataFrame) -> np.ndarray | None:
    """This segment's tombstone set (sorted doc_ids) from the reader's
    per-segment delete broadcast — the liveDocs analogue. Each task
    touches ONLY its own segment's entry; the broadcast ships once per
    executor, never per query plan."""
    if deleted_bc is None or not len(pdf):
        return None
    return deleted_bc.value.get(int(pdf["segment"].iloc[0]))


def _and_masks(*masks):
    out = None
    for m in masks:
        if m is None:
            continue
        out = m if out is None else (out & m)
    return out


def _postings_doc_mask(cand: np.ndarray, groups: dict, tids: list[int],
                       shared_decode: dict | None = None) -> np.ndarray:
    """Inverted access path for a selection: membership of candidates
    in the union of the facet-value posting lists (sorted-array
    intersection, ≙ OR of TermDocIdSets)."""
    doc_lists = []
    for tid in tids:
        if shared_decode is not None and tid in shared_decode:
            doc_lists.append(shared_decode[tid][0])
            continue
        g = groups.get(tid)
        if g is not None and len(g):
            dec = _decode_term_blocks(g)
            if shared_decode is not None:
                shared_decode[tid] = dec
            doc_lists.append(dec[0])
    if not doc_lists:
        return np.zeros(cand.size, dtype=bool)
    allowed = np.unique(np.concatenate(doc_lists))
    pos = np.searchsorted(allowed, cand)
    return (pos < allowed.size) & (allowed[np.minimum(pos, allowed.size - 1)] == cand)


def _block_bound(g: pd.DataFrame, idf_t: float, avgdl: float) -> np.ndarray:
    """Safe per-block upper bound of any contribution in the block:
    contrib is monotone ↑ in tf and ↓ in dl, so (max_tf, min_dl) bound
    it. Derived from CURRENT global stats — stays valid across
    incremental snapshots (stored float bounds would go stale)."""
    return bm25.contrib(g["max_tf"].to_numpy(np.float64),
                        g["min_dl"].to_numpy(np.float64), idf_t, avgdl)


def _recency_factor(ts: np.ndarray, rec: dict) -> np.ndarray:
    """Quadratic decay factor per doc from its time-bucket ordinal
    (≙ query/RecencyBoostScorerBuilder.java:58-60). Shared by scoring
    and by recency-aware pruning so the two can never diverge."""
    ord_ms = np.asarray(rec["ord_ms"], dtype=np.float64)
    x = rec["now_ms"] - ord_ms[ts]
    mx = rec["max_factor"] + 1.0
    a = (1.0 - mx) / (float(rec["cutoff_ms"]) ** 2)
    return np.where(x > rec["cutoff_ms"], 1.0, a * x * x + mx)


def _blockmax_prune(groups: dict, present: list, k: int, avgdl: float,
                    doc_cache: dict | None = None, recency: dict | None = None,
                    deleted: np.ndarray | None = None):
    """Block-max two-phase pruning for disjunctive top-k.

    θ = k-th largest exact single-term contribution of the
    highest-idf term (a true lower bound of the final k-th score: a
    doc's total ≥ any single contribution). A block b of term t whose
    bound(b) + Σ_{t'≠t} max-bound(t') < θ provably contains no top-k
    doc — every doc in it scores < θ while ≥k docs score ≥ θ — so it
    is dropped before decode. Docs of surviving blocks that also sat
    in dropped blocks end up partial-scored BELOW θ and fall out of
    the page, so returned docIDs AND scores stay exact
    (property-tested against the exhaustive path)."""
    bounds = {t["term_id"]: _block_bound(groups[t["term_id"]], t["idf"], avgdl)
              for t in present}
    gmax = {tid: (b.max() if b.size else 0.0) for tid, b in bounds.items()}
    tstar = max(present, key=lambda t: t["idf"])
    star_docs = doc_cache[tstar["term_id"]][0] if doc_cache else None
    docs, tf, dl, _lang, ts = _decode_term_blocks(
        groups[tstar["term_id"]], docs=star_docs)
    c = bm25.contrib(tf, dl, tstar["idf"], avgdl)
    # recency-aware variant: θ uses each doc's EXACT boost (total
    # boosted score = Σcontrib × factor ≥ contrib_t* × factor), block
    # bounds scale by the boost's global max (factor ≤ max_factor+1
    # everywhere — the parabola peaks at x=0) — both stay safe
    mx = 1.0
    if recency:
        c = c * _recency_factor(ts, recency)
        mx = recency["max_factor"] + 1.0
    # tombstoned docs must not contribute to θ: a deleted doc among the
    # k best t* contributions would inflate the bound and wrongly prune
    # blocks holding live top-k docs (they are removed from the
    # candidate set only AFTER pruning)
    if deleted is not None and c.size:
        c = c[~_sorted_member(deleted, docs)]
    keeps: dict = {}
    if c.size < k:
        return groups, keeps
    theta = np.partition(c, c.size - k)[c.size - k]
    out = {}
    for t in present:
        tid = t["term_id"]
        if tid == tstar["term_id"]:
            out[tid] = groups[tid]
            continue
        cross = sum(gmax[o["term_id"]] for o in present if o["term_id"] != tid)
        keep = (bounds[tid] + cross) * mx >= theta
        out[tid] = groups[tid][keep]
        keeps[tid] = keep
    return out, keeps


def _batch_group_decode(pdf: pd.DataFrame, need_lang: bool = True,
                        need_ts: bool = True):
    """Batch-mode per-task preparation in ONE pass: a single
    (term_id, first_doc) lexsort replaces the per-term
    groupby+sort_values+re-concat, and every term's five streams
    decode through ONE ``vb_decode`` per stream type (plus one
    rebased docID pass) instead of five small decodes per term — the
    per-call overhead dominated the decode profile at ~170 terms per
    task, and the decode is the memory-bound part that contends
    across workers. ``need_lang``/``need_ts``: the caller asserts
    that NO query in the batch reads that ordinal stream (no facet,
    no ords-mode selection, for ts no recency), so its decode — 1/5
    of the memory-bound bytes each — is skipped outright and the
    tuple slot carries None. Returns ``(shared_decode, groups_all)``:
    the decode cache (contents identical to per-term
    ``_decode_term_blocks`` for every decoded stream) plus per-term
    block-row frames (cheap row slices of the one sorted frame; only
    phrase verification dereferences them)."""
    order = np.lexsort((pdf["first_doc"].to_numpy(np.int64),
                        pdf["term_id"].to_numpy(np.int64)))
    b = pdf.iloc[order]
    tid_arr = b["term_id"].to_numpy(np.int64)
    bnd = np.flatnonzero(np.diff(tid_arr)) + 1
    starts = np.concatenate(([0], bnd))
    ends = np.concatenate((bnd, [len(b)]))
    nds = b["n_docs"].to_numpy(np.int64)
    docs = _decode_docs(b)  # per-block rebase is term-agnostic
    # int32 streams: same width rationale as _decode_term_blocks
    tf = vb_decode(b"".join(b["tf_bytes"])).astype(np.int32)
    dl = vb_decode(b"".join(b["dl_bytes"])).astype(np.int32)
    lang = (vb_decode(b"".join(b["lang_bytes"])).astype(np.int32)
            if need_lang else None)
    ts = (vb_decode(b"".join(b["ts_bytes"])).astype(np.int32)
          if need_ts else None)
    el = np.concatenate(([0], np.cumsum(nds)))
    shared: dict = {}
    groups_all: dict = {}
    for s0, e0 in zip(starts, ends):
        tid = int(tid_arr[s0])
        es, ee = el[s0], el[e0]
        shared[tid] = (docs[es:ee], tf[es:ee], dl[es:ee],
                       lang[es:ee] if need_lang else None,
                       ts[es:ee] if need_ts else None)
        groups_all[tid] = b.iloc[s0:e0]
    return shared, groups_all


class _SegGroups:
    """Lazy per-term block-frame views over one segment's slice of the
    driver block cache (rows pre-sorted by first_doc) — dict-shaped
    for _segment_search_rows's ``groups_all`` protocol, materializing a
    frame only for terms a query actually touches. Term lookup is a
    searchsorted over the segment's tid-sorted run arrays (r6: the
    per-run Python dict build was 0.86 s of the one-time cache build
    at 457k runs; three numpy arrays per segment cost ~nothing)."""

    __slots__ = ("_pdf", "_tids", "_starts", "_ends")

    def __init__(self, pdf: pd.DataFrame, runs: tuple):
        self._pdf = pdf
        self._tids, self._starts, self._ends = runs

    def __contains__(self, tid) -> bool:
        i = np.searchsorted(self._tids, tid)
        return i < len(self._tids) and self._tids[i] == tid

    def __getitem__(self, tid) -> pd.DataFrame:
        i = np.searchsorted(self._tids, tid)
        if i >= len(self._tids) or self._tids[i] != tid:
            raise KeyError(tid)
        return self._pdf.iloc[int(self._starts[i]):int(self._ends[i])]


def _segment_rows(pdf: pd.DataFrame, plan: dict, deleted_bc) -> list:
    """One query against one segment's term-filtered block rows,
    decoding its own blocks (so the pruning shortcuts apply)."""
    groups = {tid: g.sort_values("first_doc")
              for tid, g in pdf.groupby("term_id")}
    return _segment_search_rows(plan, groups,
                                deleted=_segment_deleted(deleted_bc, pdf))


def _segment_search_rows(plan: dict, groups_all, shared_decode: dict | None = None,
                         deleted: np.ndarray | None = None) -> list:
    """Score one segment's query-term blocks (pure pandas/numpy),
    returning raw output TUPLES (kind, doc_id, score, field, ordinal,
    count) — r6: batch callers accumulate rows across queries and
    build ONE frame per task (per-query frame construction was ~25%
    of the batch scoring loop).

    ``groups_all`` maps term_id → that term's block rows sorted by
    first_doc; ``deleted`` is the segment's sorted tombstone ids.
    With a ``shared_decode`` dict (``_score_segment``) a term's
    streams are decoded ONCE however many queries reference it, and
    the per-query decode-saving shortcuts (conjunctive block skip,
    block-max pruning) are disabled — they subset blocks per query,
    which would defeat decode sharing; results are identical either
    way (property-tested), only the work-skipping differs.
    """
    terms = plan["terms"]
    mode = plan["mode"]
    k = plan["k"] + plan["offset"]
    avgdl = plan["avgdl"]
    sel_lang = np.array(plan["sel_lang"], dtype=np.int64) if plan["sel_lang"] is not None else None
    sel_ts = np.array(plan["sel_ts"], dtype=np.int64) if plan["sel_ts"] is not None else None
    out_rows = []

    # term_id -1 marks BOTH unknown query terms and the pseudo forward
    # runs present in an unfiltered block source (the driver cache) —
    # _plan_tids never lets one resolve the other
    groups = {tid: groups_all[tid] for tid in set(_plan_tids(plan))
              if tid in groups_all}
    present = [t for t in terms if t["term_id"] in groups]
    conj = mode in ("and", "phrase")  # phrase = conjunction + positional check
    if conj and len(present) < len(terms):
        return []
    if not present:
        return []

    # ---- conjunctive block skip: drop blocks not overlapping the rarest term's
    if conj and len(present) > 1 and shared_decode is None:
        rare = min(present, key=lambda t: t["df"])
        rb = groups[rare["term_id"]]
        rf = rb["first_doc"].to_numpy(np.int64)
        rl = rb["last_doc"].to_numpy(np.int64)
        for t in present:
            if t is rare:
                continue
            g = groups[t["term_id"]]
            f = g["first_doc"].to_numpy(np.int64)
            l = g["last_doc"].to_numpy(np.int64)
            idx = np.searchsorted(rf, l, side="right") - 1
            keep = (idx >= 0) & (rl[np.maximum(idx, 0)] >= f)
            groups[t["term_id"]] = g[keep]

    # ---- disjunctive block-max pruning (top-k only: no facets or
    # selections; recency uses the boost-aware bound variant)
    pruned_mode = (
        mode == "or" and plan.get("prune") and not plan["facets"]
        and sel_lang is None and sel_ts is None and len(present) > 1
        and shared_decode is None
    )
    n_hits_exact = None
    doc_cache: dict = {}
    keep_masks: dict = {}
    if pruned_mode:
        # exact hit count BEFORE pruning: union of doc streams only
        # (tf/meta streams of dropped blocks stay undecoded, so the
        # pruning still pays — this fixes num_hits undercounting docs
        # that lived only in dropped blocks). The decoded streams are
        # CACHED with block offsets and re-sliced for surviving blocks
        # below — the docID decode is paid exactly once.
        doc_cache = {t["term_id"]: _decode_docs_blocks(groups[t["term_id"]])
                     for t in present if len(groups[t["term_id"]])}
        if doc_cache:
            uni = np.unique(np.concatenate([d for d, _ in doc_cache.values()]))
            if deleted is not None:
                uni = uni[~_sorted_member(deleted, uni)]
            n_hits_exact = int(uni.size)
        else:
            n_hits_exact = 0
        groups, keep_masks = _blockmax_prune(groups, present, k, avgdl,
                                             doc_cache, plan.get("recency"),
                                             deleted)

    decoded = {}
    for t in present:
        tid = t["term_id"]
        if shared_decode is not None and tid in shared_decode:
            decoded[tid] = shared_decode[tid]
            continue
        g = groups[tid]
        if len(g) == 0:
            if conj:
                return []
            continue
        pre = None
        if tid in doc_cache:
            docs_all, offs = doc_cache[tid]
            keep = keep_masks.get(tid)
            if keep is None:
                pre = docs_all
            else:
                idx = np.flatnonzero(keep)
                pre = (np.concatenate([docs_all[offs[i]:offs[i + 1]] for i in idx])
                       if idx.size else np.zeros(0, dtype=np.int64))
        decoded[tid] = _decode_term_blocks(g, docs=pre)
        if shared_decode is not None:
            shared_decode[tid] = decoded[tid]
    present = [t for t in present if t["term_id"] in decoded]
    if not present:
        return []

    # ---- candidate doc set
    if conj:
        cand = decoded[present[0]["term_id"]][0]
        for t in present[1:]:
            cand = np.intersect1d(cand, decoded[t["term_id"]][0], assume_unique=True)
            if cand.size == 0:
                return []
    else:
        cand = np.unique(np.concatenate([decoded[t["term_id"]][0] for t in present]))

    # ---- soft deletes (≙ Lucene liveDocs): tombstoned docs leave the
    # candidate set before scoring/facets/phrase verification
    if deleted is not None and cand.size:
        cand = cand[~_sorted_member(deleted, cand)]
        if cand.size == 0 and n_hits_exact is None:
            return []
        if cand.size == 0:
            return [(_K_STATS, -1, 0.0, "", -1, n_hits_exact)]

    # ---- phrase: positional verification narrows the candidate set
    ptf = None
    if mode == "phrase":
        cand, ptf = _phrase_filter(groups, decoded, plan["phrase_ids"], cand)
        if cand.size == 0:
            return []

    # ---- per-doc ordinals (needed for facet counts / ord-mode selections)
    lang_postings = plan.get("sel_lang_mode") == "postings"
    ts_postings = plan.get("sel_ts_mode") == "postings"
    need_ords = bool(plan["facets"]) or bool(plan.get("recency")) \
        or (sel_lang is not None and not lang_postings) \
        or (sel_ts is not None and not ts_postings)
    doc_lang = doc_ts = None
    if need_ords:
        doc_lang = np.zeros(cand.size, dtype=np.int64)
        doc_ts = np.zeros(cand.size, dtype=np.int64)
        seen = np.zeros(cand.size, dtype=bool)
        for t in present:
            docs, _tf, _dl, lang, ts = decoded[t["term_id"]]
            pos = np.searchsorted(cand, docs)
            ok = (pos < cand.size) & (cand[np.minimum(pos, cand.size - 1)] == docs)
            pos = pos[ok]
            new = ~seen[pos]
            # a None stream was skipped at decode because the batch
            # caller proved NO plan reads it (see _batch_group_decode)
            if lang is not None:
                doc_lang[pos[new]] = lang[ok][new]
            if ts is not None:
                doc_ts[pos[new]] = ts[ok][new]
            seen[pos[new]] = True

    # ---- per-field selection masks: adaptive inverted-vs-forward path
    lang_mask = ts_mask = None
    if sel_lang is not None:
        lang_mask = (
            _postings_doc_mask(cand, groups, plan["sel_lang_tids"],
                               shared_decode)
            if lang_postings else np.isin(doc_lang, sel_lang)
        )
    if sel_ts is not None:
        ts_mask = (
            _postings_doc_mask(cand, groups, plan["sel_ts_tids"],
                               shared_decode)
            if ts_postings else np.isin(doc_ts, sel_ts)
        )
    m = _and_masks(lang_mask, ts_mask)

    # ---- exact TAAT scoring, ascending lexicographic term order
    scores = np.zeros(cand.size, dtype=np.float64)
    if mode == "phrase":
        # Lucene PhraseQuery scoring: freq = phrase occurrences, idf =
        # Σ idf over the phrase's token INSTANCES (duplicates counted)
        docs0, _tf0, dl0, _l0, _t0 = decoded[plan["phrase_ids"][0]]
        pos = np.searchsorted(docs0, cand)
        scores = bm25.contrib(ptf, dl0[pos], plan["phrase_idf_sum"], avgdl)
    else:
        for t in present:  # already lex-ordered
            docs, tf, dl, _lang, _ts = decoded[t["term_id"]]
            pos = np.searchsorted(cand, docs)
            ok = (pos < cand.size) & (cand[np.minimum(pos, cand.size - 1)] == docs)
            c = bm25.contrib(tf[ok], dl[ok], t["idf"], avgdl)
            scores[pos[ok]] += c

    # ---- recency boost: quadratic decay factor on the doc's time bucket
    raw_scores = scores
    rec = plan.get("recency")
    if rec:
        scores = scores * _recency_factor(doc_ts, rec)

    # ---- facet counts (multi-select: leave-one-out masks) + hits
    full_mask = m if m is not None else np.ones(cand.size, dtype=bool)
    for f in plan["facets"]:
        ords = doc_lang if f == "lang" else doc_ts
        if plan["expand_selection"]:
            others = _and_masks(
                None if f == "lang" else lang_mask,
                None if f == "ts_bucket" else ts_mask,
            )
            fmask = others if others is not None else np.ones(cand.size, dtype=bool)
        else:
            fmask = full_mask
        vals, cnts = np.unique(ords[fmask], return_counts=True)
        for v, c in zip(vals, cnts):
            out_rows.append((_K_FACET, -1, 0.0, f, int(v), int(c)))

    hit_docs = cand[full_mask]
    hit_scores = scores[full_mask]
    n_local = int(hit_docs.size)
    if n_local:
        kk = min(k, n_local)
        # top-k by (-score, doc_id). Select everything >= the kk-th
        # largest score (including ALL ties) before the exact lexsort,
        # so score ties at the boundary break by doc_id exactly.
        if n_local > kk:
            kth = np.partition(hit_scores, n_local - kk)[n_local - kk]
            part = np.flatnonzero(hit_scores >= kth)
        else:
            part = np.arange(n_local)
        order = np.lexsort((hit_docs[part], -hit_scores[part]))[:kk]
        sel = part[order]
        for d, s in zip(hit_docs[sel], hit_scores[sel]):
            out_rows.append((_K_HIT, int(d), float(s), "", -1, 0))
        # ---- score explanations for the local page candidates
        # (≙ BrowseHit.getExplanation): per-term exact contributions;
        # summed in the same ascending-lex order and multiplied by the
        # recency factor they reproduce the score bit-for-bit
        if plan.get("explain"):
            sel_docs = hit_docs[sel]
            cpos = np.searchsorted(cand, sel_docs)
            if mode == "phrase":
                for d, v in zip(sel_docs, raw_scores[cpos]):
                    out_rows.append((_K_EXPL, int(d), float(v), "phrase", -1, 0))
            else:
                for t in present:
                    docs, tf, dl, _l, _t2 = decoded[t["term_id"]]
                    p = np.searchsorted(docs, sel_docs)
                    ok = (p < docs.size) & \
                        (docs[np.minimum(p, docs.size - 1)] == sel_docs)
                    c = bm25.contrib(tf[p[ok]], dl[p[ok]], t["idf"], avgdl)
                    for d, v in zip(sel_docs[ok], c):
                        out_rows.append(
                            (_K_EXPL, int(d), float(v), t["term"], -1, 0))
            if rec:
                fac = _recency_factor(doc_ts[cpos], rec)
                for d, v in zip(sel_docs, fac):
                    out_rows.append(
                        (_K_EXPL, int(d), float(v), "recency_boost", -1, 0))
    out_rows.append((_K_STATS, -1, 0.0, "", -1,
                     n_hits_exact if n_hits_exact is not None else n_local))
    return out_rows


_EMPTY_OUT = pd.DataFrame(
    {"kind": pd.Series([], dtype="int32"), "doc_id": pd.Series([], dtype="int64"),
     "score": pd.Series([], dtype="float64"), "field": pd.Series([], dtype="object"),
     "ordinal": pd.Series([], dtype="int64"), "count": pd.Series([], dtype="int64")}
)


def _empty_out() -> pd.DataFrame:
    return _EMPTY_OUT.copy()


def _out_frame(rows: list, qids: list | None = None) -> pd.DataFrame:
    """Scorer output tuples as one OUT_SCHEMA frame (plus the batch
    ``qid`` column when ``qids`` is given)."""
    out = pd.DataFrame(rows, columns=_OUT_COLS) if rows else _empty_out()
    if qids is not None:
        out["qid"] = np.asarray(qids, dtype=np.int32)
    return out


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


def _score_segment(plans: list, groups_all, shared_decode: dict,
                   deleted: np.ndarray | None, rows: list,
                   qids: list) -> None:
    """Score every ``(qid, plan)`` against one segment's blocks with
    one shared decode cache — the per-segment sub-browse loop
    (api/MultiBoboBrowser.java:100-127) behind the cache path and both
    ``search_many`` paths. Output tuples append to ``rows`` and their
    qids to ``qids``."""
    for qid, plan in plans:
        if any(tid in groups_all for tid in _plan_tids(plan)):
            r = _segment_search_rows(plan, groups_all, shared_decode, deleted)
            rows.extend(r)
            qids.extend([qid] * len(r))


def _hit_page(out: pd.DataFrame, offset: int, k: int) -> pd.DataFrame:
    """Hit rows offset..offset+k of a scorer output frame in the
    (score desc, doc_id asc) total order."""
    hits = out[out["kind"] == _K_HIT]
    order = np.lexsort((hits["doc_id"].to_numpy(), -hits["score"].to_numpy()))
    return hits.iloc[order[offset:offset + k]]


def _section_page(out: pd.DataFrame, offset: int, k: int) -> pd.DataFrame:
    """Section hit rows offset..offset+k in doc_id order."""
    return (out[out["kind"] == _K_HIT].sort_values("doc_id")
            .iloc[offset:offset + k])


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
        self._terms = self.spark.read.parquet(*self.catalog.table_paths(self.snap, "terms"))
        self._postings_full = self.spark.read.parquet(
            *self.catalog.table_paths(self.snap, "postings"))
        # non-phrase queries never read the positions stream — keep the
        # hot cache pruned so it pins only the scoring columns
        self._postings = self._postings_full.drop("pos_bytes") \
            if "pos_bytes" in self._postings_full.columns else self._postings_full
        self._forward = self.spark.read.parquet(*self.catalog.table_paths(self.snap, "forward"))
        self._terms_pd = None
        # in-driver postings block cache (lazy; see _postings_driver):
        # exact cost gate from the published token count
        self._postings_pd_cache = None
        self._driver_cache_ok = bool(cache) and (
            self.snap.stats.get("tok_sum", 1 << 62) <= self.DRIVER_CACHE_TOKSUM)
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
            # small dictionaries also live driver-side: term lookup then
            # costs zero Spark jobs (adaptive — falls back to a filtered
            # scan when the dictionary is web-scale). r6: the pull
            # itself is a driver-direct parquet read (no scheduled
            # scan+collect job per reader open); same local-fs validity
            # as the facet dictionary reads below
            if self.snap.stats.get("n_terms", 1 << 62) <= 2_000_000:
                try:
                    self._terms_pd = read_table_pdf(self.catalog.table_paths(
                        self.snap, "terms"))[["term", "term_id", "df"]]
                except Exception:
                    self._terms_pd = self._terms.select(
                        "term", "term_id", "df").toPandas()
        # facet dictionaries are page-scale — driver-direct parquet
        # read (zero Spark jobs per reader open; see catalog.read_table_pdf)
        self.dicts = {
            "lang": read_table_pdf(
                self.catalog.table_paths(self.snap, "dict_lang")),
            "ts_bucket": read_table_pdf(
                self.catalog.table_paths(self.snap, "dict_ts_bucket")),
        }
        # cumulative soft-delete tombstones (≙ Lucene liveDocs): hits,
        # facet counts and num_hits exclude them; df/cf/avgdl stats
        # intentionally do NOT change until a merge — Lucene semantics.
        # Loaded ONCE per reader open into (a) a Spark DataFrame for
        # anti-joins on the DataFrame paths and (b) one per-segment
        # broadcast dict for the applyInPandas paths — query plans
        # carry only the broadcast HANDLE, never the id list, so plan
        # size is O(1) in the tombstone count (the r3 scale-killer).
        del_paths = self.catalog.table_paths(self.snap, "deletes")
        self._deletes_df = None
        self._deleted_bc = None
        self.deleted = np.zeros(0, dtype=np.int64)
        if del_paths:
            # mergeSchema: a cumulative set can MIX legacy doc_id-only
            # files with new (segment, doc_id) files — without it the
            # scan picks one file's schema and (file-order dependent)
            # either drops the segment column or nulls legacy rows,
            # whose tombstones would then silently vanish from the
            # per-segment broadcast
            # r6: driver-direct read (read_table_pdf promotes mixed
            # schemas exactly like mergeSchema=true); the Spark-side
            # frame for anti-joins is created from the deduped pandas
            # (lazy, no job)
            dpd = read_table_pdf(del_paths).drop_duplicates(
                ignore_index=True)
            self._deletes_df = self.spark.createDataFrame(
                dpd[["doc_id"]].astype({"doc_id": "int64"}).drop_duplicates(),
                schema="doc_id long")
            if "segment" not in dpd.columns or dpd["segment"].isna().any():
                # legacy rows (no segment): resolve ALL ids via one
                # broadcast semi-join against the forward table
                dpd = (self._forward.select("segment", "doc_id")
                       .join(F.broadcast(self._deletes_df.select("doc_id")
                                         .distinct()), "doc_id").toPandas())
            # public convenience: sorted global tombstone ids (query
            # paths use the per-segment broadcast, never this array)
            self.deleted = np.sort(dpd["doc_id"].to_numpy(np.int64))
            seg_map = {
                int(s): np.sort(g["doc_id"].to_numpy(np.int64))
                for s, g in dpd.groupby("segment")
            }
            self._deleted_bc = self.spark.sparkContext.broadcast(seg_map)

    def _not_deleted(self, df: DataFrame) -> DataFrame:
        """Anti-join tombstones out of a doc_id-keyed DataFrame — a
        relational join Catalyst can plan (broadcast-hash for ordinary
        delete volumes), never an ``isin`` literal list."""
        if self._deletes_df is None:
            return df
        d = self._deletes_df.select("doc_id")
        if self.snap.stats.get("n_deleted", 0) <= 5_000_000:
            d = F.broadcast(d)
        return df.join(d, "doc_id", "left_anti")

    def facet_counts(self, field: str) -> pd.DataFrame:
        """collectAll shortcut: no-query/no-filter facet counts served
        straight from the facet dictionary's df stats — ZERO index scan
        (≙ FacetCountCollector.collectAll over dataCache.freqs,
        facets/impl/SimpleFacetHandler.java:222-225 +
        api/BoboSubBrowser.java:59-64)."""
        if self._deletes_df is not None:
            # tombstones present: the dictionary df stats still count
            # deleted docs — fall back to a real (anti-joined) count.
            # LEFT-merge from the dictionary so values whose every doc
            # is deleted still appear (count 0), matching the
            # no-deletes path's value universe.
            col = self._ORD_COL[field]
            cnt = (self._not_deleted(self._forward)
                   .groupBy(col).count().toPandas()
                   .rename(columns={col: "ordinal"}))
            d = self.dicts[field][["ordinal", "value"]].merge(
                cnt, on="ordinal", how="left")
            d["count"] = d["count"].fillna(0).astype("int64")
            d = d[["value", "count"]]
        else:
            d = self.dicts[field][["value", "df"]].rename(columns={"df": "count"})
            d = d.astype({"count": "int64"})
        return d.sort_values(["count", "value"], ascending=[False, True],
                             ignore_index=True)

    # ---------------------------------------------------------------- planning

    OR_THRESHOLD = 5  # ≙ AdaptiveFacetFilter.java:98

    def _resolve_selections(self, req: SearchRequest):
        sel_lang = sel_ts = None
        if "lang" in req.selections:
            d = self.dicts["lang"]
            sel_lang = d[d["value"].isin(req.selections["lang"])]["ordinal"].tolist()
        if req.ts_range is not None:
            d = self.dicts["ts_bucket"]
            lo, hi = req.ts_range
            sel_ts = d[(d["value"] >= lo) & (d["value"] <= hi)]["ordinal"].tolist()
        if "ts_bucket" in req.selections:
            d = self.dicts["ts_bucket"]
            vals = d[d["value"].isin(req.selections["ts_bucket"])]["ordinal"].tolist()
            sel_ts = vals if sel_ts is None else sorted(set(sel_ts) & set(vals))
        return sel_lang, sel_ts

    def _sentinel_lookup(self, field: str, ords: list[int]) -> pd.DataFrame:
        names = [f"\x00{field}:{o}" for o in ords]
        if self._terms_pd is not None:
            return self._terms_pd[self._terms_pd["term"].isin(names)]
        return (
            self._terms.where(F.col("term").isin(names))
            .select("term", "term_id", "df").toPandas()
        )

    def _access_path(self, field: str, ords: list[int] | None):
        """Adaptive access-path choice for one selection (≙ facets/
        filter/AdaptiveFacetFilter.java:84-89): iterate facet-value
        posting lists when Σdf(values)·2 < n_docs and ≤5 values, else
        scan the per-posting ordinal stream."""
        if ords is None:
            return None, [], 0
        if 0 < len(ords) <= self.OR_THRESHOLD:
            found = self._sentinel_lookup(field, ords)
            if len(found) == len(ords) and 2 * found["df"].sum() < self.n_docs:
                return ("postings", found["term_id"].astype("int64").tolist(),
                        int(found["df"].sum()))
        return "ords", [], 0

    def plan(self, req: SearchRequest) -> dict:
        qtokens = tokenize(req.query) if isinstance(req.query, str) else [
            t for q in req.query for t in tokenize(q)
        ]
        if self._terms_pd is not None:
            terms_pd = self._terms_pd[self._terms_pd["term"].isin(set(qtokens))]
        else:
            terms_pd = (
                self._terms.where(F.col("term").isin(list(set(qtokens))))
                .select("term", "term_id", "df")
                .toPandas()
            )
        plan_terms = _plan_terms(terms_pd, qtokens, self.n_docs)
        sel_lang, sel_ts = self._resolve_selections(req)
        lang_mode, lang_tids, lang_df = self._access_path("lang", sel_lang)
        ts_mode, ts_tids, ts_df = self._access_path("ts", sel_ts)
        recency = None
        if req.recency:
            d = self.dicts["ts_bucket"]
            max_ord = int(d["ordinal"].max()) if len(d) else 0
            ord_ms = np.full(max_ord + 1, -1e18)  # ordinal 0/missing → factor 1
            if len(d):
                ms = pd.to_datetime(d["value"], utc=True).astype("int64") // 1_000_000
                ord_ms[d["ordinal"].to_numpy(np.int64)] = ms.to_numpy(np.float64)
            recency = {
                "now_ms": float(req.recency["now_ms"]),
                "cutoff_ms": float(req.recency["cutoff_ms"]),
                "max_factor": float(req.recency["max_factor"]),
                "ord_ms": ord_ms.tolist(),
            }
        phrase_ids: list[int] = []
        phrase_idf_sum = 0.0
        if req.mode == "phrase":
            by_term = {t["term"]: t for t in plan_terms}
            phrase_ids = [by_term[t]["term_id"] for t in qtokens]
            for t in qtokens:  # token-instance order — pinned sum order
                phrase_idf_sum += by_term[t]["idf"]
        return {
            "terms": plan_terms,
            "mode": req.mode,
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
            "sel_df": lang_df + ts_df,
            "expand_selection": req.expand_selection,
            "prune": req.prune,
            "phrase_ids": phrase_ids,
            "phrase_idf_sum": phrase_idf_sum,
            "recency": recency,
            "explain": req.explain,
        }

    # --------------------------------------------------------------- execution

    # Σdf below which the per-segment scoring runs ON THE DRIVER:
    # fetching the term-filtered blocks once (pushed term_id IN scan)
    # is cheaper than the groupBy exchange + Python-worker round trip
    # when the query touches only page-scale posting counts. The
    # dictionary df makes the cost KNOWN before execution — an exact
    # cost-based path choice, not a heuristic (≙ the reference being
    # an embedded single-searcher library; head terms at web scale
    # exceed the bound and take the distributed path).
    DRIVER_POSTINGS_THRESHOLD = 200_000

    # tok_sum (known exactly from the published stats) below which the
    # whole postings table is pulled driver-side ONCE per reader open —
    # the embedded analogue of serving a small Lucene index from RAM:
    # every fast-path query then costs ZERO Spark jobs instead of one
    # scheduled scan+collect (~0.25 s of fixed per-job latency each on
    # local[32]). Encoded blocks are ~4-8 B/token, so the default pins
    # well under 200 MB of driver memory; web-scale indexes exceed the
    # gate and keep the distributed path unchanged.
    DRIVER_CACHE_TOKSUM = 20_000_000

    def _driver_fastpath(self, plan: dict) -> bool:
        # sentinel posting lists' df is resolved at plan time
        # (sel_df), so selection queries on the inverted access path
        # are cost-gated exactly like query terms
        total_df = sum(t["df"] for t in plan["terms"]) + plan.get("sel_df", 0)
        return total_df <= self.DRIVER_POSTINGS_THRESHOLD

    def _postings_driver(self):
        """In-driver block cache, or None past the gate. Built lazily
        on first fast-path use: one toPandas of the postings table
        (pos_bytes included so phrase queries are served too), one
        (term_id, segment, first_doc) lexsort, then contiguous-slice
        indexes per term (for whole-term gathers) and per
        (segment, term) (for the per-segment scorer). Returns
        (pdf, seg_slices, tid_span, tid_segs)."""
        if not getattr(self, "_driver_cache_ok", False):
            return None
        if self._postings_pd_cache is None:
            # r6: driver-direct pyarrow read + Arrow-side sort (the
            # scan+collect this replaces was 2.4 s for 645k block rows
            # at bench scale; arrow read+take is 0.9 s — the lexsorted
            # take runs on Arrow buffers instead of 4.5M object
            # pointers) — valid exactly where the catalog manifest
            # itself is (local filesystem by design, see
            # catalog.read_table_arrow); the toPandas fallback keeps
            # remote-fs layouts working
            try:
                import pyarrow as pa

                tbl = read_table_arrow(
                    self.catalog.table_paths(self.snap, "postings"))
                if tbl is None or "segment" not in tbl.column_names:
                    raise ValueError("postings read missing columns")
                seg = tbl.column("segment").to_numpy(
                    zero_copy_only=False).astype(np.int64, copy=False)
                tid = tbl.column("term_id").to_numpy(
                    zero_copy_only=False).astype(np.int64, copy=False)
                fd = tbl.column("first_doc").to_numpy(
                    zero_copy_only=False).astype(np.int64, copy=False)
                order = np.lexsort((fd, seg, tid))
                pdf = tbl.take(pa.array(order)).to_pandas()
            except Exception:
                pdf = self._postings_full.toPandas()
                seg = pdf["segment"].to_numpy(np.int64)
                tid = pdf["term_id"].to_numpy(np.int64)
                fd = pdf["first_doc"].to_numpy(np.int64)
                order = np.lexsort((fd, seg, tid))
                pdf = pdf.iloc[order].reset_index(drop=True)
            tid_s, seg_s = tid[order], seg[order]
            n = len(pdf)
            change = (np.flatnonzero((np.diff(tid_s) != 0)
                                     | (np.diff(seg_s) != 0)) + 1
                      if n else np.zeros(0, dtype=np.int64))
            starts = np.concatenate(([0], change)) if n else change
            ends = np.concatenate((change, [n])) if n else change
            # fully vectorized index structures (the per-run Python
            # loop this replaces was 0.86 s at 457k runs):
            run_tids = tid_s[starts] if n else np.zeros(0, dtype=np.int64)
            run_segs = seg_s[starts] if n else np.zeros(0, dtype=np.int64)
            # runs are tid-major, so each term's runs are contiguous
            u_tids, first_run = np.unique(run_tids, return_index=True)
            last_run = (np.concatenate((first_run[1:], [len(run_tids)])) - 1
                        if len(u_tids) else first_run)
            tid_span: dict[int, tuple[int, int]] = dict(zip(
                u_tids.tolist(),
                zip(starts[first_run].tolist(), ends[last_run].tolist())))
            tid_segs: dict[int, list[int]] = dict(zip(
                u_tids.tolist(),
                (a.tolist() for a in np.split(run_segs, first_run[1:]))))
            # per-segment tid-sorted run arrays for _SegGroups
            run_order = np.lexsort((run_tids, run_segs))
            rs = run_segs[run_order]
            seg_change = (np.flatnonzero(np.diff(rs) != 0) + 1
                          if len(rs) else np.zeros(0, dtype=np.int64))
            seg_bounds = np.concatenate(([0], seg_change, [len(rs)]))
            seg_slices: dict[int, tuple] = {}
            for i in range(len(seg_bounds) - 1):
                a, b = int(seg_bounds[i]), int(seg_bounds[i + 1])
                if a == b:
                    continue
                idx = run_order[a:b]
                seg_slices[int(rs[a])] = (run_tids[idx], starts[idx],
                                          ends[idx])
            self._postings_pd_cache = (pdf, seg_slices, tid_span, tid_segs)
            self._decode_shared: dict[int, dict] = {}
        return self._postings_pd_cache

    def _blocks_for_tids(self, tids: list[int]) -> pd.DataFrame | None:
        """Term-filtered block rows from the driver cache (zero Spark
        jobs), or None when the cache is gated off."""
        cached = self._postings_driver()
        if cached is None:
            return None
        pdf, _seg_slices, tid_span, _tid_segs = cached
        parts = [pdf.iloc[tid_span[t][0]:tid_span[t][1]]
                 for t in tids if t in tid_span]
        if not parts:
            return pdf.iloc[:0]
        return parts[0] if len(parts) == 1 else pd.concat(parts)

    def _score_cached(self, plans: list, tids: list[int], rows: list,
                      qids: list) -> None:
        """``_score_segment`` over every cached segment holding one of
        ``tids``, with the reader's per-segment decode cache shared
        across calls."""
        pdf_all, seg_slices, _tid_span, tid_segs = self._postings_driver()
        dmap = self._deleted_bc.value if self._deleted_bc is not None else {}
        for g in sorted({s for t in tids for s in tid_segs.get(t, ())}):
            _score_segment(plans, _SegGroups(pdf_all, seg_slices[g]),
                           self._decode_shared.setdefault(g, {}),
                           dmap.get(g), rows, qids)

    def _blocks(self, tids: list[int], phrase: bool) -> DataFrame:
        """Term-filtered block rows (pushed term_id IN scan). The
        positions stream — the largest column, pruned out of the hot
        cache — is read only for phrase verification."""
        if phrase:
            self._require_positions()
        src = self._postings_full if phrase else self._postings
        return src.where(F.col("term_id").isin(tids))

    def _segment_outputs_driver(self, plan: dict) -> pd.DataFrame:
        """Score a page-scale query on the driver: from the in-driver
        block cache when the index is under the gate (``cache``: zero
        Spark jobs, decode shared across queries), else from one
        pushed term_id IN scan (``scan``) — the SAME per-segment
        scorer either way."""
        if not _runnable(plan):
            return _empty_out()
        rows: list = []
        if self._postings_driver() is not None:
            if plan["mode"] == "phrase":
                self._require_positions()
            self._score_cached([(0, plan)], _plan_tids(plan), rows, [])
            return _out_frame(rows)
        pdf = self._blocks(_plan_tids(plan), plan["mode"] == "phrase").toPandas()
        for _, g in pdf.groupby("segment"):
            rows.extend(_segment_rows(g, plan, self._deleted_bc))
        return _out_frame(rows)

    def _require_positions(self) -> None:
        """Plan-time guard: a phrase/section query against an index
        built with store_positions=False must fail on the DRIVER with
        the real reason, not as a pandas KeyError inside an executor."""
        if ("pos_bytes" not in self._postings_full.columns
                or not self.snap.stats.get("store_positions", True)):
            raise ValueError(
                "index built with store_positions=False cannot serve "
                "phrase queries (no positions stream)")

    def _segment_outputs(self, plan: dict) -> DataFrame:
        if not _runnable(plan):
            return self.spark.createDataFrame([], OUT_SCHEMA)
        blocks = self._blocks(_plan_tids(plan), plan["mode"] == "phrase")
        deleted_bc = self._deleted_bc
        return blocks.groupBy("segment").applyInPandas(
            lambda pdf: _out_frame(_segment_rows(pdf, plan, deleted_bc)),
            schema=OUT_SCHEMA,
        )

    # ----------------------------------------------- MatchAll / selection-only

    _ORD_COL = {"lang": "lang_ord", "ts_bucket": "ts_ord"}

    def _matchall_search(self, req: SearchRequest) -> SearchResult:
        """Selection-only search (query=None ≙ MatchAllDocsQuery
        AND-wrapped with the filters, api/MultiBoboBrowser.java:81-92).

        Hits = forward-table scan + selection predicates (Catalyst
        pushes them into the parquet scan), constant score 1.0, docID
        order; facet counts are ordinal groupBys with the multi-select
        leave-one-out; with no selections at all the facet path serves
        the zero-scan collectAll counts and num_hits = n_docs from
        snapshot stats (zero Spark jobs)."""
        sel_lang, sel_ts = self._resolve_selections(req)
        preds = {}
        if sel_lang is not None:
            preds["lang"] = F.col("lang_ord").isin([int(x) for x in sel_lang])
        if sel_ts is not None:
            preds["ts_bucket"] = F.col("ts_ord").isin([int(x) for x in sel_ts])

        def hitset(pred_fields):
            ps = [preds[f] for f in pred_fields]
            out = self._not_deleted(self._forward)
            for p in ps:
                out = out.where(p)
            return out

        base = hitset(list(preds))
        # num_hits piggybacks on whatever aggregation already counts
        # the full hit set — a dedicated count job only runs when no
        # other job covers it, and then it is FUSED with the page scan
        num_hits = (self.n_docs
                    if not preds and self._deletes_df is None else None)
        facets = {}
        for f in req.facets:
            others = [x for x in preds if x != f] if req.expand_selection \
                else list(preds)
            if not others:
                # no cross-field selections: exactly facet_counts's
                # contract (collectAll zero-scan, or the deletes-aware
                # anti-joined count with the SAME full value universe —
                # fully-deleted values appear with count 0 either way)
                facets[f] = self.facet_counts(f)
                if num_hits is None and not preds:
                    # every doc carries every facet field (build
                    # assigns ordinals unconditionally), so the
                    # anti-joined counts sum to the live-doc total
                    num_hits = int(facets[f]["count"].sum())
                continue
            cnt = (
                hitset(others).groupBy(self._ORD_COL[f]).count().toPandas()
                .rename(columns={self._ORD_COL[f]: "ordinal"})
            )
            if num_hits is None and set(others) == set(preds):
                # this facet's filter set IS the full selection set —
                # its raw ordinal counts (pre dictionary merge, so
                # nothing is dropped) sum to num_hits
                num_hits = int(cnt["count"].sum())
            d = self.dicts[f][["ordinal", "value"]]
            part = cnt.merge(d, on="ordinal")
            part = part.sort_values(["count", "value"], ascending=[False, True])
            facets[f] = part[["value", "count"]].reset_index(drop=True)
        need = req.offset + req.k
        if num_hits is None:
            # ONE scan for page + count: per-partition partials keep a
            # bounded (≤ need ids) running minimum plus a row count —
            # distributed top-k with a count riding along, never a
            # second evaluation of the hit set
            def page_count_partial(batches):
                cnt = 0
                best = np.empty(0, dtype=np.int64)
                for pdf in batches:
                    cnt += len(pdf)
                    if not len(pdf) or need == 0:
                        continue  # count-only: never accumulate ids
                    best = np.concatenate(
                        [best, pdf["doc_id"].to_numpy(np.int64)])
                    if best.size > need:
                        best = np.partition(best, need - 1)[:need]
                yield pd.DataFrame({"cnt": [cnt],
                                    "ids": [np.sort(best)[:need].tolist()]})

            parts = base.select("doc_id").mapInPandas(
                page_count_partial,
                schema="cnt long, ids array<long>").toPandas()
            num_hits = int(parts["cnt"].sum()) if len(parts) else 0
            allids = (np.sort(np.concatenate(
                [np.asarray(x, dtype=np.int64) for x in parts["ids"]]))
                if len(parts) else np.empty(0, dtype=np.int64))
            page_ids = allids[req.offset:need]
        else:
            page = (
                base.orderBy(F.asc("doc_id")).limit(need)
                .select("doc_id").toPandas().iloc[req.offset:]
            )
            page_ids = page["doc_id"].to_numpy(np.int64)
        hits = pd.DataFrame({"doc_id": page_ids, "score": 1.0})
        return SearchResult(hits=hits.reset_index(drop=True),
                            num_hits=int(num_hits), facets=facets)

    def search(self, req: SearchRequest) -> SearchResult:
        """At most one Spark job (none on the ``cache`` path):
        per-segment top-k/facet/stat rows are tiny
        (≤ P·(k + #facet values) rows), so the cross-segment merge runs
        driver-side in pandas — the literal analogue of the reference's
        ListMerger + CombinedFacetAccessible (util/ListMerger.java:104-137,
        facets/CombinedFacetAccessible.java:101-192)."""
        if req.query is None:
            return self._matchall_search(req)
        plan = self.plan(req)
        out = (self._segment_outputs_driver(plan) if self._driver_fastpath(plan)
               else self._segment_outputs(plan).toPandas())
        page = _hit_page(out, req.offset, req.k)
        hits = page[["doc_id", "score"]].reset_index(drop=True)
        num_hits = int(out[out["kind"] == _K_STATS]["count"].sum())
        explanations = None
        if req.explain:
            ex = out[out["kind"] == _K_EXPL]
            ex = ex[ex["doc_id"].isin(hits["doc_id"])]
            explanations = (
                ex[["doc_id", "field", "score"]]
                .rename(columns={"field": "part", "score": "value"})
                .sort_values(["doc_id", "part"], ignore_index=True)
            )
        facets = {}
        if plan["facets"]:
            fc = (
                out[out["kind"] == _K_FACET]
                .groupby(["field", "ordinal"], as_index=False)["count"]
                .sum()
            )
            for f in plan["facets"]:
                d = self.dicts[FACET_FIELDS[f]][["ordinal", "value"]]
                part = fc[fc["field"] == f].merge(d, on="ordinal")
                part = part.sort_values(["count", "value"], ascending=[False, True])
                facets[f] = part[["value", "count"]].reset_index(drop=True)
        return SearchResult(hits=hits, num_hits=num_hits, facets=facets,
                            explanations=explanations)

    # ---------------------------------------------------------- term vectors

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """Per-doc term vectors (term, tf, positions) reconstructed
        from the postings (≙ sort/SortCollectorImpl.java:430-466,
        which fetches Lucene's stored term vectors for the hit page).

        The index is term-major, so reconstruction scans only the
        target docs' SEGMENTS (segment IN pushed to the parquet scan)
        and skips every block whose [first_doc, last_doc] interval
        misses all targets before decoding. Intended for page-sized
        hit sets (≤ offset+k docs), where the per-segment work is one
        pruned pass."""
        ids = sorted(set(int(d) for d in doc_ids))
        segs = [r["segment"] for r in
                self._forward.where(F.col("doc_id").isin(ids))
                .select("segment").distinct().collect()]
        if not segs:
            return self.spark.createDataFrame(
                [], "doc_id long, term string, tf long, positions string")
        has_pos = ("pos_bytes" in self._postings_full.columns
                   and self.snap.stats.get("store_positions", True))
        src = self._postings_full if has_pos else self._postings
        blocks = src.where(F.col("segment").isin(segs))
        ids_arr = np.array(ids, dtype=np.int64)

        def tv(pdf: pd.DataFrame) -> pd.DataFrame:
            out = []
            for tid, g in pdf.groupby("term_id"):
                g = g.sort_values("first_doc")
                f = g["first_doc"].to_numpy(np.int64)
                l = g["last_doc"].to_numpy(np.int64)
                idx = np.searchsorted(ids_arr, f)
                keep = (idx < ids_arr.size) & \
                       (ids_arr[np.minimum(idx, ids_arr.size - 1)] <= l)
                g = g[keep]
                if not len(g):
                    continue
                docs, tf, _dl, _lang, _ts = _decode_term_blocks(g)
                # facet sentinel terms carry no positions even in a
                # positional index — they are dropped by the term-name
                # filter below, so just skip their decode
                # emptiness probe must not concatenate the payload:
                # short-circuiting any()
                g_pos = has_pos and any(len(x) for x in g["pos_bytes"])
                pos = _decode_positions(g, tf) if g_pos else None
                starts = np.cumsum(tf, dtype=np.int64) - tf
                sel = np.flatnonzero(np.isin(docs, ids_arr))
                for i in sel:
                    ps = ("," .join(map(str, pos[starts[i]:starts[i] + tf[i]]))
                          if pos is not None else "")
                    out.append((int(docs[i]), int(tid), int(tf[i]), ps))
            return pd.DataFrame(
                out, columns=["doc_id", "term_id", "tf", "positions"])

        cached = self._postings_driver()
        if cached is not None and self._terms_pd is not None:
            # in-driver path: same tv() reconstruction over the cached
            # blocks of the target segments, sentinel filter via the
            # driver term dictionary — one Spark job (the segs lookup)
            # instead of three
            pdf_all = cached[0]
            sub = pdf_all[pdf_all["segment"].isin(segs)]
            outs = [tv(g) for _, g in sub.groupby("segment")]
            vec_pd = (pd.concat(outs, ignore_index=True) if outs
                      else pd.DataFrame(columns=["doc_id", "term_id", "tf",
                                                 "positions"]))
            merged = vec_pd.merge(
                self._terms_pd[["term_id", "term"]], on="term_id")
            merged = merged[~merged["term"].str.startswith("\x00")]
            out_pd = merged[["doc_id", "term", "tf", "positions"]].astype(
                {"doc_id": "int64", "tf": "int64"})
            return self.spark.createDataFrame(
                out_pd, schema="doc_id long, term string, tf long, "
                               "positions string")
        vecs = blocks.groupBy("segment").applyInPandas(
            tv, schema="doc_id long, term_id long, tf long, positions string")
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
        if self._terms_pd is not None:
            found = self._terms_pd[self._terms_pd["term"].isin(words)]
        else:
            found = (self._terms.where(F.col("term").isin(words))
                     .select("term", "term_id", "df").toPandas())
        word_tid = dict.fromkeys(words, -1)
        word_tid.update(zip(found["term"], found["term_id"].astype(int)))
        return {"tree": tree, "word_tid": word_tid, "sections": tuple(sec_cfg),
                "k": k, "offset": offset, "boost": float(boost),
                "total_df": int(found["df"].sum())}

    def _sections_table(self) -> DataFrame:
        if getattr(self, "_sections_df", None) is None:
            self._sections_df = self.spark.read.parquet(
                *self.catalog.table_paths(self.snap, "sections"))
        return self._sections_df

    def _section_outputs(self, plan: dict) -> DataFrame:
        from .sections import segment_section_search

        tids = [t for t in plan["word_tid"].values() if t >= 0]
        if not tids:
            return self.spark.createDataFrame([], OUT_SCHEMA)
        blocks = self._blocks(tids, True)
        deleted_bc = self._deleted_bc
        if plan["sections"][0] == "regex":
            # per-doc boundary arrays ride along via cogroup on segment
            return blocks.groupBy("segment").cogroup(
                self._sections_table().groupBy("segment")
            ).applyInPandas(
                lambda left, right: segment_section_search(
                    left, plan, right, deleted_bc),
                schema=OUT_SCHEMA,
            )
        return blocks.groupBy("segment").applyInPandas(
            lambda pdf: segment_section_search(pdf, plan, None, deleted_bc),
            schema=OUT_SCHEMA
        )

    def _section_outputs_pd(self, plan: dict) -> pd.DataFrame:
        """Section outputs as pandas — driver fast path for page-scale
        WINDOW-mode queries (geometry is metadata-only, so only the
        term-filtered blocks move; regex mode needs the per-segment
        boundary cogroup and stays distributed)."""
        from .sections import segment_section_search

        if (plan["sections"][0] == "window"
                and plan["total_df"] <= self.DRIVER_POSTINGS_THRESHOLD):
            tids = [t for t in plan["word_tid"].values() if t >= 0]
            if not tids:
                return _empty_out()
            pdf = self._blocks_for_tids(tids)
            if pdf is None:
                pdf = self._blocks(tids, True).toPandas()
            outs = [segment_section_search(g, plan, None, self._deleted_bc)
                    for _, g in pdf.groupby("segment")]
            return (pd.concat(outs, ignore_index=True) if outs
                    else _empty_out())
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
        if (plan["sections"][0] == "window"
                and plan["total_df"] <= self.DRIVER_POSTINGS_THRESHOLD
                and self._postings_driver() is not None):
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
        """Batch execution: the whole query set runs as ONE Spark job
        (none when the in-driver block cache serves it).

        Per-segment tasks score every query against their segment
        (results identical to search() — same code path per query);
        per-query driver/scheduling overhead amortizes to zero, so
        batch retrieval throughput scales with executors. This is the
        bulk-evaluation pattern (training-data mining, offline query
        sets); use search() for single-query latency.

        MatchAll requests (query=None) run on the forward-scan path
        individually — they never touch the postings job."""
        matchall = {i for i, r in enumerate(reqs) if r.query is None}
        if matchall:
            rest = [r for i, r in enumerate(reqs) if i not in matchall]
            rest_results = iter(self.search_many(rest) if rest else [])
            return [self._matchall_search(r) if i in matchall
                    else next(rest_results) for i, r in enumerate(reqs)]
        # batch mode trades per-query block-max pruning / conjunctive
        # block skip for CROSS-QUERY decode sharing (each term decodes
        # once per segment no matter how many queries reference it) —
        # results are identical either way since pruning is exact
        # (property-tested); only the work-skipping strategy differs
        plans = [self.plan(r) for r in reqs]
        runnable = [(i, p) for i, p in enumerate(plans) if _runnable(p)]
        tids = sorted({t for _, p in runnable for t in _plan_tids(p)})
        phrase = any(p["mode"] == "phrase" for _, p in runnable)
        if phrase:
            self._require_positions()
        if not runnable:
            out = _out_frame([], [])
        elif self._postings_driver() is None:
            out = self._search_many_distributed(runnable, tids, phrase)
        else:
            # whole batch from the in-driver block cache: zero Spark
            # jobs, same _score_segment loop the distributed tasks run.
            # Web-scale indexes exceed the cache gate and keep the
            # distributed batch.
            rows: list = []
            qids: list = []
            self._score_cached(runnable, tids, rows, qids)
            out = _out_frame(rows, qids)
        return self._merge_batch_results(reqs, plans, out)

    def _search_many_distributed(self, runnable: list, tids: list[int],
                                 phrase: bool) -> pd.DataFrame:
        """The batch as ONE Spark job: each segment task runs
        ``_score_segment`` over every runnable plan."""
        deleted_bc = self._deleted_bc
        # exact per-batch stream needs: skip an ordinal stream's
        # decode (1/5 of the memory-bound bytes) when NO plan in
        # the batch reads it — lang feeds the lang facet and
        # ords-mode lang selections; ts additionally feeds recency
        need_lang = any(
            "lang" in p["facets"]
            or (p["sel_lang"] is not None
                and p.get("sel_lang_mode") != "postings")
            for _, p in runnable)
        need_ts = any(
            "ts_bucket" in p["facets"] or p.get("recency")
            or (p["sel_ts"] is not None
                and p.get("sel_ts_mode") != "postings")
            for _, p in runnable)

        def run_segment(pdf: pd.DataFrame) -> pd.DataFrame:
            # one sort + one bulk decode per task (the measured
            # per-task profile was ~40% repeated decode + ~30%
            # per-query regrouping); output tuples accumulate across
            # queries into ONE frame per task (per-query frame
            # construction was ~25% of the loop)
            shared, groups_all = _batch_group_decode(
                pdf, need_lang=need_lang, need_ts=need_ts)
            rows: list = []
            qids: list = []
            _score_segment(runnable, groups_all, shared,
                           _segment_deleted(deleted_bc, pdf), rows, qids)
            return _out_frame(rows, qids)

        blocks = self._blocks(tids, phrase)
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
        grouped = blocks.repartition(npart, "segment").groupBy(
            "segment").applyInPandas(run_segment,
                                     schema=OUT_SCHEMA + ", qid int")
        # AQE's shuffle materialization splits this into two jobs
        # with a barrier between scan and Python stage — a fixed
        # ~0.6 s that caps batch scaling (it is a larger fraction
        # of the fast leg). The exchange width is already pinned
        # by the explicit repartition, so adaptivity buys nothing
        # here: run the batch action non-adaptive, restore after.
        # The flip is session-level conf, so it is serialized
        # under a module lock: without it, two concurrent
        # search_many calls could each capture the other's
        # in-flight "false" and leave AQE permanently disabled.
        # (Unrelated queries planned by OTHER threads during the
        # window still see AQE off — inherent to session conf;
        # batch retrieval is a single-driver bulk pattern.)
        conf = self.spark.conf
        with _AQE_LOCK:
            prev_aqe = conf.get("spark.sql.adaptive.enabled", "true")
            try:
                conf.set("spark.sql.adaptive.enabled", "false")
                return grouped.toPandas()
            finally:
                conf.set("spark.sql.adaptive.enabled", prev_aqe)

    def _merge_batch_results(self, reqs: list[SearchRequest], plans: list,
                             out: pd.DataFrame) -> list:
        """Assemble per-query SearchResults from the batch output
        frame — shared by the distributed batch and the driver-cache
        batch path (identical input shape, identical results)."""
        results: list[SearchResult | None] = [None] * len(reqs)
        # ---- driver merge, VECTORIZED by qid: every per-query
        # quantity comes from ONE grouped pass over the collected
        # frame (the per-query boolean-mask loop this replaces scanned
        # the whole frame once per query per output kind — measured as
        # the driver-side serial tax capping batch scaling)
        kinds = out["kind"].to_numpy() if len(out) else np.zeros(0)
        # per-query page: one global (qid, -score, doc_id) sort, then
        # a rank-window mask with per-row offset/k lookups
        hits_all = out[kinds == _K_HIT] if len(out) else out
        empty_hits = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                   "score": pd.Series([], dtype="float64")})
        pages: dict[int, pd.DataFrame] = {}
        page_pairs = None
        if len(hits_all):
            order = np.lexsort((hits_all["doc_id"].to_numpy(),
                                -hits_all["score"].to_numpy(),
                                hits_all["qid"].to_numpy()))
            h = hits_all.iloc[order]
            rank = h.groupby("qid").cumcount().to_numpy()
            off_by_q = np.array([r.offset for r in reqs], dtype=np.int64)
            k_by_q = np.array([r.k for r in reqs], dtype=np.int64)
            qv = h["qid"].to_numpy(np.int64)
            mask = (rank >= off_by_q[qv]) & (rank < off_by_q[qv] + k_by_q[qv])
            page_all = h[mask]
            pages = {int(q): g[["doc_id", "score"]].reset_index(drop=True)
                     for q, g in page_all.groupby("qid")}
            page_pairs = page_all[["qid", "doc_id"]]
        nh = (out[kinds == _K_STATS].groupby("qid")["count"].sum().to_dict()
              if len(out) else {})
        # facets: one (qid, field, ordinal) aggregation, one dictionary
        # merge PER FIELD (not per query), then split
        fc_by_field: dict[str, dict[int, pd.DataFrame]] = {}
        want_fields = {f for p in plans for f in p["facets"]}
        if want_fields and len(out):
            fc_all = (out[kinds == _K_FACET]
                      .groupby(["qid", "field", "ordinal"],
                               as_index=False)["count"].sum())
            for f in want_fields:
                d = self.dicts[FACET_FIELDS[f]][["ordinal", "value"]]
                part = fc_all[fc_all["field"] == f].merge(d, on="ordinal")
                part = part.sort_values(["qid", "count", "value"],
                                        ascending=[True, False, True])
                fc_by_field[f] = {int(q): g for q, g in part.groupby("qid")}
        # an absent facet has search()'s shape: dictionary value dtype,
        # int64 counts
        empty_facet = {f: pd.DataFrame({
            "value": self.dicts[FACET_FIELDS[f]]["value"].iloc[:0],
            "count": pd.Series([], dtype="int64")}).reset_index(drop=True)
            for f in want_fields}
        # explanations: restrict to page docs with ONE (qid, doc_id)
        # merge instead of per-query isin scans
        ex_by_qid: dict[int, pd.DataFrame] = {}
        if any(r.explain for r in reqs) and len(out):
            ex_all = out[kinds == _K_EXPL]
            if page_pairs is not None and len(ex_all):
                exm = ex_all.merge(page_pairs, on=["qid", "doc_id"])
                ex_by_qid = {int(q): g for q, g in exm.groupby("qid")}
        empty_expl = (pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                    "part": pd.Series([], dtype="object"),
                                    "value": pd.Series([], dtype="float64")}))
        for i, (req, plan) in enumerate(zip(reqs, plans)):
            hits = pages.get(i, empty_hits)
            facets = {}
            for f in plan["facets"]:
                part = fc_by_field.get(f, {}).get(i)
                facets[f] = (part[["value", "count"]].reset_index(drop=True)
                             if part is not None else empty_facet[f].copy())
            explanations = None
            if req.explain:
                # same contract as search(): an empty result still
                # yields an empty (doc_id, part, value) frame
                ex = ex_by_qid.get(i)
                explanations = (
                    ex[["doc_id", "field", "score"]]
                    .rename(columns={"field": "part", "score": "value"})
                    .sort_values(["doc_id", "part"], ignore_index=True)
                    if ex is not None else empty_expl.copy()
                )
            results[i] = SearchResult(hits=hits, num_hits=int(nh.get(i, 0)),
                                      facets=facets,
                                      explanations=explanations)
        return results

    def search_df(self, req: SearchRequest, with_url: bool = False) -> DataFrame:
        """Spark-DataFrame result (doc_id, score[, url]) for pipelines."""
        from pyspark.sql.window import Window

        if req.query is None:  # MatchAll: forward scan, constant score
            sel_lang, sel_ts = self._resolve_selections(req)
            hits = self._not_deleted(self._forward)
            if sel_lang is not None:
                hits = hits.where(F.col("lang_ord").isin([int(x) for x in sel_lang]))
            if sel_ts is not None:
                hits = hits.where(F.col("ts_ord").isin([int(x) for x in sel_ts]))
            hits = (
                hits.orderBy(F.asc("doc_id")).limit(req.offset + req.k)
                .select("doc_id", F.lit(1.0).alias("score"))
            )
            page_order = Window.orderBy(F.asc("doc_id"))
        else:
            plan = self.plan(req)
            if (self._driver_fastpath(plan)
                    and self._postings_driver() is not None):
                # zero-Spark-job page from the in-driver block cache —
                # identical rows: same scorer, same (score desc,
                # doc_id asc) total order as the distributed limit
                page = _hit_page(self._segment_outputs_driver(plan),
                                 req.offset, req.k)
                hits = self.spark.createDataFrame(
                    page[["doc_id", "score"]].astype(
                        {"doc_id": "int64", "score": "float64"}),
                    schema="doc_id long, score double")
                if with_url:
                    hits = F.broadcast(hits).join(
                        self._forward.select("doc_id", "url"), "doc_id")
                return hits
            out = self._segment_outputs(plan)
            hits = (
                out.where(F.col("kind") == _K_HIT)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(req.offset + req.k)
                .select("doc_id", "score")
            )
            page_order = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        if req.offset:
            # rank window ABOVE the limit (≤ offset+k rows reach it), as
            # in section_search_df — returns rows offset+1..offset+k,
            # matching search()'s page contract
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
