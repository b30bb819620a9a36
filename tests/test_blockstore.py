"""Whole-store scoring over blocks that overlap in doc range.

The driver scores one ``_BlockStore`` in one pass per plan, whatever
segments it holds, so a term's blocks come from several segments and
are doc-ordered only within a block: a merge can re-chunk a segment
whose doc range interleaves another's. Here postings are hand-encoded
with ``build._encode_partition`` so that segment 0 holds docs
{0..3, 60..69} and segment 1 holds docs {40..52}: the rare term
``alpha`` has a segment-0 block [0..63] that spans its segment-1
block [50..52], and ``beta`` has a segment-0 block [60..62] that only
the first alpha block overlaps. AND, OR with pruning, phrase,
explain, facets, selections and window section search over the whole
store must equal a brute-force answer. Pure numpy, no Spark."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from bobo_spark import bm25
from bobo_spark.build import _encode_partition, pack_meta
from bobo_spark.codecs import vb_encode
from bobo_spark.query import _K_HIT, _K_STATS, _BlockStore, _plan_terms, _score_plan
from bobo_spark.sections import segment_section_search

ALPHA = [0, 1, 2, 3, 60, 61, 62, 63, 50, 51, 52]
BETA = [60, 61, 62] + list(range(40, 53))
SEGMENTS = {0: [0, 1, 2, 3] + list(range(60, 70)), 1: list(range(40, 53))}


def _tokens(d: int) -> list[str]:
    toks = ["alpha"] * (1 + d % 2) if d in ALPHA else []
    if d in BETA:
        # doc 51 has "beta alpha", every other doc with both "alpha beta"
        toks = ["beta"] + toks if d == 51 else toks + ["beta"]
    if d % 3 == 0:
        toks.append("gamma")
    return toks + ["pad"] * (1 + d % 5)


DOCS = {d: _tokens(d) for s in SEGMENTS.values() for d in s}
LANG = {d: 1 + d % 3 for d in DOCS}
TS = {d: 1 + d % 4 for d in DOCS}
TERMS = sorted({t for toks in DOCS.values() for t in toks})
TID = {t: i for i, t in enumerate(TERMS)}
DF = {t: sum(t in toks for toks in DOCS.values()) for t in TERMS}
N_DOCS = len(DOCS)
AVGDL = sum(len(t) for t in DOCS.values()) / N_DOCS
DELETED = np.array([2, 51, 61], dtype=np.int64)


def _store() -> _BlockStore:
    rows = []
    for seg, docs in SEGMENTS.items():
        for d in docs:
            for t in set(DOCS[d]):
                pos = [p for p, x in enumerate(DOCS[d]) if x == t]
                rows.append((seg, TID[t], d, len(pos), len(DOCS[d]),
                             vb_encode(np.diff(pos, prepend=0))))
    rows.sort()
    col = [np.array(c, dtype=np.int64) for c in list(zip(*rows))[:5]]
    docs = col[2]
    pdf = pd.DataFrame({
        "segment": col[0], "term_id": col[1], "doc_id": docs,
        "packed": pack_meta(col[3], col[4],
                            np.array([LANG[d] for d in docs], dtype=np.int64),
                            np.array([TS[d] for d in docs], dtype=np.int64)),
        "pos_bytes": [r[5] for r in rows]})
    blocks = pd.concat(_encode_partition(iter([pdf]), 8), ignore_index=True)
    return _BlockStore(pa.Table.from_pandas(blocks, preserve_index=False))


@pytest.fixture
def store():
    return _store()


def test_blocks_overlap_across_segments(store):
    b = store.blocks(TID["alpha"])
    assert store.first[b].tolist() == [0, 50]
    assert store.last[b].tolist() == [63, 52]
    b = store.blocks(TID["beta"])
    assert [(int(f), int(l)) for f, l in zip(store.first[b], store.last[b])] \
        == [(40, 47), (48, 52), (60, 62)]


def _plan(query: str, mode: str, k: int = 10, facets=(), sel_lang=None,
          prune: bool = True, explain: bool = False) -> dict:
    toks = query.split()
    found = {t: (TID[t], DF[t]) for t in toks if t in TID}
    terms = _plan_terms(found, toks, N_DOCS)
    plan = {"terms": terms, "mode": mode, "k": k, "offset": 0,
            "avgdl": AVGDL, "facets": list(facets), "sel_lang": sel_lang,
            "sel_ts": None, "sel_lang_mode": None if sel_lang is None else "ords",
            "sel_ts_mode": None, "sel_lang_tids": [], "sel_ts_tids": [],
            "expand_selection": True, "prune": prune,
            "phrase_ids": [], "phrase_idf_sum": 0.0, "recency": None,
            "explain": explain}
    if mode == "phrase":
        by_term = {t["term"]: t for t in terms}
        plan["phrase_ids"] = [TID[t] for t in toks]
        for t in toks:
            plan["phrase_idf_sum"] += by_term[t]["idf"]
    return plan


def _contrib(tf, dl, idf) -> float:
    return float(bm25.contrib(np.array([tf]), np.array([dl]), idf, AVGDL)[0])


def _phrase_freq(toks: list[str], words: list[str]) -> int:
    n = len(words)
    return sum(toks[p:p + n] == words for p in range(len(toks) - n + 1))


def _brute(plan: dict, deleted) -> tuple:
    """(page [(doc, score)], n_hits, facet counts, {doc: {term: value}})."""
    terms = plan["terms"]
    words = [t["term"] for t in terms]
    live = [d for d in sorted(DOCS) if deleted is None or d not in deleted]
    scores, parts = {}, {}
    for d in live:
        tf = Counter(DOCS[d])
        dl = len(DOCS[d])
        if plan["mode"] == "phrase":
            ptf = _phrase_freq(DOCS[d], [TERMS[i] for i in plan["phrase_ids"]])
            if ptf:
                scores[d] = _contrib(ptf, dl, plan["phrase_idf_sum"])
            continue
        has = [w for w in words if tf[w]]
        if not has or (plan["mode"] == "and" and len(has) < len(words)):
            continue
        s, parts[d] = 0.0, {}
        for t in terms:  # ascending lexicographic
            if tf[t["term"]]:
                c = _contrib(tf[t["term"]], dl, t["idf"])
                parts[d][t["term"]] = c
                s += c
        scores[d] = s
    sel = plan["sel_lang"]
    hits = [d for d in scores if sel is None or LANG[d] in sel]
    facets = {"lang": Counter(LANG[d] for d in scores),
              "ts_bucket": Counter(TS[d] for d in hits)}
    page = sorted(hits, key=lambda d: (-scores[d], d))[:plan["k"]]
    return [(d, scores[d]) for d in page], len(hits), facets, parts


def _check(store, plan: dict, deleted) -> None:
    page, n_hits, facets, parts = _brute(plan, deleted)
    out = _score_plan(plan, store, deleted)
    if out is None:
        assert not page and not n_hits, plan
        return
    assert list(zip(out.docs.tolist(), out.scores.tolist())) == page, plan
    assert out.n_hits == n_hits, plan
    for f in plan["facets"]:
        got = {o: int(c) for o, c in enumerate(out.facets[f]) if c}
        assert got == dict(facets[f]), (plan, f)
    if plan["explain"]:
        d, p, v = out.expl
        got = sorted(zip(d.tolist(), p.tolist(), v.tolist()))
        want = sorted((doc, t, c) for doc, _ in page
                      for t, c in parts[doc].items())
        assert got == want, plan


CASES = [
    ("alpha beta", "and", {}),
    ("alpha", "and", {}),
    ("beta gamma", "and", {}),
    ("alpha beta gamma", "or", {"k": 3}),
    ("alpha beta pad", "or", {"k": 2}),
    ("alpha beta", "or", {"k": 4, "prune": False}),
    ("alpha beta", "and", {"explain": True}),
    ("alpha gamma pad", "or", {"k": 3, "explain": True}),
    ("alpha beta", "and", {"facets": ("lang", "ts_bucket")}),
    ("alpha beta", "or", {"facets": ("lang", "ts_bucket"), "sel_lang": [1, 2]}),
]


@pytest.mark.parametrize("deleted", [None, DELETED], ids=["live", "deletes"])
def test_keyword_plans_equal_brute_force(store, deleted):
    for query, mode, kw in CASES:
        _check(store, _plan(query, mode, **kw), deleted)


@pytest.mark.parametrize("deleted", [None, DELETED], ids=["live", "deletes"])
def test_phrase_equals_brute_force(store, deleted):
    for query in ("alpha beta", "alpha alpha beta", "beta alpha", "alpha"):
        _check(store, _plan(query, "phrase"), deleted)


def _sections(toks: list[str], w: int, tree) -> set:
    """Sections of one doc satisfying ``tree`` (window mode)."""
    op = tree[0]
    if op == "term":
        return {p // w for p, t in enumerate(toks) if t == tree[1]}
    if op == "phrase":
        words = tree[1].split()
        return {p // w for p in range(len(toks) - len(words) + 1)
                if toks[p:p + len(words)] == words
                and (p + len(words) - 1) // w == p // w}
    if op == "not":
        return set()
    if op == "and":
        pos = [c for c in tree[1:] if c[0] != "not"]
        out = set.intersection(*[_sections(toks, w, c) for c in pos])
        for c in tree[1:]:
            if c[0] == "not":
                out -= _sections(toks, w, c[1])
        return out
    if op == "or":
        return set.union(*[_sections(toks, w, c) for c in tree[1:]])
    out = _sections(toks, w, tree[1])  # andnot
    for c in tree[2:]:
        out -= _sections(toks, w, c)
    return out


@pytest.mark.parametrize("deleted", [None, DELETED], ids=["live", "deletes"])
def test_window_sections_equal_brute_force(store, deleted):
    trees = [("phrase", "alpha beta"),
             ("and", ("term", "alpha"), ("term", "beta")),
             ("and", ("term", "beta"), ("not", ("term", "alpha"))),
             ("or", ("term", "gamma"), ("phrase", "beta alpha")),
             ("andnot", ("term", "pad"), ("term", "alpha"))]
    for w in (2, 3):
        for tree in trees:
            plan = {"tree": tree, "word_tid": {t: TID[t] for t in TERMS},
                    "sections": ("window", w), "k": 100, "offset": 0, "boost": 1.0}
            out = segment_section_search(store, deleted, plan, None)
            want = {d: len(s) for d, toks in DOCS.items()
                    if (deleted is None or d not in deleted)
                    and (s := _sections(toks, w, tree))}
            hits = out[out["kind"] == _K_HIT]
            got = dict(zip(hits["doc_id"].tolist(), hits["count"].tolist()))
            assert got == want, (w, tree)
            assert int(out[out["kind"] == _K_STATS]["count"].sum()) == len(want)
