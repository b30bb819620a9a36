"""Output checks, run outside the timed window.

Each check returns a list of error strings (empty = correct). The
reference is the repo's pure-Python ``oracle.OracleIndex`` (BM25 with
the pinned float64 accumulation order), a brute-force token scan for
phrases, the recency formula applied to oracle scores, and direct
pandas group-bys for facet and browse counts.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from bobo_spark.bm25 import B, K1
from bobo_spark.oracle import OracleIndex
from bobo_spark.tokenizer import tokenize

REL = 1e-12  # float64 score tolerance (same accumulation order => exact in practice)


class Reference:
    """Oracle over one corpus frame (doc_id, text, lang, ts_bucket)."""

    def __init__(self, pdf: pd.DataFrame):
        self.pdf = pdf
        self.oracle = OracleIndex(
            {"doc_id": int(d), "text": t, "lang": l, "ts_bucket": b}
            for d, t, l, b in zip(pdf["doc_id"], pdf["text"], pdf["lang"],
                                  pdf["ts_bucket"]))
        self._toks = None

    def toks(self) -> dict:
        if self._toks is None:
            self._toks = {int(d): tokenize(t) for d, t in zip(self.pdf["doc_id"],
                                                              self.pdf["text"])}
        return self._toks


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=REL, abs_tol=1e-300)


def _facets_of(res) -> dict:
    return {f: {str(v): int(c) for v, c in zip(d["value"], d["count"]) if int(c) > 0}
            for f, d in res.facets.items()}


def _cmp_hits(tag, got, want) -> list[str]:
    """got/want: lists of (doc_id, score)."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return [f"{tag}: ids {[d for d, _ in got]} != {[d for d, _ in want]}"]
    bad = [(d, s, w) for (d, s), (_, w) in zip(got, want) if not _close(s, w)]
    return [f"{tag}: scores differ {bad[:3]}"] if bad else []


def _hits(res) -> list:
    return list(zip(res.hits["doc_id"].astype(int).tolist(),
                    res.hits["score"].astype(float).tolist()))


def _ranked_all(ref: Reference, req, exclude=frozenset()) -> tuple[list, int, dict]:
    """Oracle ranking of the whole hit set (tombstoned ids removed)."""
    o = ref.oracle.search(req.query, mode=req.mode, k=ref.oracle.n_docs + 1,
                          facets=tuple(req.facets), selections=req.selections,
                          ts_range=req.ts_range, expand_selection=req.expand_selection)
    hits = [(d, s) for d, s in o["hits"] if d not in exclude]
    return hits, len(hits), o["facets"]


def check_search(ref: Reference, req, res, deleted=frozenset()) -> list[str]:
    tag = f"search({req.mode} {req.query!r})"
    if req.query is None:
        return check_matchall(ref, req, res, deleted)
    if req.mode == "phrase":
        return _check_phrase(ref, req, res, tag)
    if req.recency:
        return _check_recency(ref, req, res, tag)
    errs = []
    if deleted:
        ranked, n, _ = _ranked_all(ref, req, deleted)
        want = ranked[req.offset:req.offset + req.k]
        if res.num_hits != n:
            errs.append(f"{tag}: num_hits {res.num_hits} != {n}")
    else:
        o = ref.oracle.search(req.query, mode=req.mode, k=req.k, offset=req.offset,
                              facets=tuple(req.facets), selections=req.selections,
                              ts_range=req.ts_range,
                              expand_selection=req.expand_selection)
        want = o["hits"]
        if res.num_hits != o["num_hits"]:
            errs.append(f"{tag}: num_hits {res.num_hits} != {o['num_hits']}")
        got_f = _facets_of(res)
        for f in req.facets:
            if got_f.get(f, {}) != o["facets"].get(f, {}):
                errs.append(f"{tag}: facet {f} counts differ")
    errs += _cmp_hits(tag, _hits(res), want)
    if req.explain:
        ex = res.explanations
        for d, s in _hits(res):
            parts = ex[ex["doc_id"] == d]["value"].astype(float)
            if not math.isclose(float(parts.sum()), s, rel_tol=1e-9):
                errs.append(f"{tag}: explanation of {d} sums to {parts.sum()} != {s}")
    return errs


def _check_phrase(ref: Reference, req, res, tag) -> list[str]:
    terms = tokenize(req.query)
    toks = ref.toks()
    o = ref.oracle
    idf_sum = sum(o.idf(t) for t in terms)
    scored = []
    for d, tk in toks.items():
        ptf = sum(1 for i in range(len(tk) - len(terms) + 1) if tk[i:i + len(terms)] == terms)
        if ptf:
            s = idf_sum * (ptf * (K1 + 1)) / (ptf + K1 * (1 - B + B * len(tk) / o.avgdl))
            scored.append((d, s))
    scored.sort(key=lambda x: (-x[1], x[0]))
    errs = [] if res.num_hits == len(scored) else [
        f"{tag}: num_hits {res.num_hits} != {len(scored)}"]
    return errs + _cmp_hits(tag, _hits(res), scored[req.offset:req.offset + req.k])


def _check_recency(ref: Reference, req, res, tag) -> list[str]:
    rec = req.recency
    mx = rec["max_factor"] + 1.0
    cutoff = float(rec["cutoff_ms"])
    bucket_ms = {int(d): pd.Timestamp(b, tz="UTC").value // 1_000_000
                 for d, b in zip(ref.pdf["doc_id"], ref.pdf["ts_bucket"])}

    def factor(d):
        x = float(rec["now_ms"] - bucket_ms[d])
        return 1.0 if x > cutoff else (1.0 - mx) / (cutoff ** 2) * x * x + mx

    ranked, n, _ = _ranked_all(ref, req)
    want = sorted(((d, s * factor(d)) for d, s in ranked), key=lambda x: (-x[1], x[0]))
    want = want[req.offset:req.offset + req.k]
    errs = [] if res.num_hits == n else [f"{tag}: num_hits {res.num_hits} != {n}"]
    got = _hits(res)
    exp = dict(ranked)
    for d, s in got:
        if d not in exp or not math.isclose(s, exp[d] * factor(d), rel_tol=1e-12):
            errs.append(f"{tag}: boosted score of {d} is {s}")
            break
    if len(got) != len(want) or not all(
            math.isclose(a, b, rel_tol=1e-12) for (_, a), (_, b) in zip(got, want)):
        errs.append(f"{tag}: page scores differ from the boosted oracle ranking")
    return errs


def _selected(ref: Reference, req) -> pd.Series:
    pdf = ref.pdf
    m = pd.Series(True, index=pdf.index)
    if "lang" in req.selections:
        m &= pdf["lang"].isin(req.selections["lang"])
    if req.ts_range is not None:
        lo, hi = req.ts_range
        m &= (pdf["ts_bucket"] >= lo) & (pdf["ts_bucket"] <= hi)
    return m


def check_matchall(ref: Reference, req, res, deleted=frozenset()) -> list[str]:
    tag = f"matchall({req.selections}, {req.ts_range})"
    pdf = ref.pdf
    live = ~pdf["doc_id"].isin(list(deleted)) if deleted else pd.Series(True, index=pdf.index)
    m = _selected(ref, req) & live
    ids = sorted(pdf.loc[m, "doc_id"].astype(int).tolist())
    errs = []
    if res.num_hits != len(ids):
        errs.append(f"{tag}: num_hits {res.num_hits} != {len(ids)}")
    if res.hits["doc_id"].astype(int).tolist() != ids[req.offset:req.offset + req.k]:
        errs.append(f"{tag}: page ids differ")
    got_f = _facets_of(res)
    for f in req.facets:
        # multi-select: a field's own selection is left out of its counts
        sel = dict(req.selections)
        rng = req.ts_range
        if req.expand_selection and f == "lang":
            sel.pop("lang", None)
        if req.expand_selection and f == "ts_bucket":
            rng = None
        mm = _selected(ref, type(req)(query=None, selections=sel, ts_range=rng)) & live
        want = {str(k): int(v) for k, v in Counter(pdf.loc[mm, f]).items()}
        if got_f.get(f, {}) != want:
            errs.append(f"{tag}: facet {f} counts differ")
    return errs


def check_browse(pdf: pd.DataFrame, sel: dict, res, fields) -> list[str]:
    """Browse counts and page against a direct group-by (multi-select:
    each field's own selection is left out of its own counts)."""
    tag = f"browse({sel})"

    def mask(skip=None):
        m = pd.Series(True, index=pdf.index)
        for f, vals in sel.items():
            if f != skip:
                m &= pdf[f].isin(vals)
        return m

    errs = []
    m = mask()
    if res.num_hits != int(m.sum()):
        errs.append(f"{tag}: num_hits {res.num_hits} != {int(m.sum())}")
    if [int(x) for x in res.hits] != sorted(pdf.loc[m, "doc_id"].astype(int))[:len(res.hits)]:
        errs.append(f"{tag}: page ids differ")
    for f in fields:
        counts = pdf.loc[mask(skip=f)].groupby(f).size()
        want = sorted(((str(v), int(c)) for v, c in counts.items()),
                      key=lambda x: (-x[1], x[0]))[:10]
        if [(str(v), int(c)) for v, c in res.facets(f)] != want:
            errs.append(f"{tag}: facet {f} counts differ")
    return errs


def check_same_results(tag, a, b) -> list[str]:
    """search() and search_many() answers for one request agree."""
    if _hits(a) != _hits(b) or a.num_hits != b.num_hits or _facets_of(a) != _facets_of(b):
        return [f"{tag}: search() and search_many() disagree"]
    return []


def check_pairs(tag, found: set, planted: list) -> list[str]:
    missing = [p for p in planted if p not in found]
    return [f"{tag}: {len(missing)} of {len(planted)} planted pairs missing, "
            f"e.g. {missing[:3]}"] if missing else []
