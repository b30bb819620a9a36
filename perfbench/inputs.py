"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``--seed``: the seed picks the webgen
row window (``webgen.gen_batch`` is a pure function of the row index),
the query terms and the planted duplicates. The program under test only
ever sees the generated tables and requests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from bobo_spark.query import SearchRequest
from bobo_spark.webgen import LANGS, gen_batch, make_vocab, zipf_cdf

HEAD = (0, 50)      # Zipf ranks of head ("stopword-like") terms
TAIL = (200, 5000)  # Zipf ranks of tail terms


class Vocab:
    def __init__(self):
        self.words = np.array(make_vocab(), dtype=object)
        self.cdf = zipf_cdf()


def row_window(seed: int, n: int) -> np.ndarray:
    """The seed's contiguous window of webgen rows."""
    base = 1_000 + (seed % 4096) * 250_000
    return np.arange(base, base + n, dtype=np.int64)


def corpus(vocab: Vocab, rows: np.ndarray) -> pd.DataFrame:
    """Web-page rows (doc_id, url, warc_ts, text, lang, ts_bucket);
    ``ts_bucket`` is the day string the index buckets warc_ts into and
    is only used by the output checks."""
    pdf = gen_batch(rows, vocab.words, vocab.cdf).drop(columns=["html"])
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    pdf["ts_bucket"] = pdf["warc_ts"].dt.strftime("%Y-%m-%d")
    return pdf


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = [c for c in pdf.columns if c != "ts_bucket"]
    pq.write_table(pa.Table.from_pandas(pdf[cols], preserve_index=False), path,
                   coerce_timestamps="us")


class _Heads:
    """Head terms drawn from a fixed multiset of Zipf ranks in seeded
    order: head-term cost dominates a query's cost, so every seed gets
    the same mix of cheap and expensive queries."""

    def __init__(self, rng, vocab: Vocab, n: int):
        self.words = vocab.words
        # each run of len(HEAD range) draws uses every rank exactly once
        perms = [rng.permutation(np.arange(*HEAD)) for _ in range(-(-n // (HEAD[1] - HEAD[0])))]
        self.ranks = list(np.concatenate(perms))[::-1]

    def __call__(self, rng, vocab, n):
        out = []
        while len(out) < n:
            w = str(self.words[self.ranks.pop()])
            if w not in out:
                out.append(w)
        return out


def _tail(rng, vocab, n):
    return [str(w) for w in vocab.words[rng.integers(*TAIL, size=n)]]


def _phrase(rng, pdf: pd.DataFrame) -> str:
    """Two or three consecutive tokens of a random corpus doc, so every
    phrase query has at least one hit."""
    toks = pdf["text"].iloc[int(rng.integers(len(pdf)))].split()
    n = 2 + int(rng.integers(2))
    i = int(rng.integers(len(toks) - n + 1))
    return " ".join(toks[i:i + n])


def recency(pdf: pd.DataFrame) -> dict:
    """Recency boost whose window covers the newer half of the corpus."""
    days = sorted(pdf["ts_bucket"].unique())
    last = pd.Timestamp(days[-1], tz="UTC").value // 1_000_000
    span = max(1, len(days) // 2) * 86_400_000
    return {"now_ms": int(last + 86_400_000), "cutoff_ms": int(span),
            "max_factor": 2.0}


def ts_range(rng, pdf: pd.DataFrame) -> tuple[str, str]:
    days = sorted(pdf["ts_bucket"].unique())
    lo = int(rng.integers(len(days)))
    hi = min(len(days) - 1, lo + int(rng.integers(1, 4)))
    return days[lo], days[hi]


def keyword_mix(seed: int, vocab: Vocab, pdf: pd.DataFrame, n: int = 48) -> list:
    """The keyword query mix: AND and OR over head and tail terms,
    phrase, recency-boosted OR, lang/ts selections with facets, paging
    and explain, ``n`` distinct requests in a seeded order."""
    rng = np.random.default_rng([seed, 1])
    rec = recency(pdf)
    _head = _Heads(rng, vocab, 2 * n)
    out = []
    for i in range(n):
        kind = i % 8
        if kind == 0:
            req = SearchRequest(query=_head(rng, vocab, 1) + _tail(rng, vocab, 1 + i % 2),
                                mode="and")
        elif kind == 1:
            req = SearchRequest(query=_head(rng, vocab, 1) + _tail(rng, vocab, 1 + i % 3),
                                mode="or")
        elif kind == 2:
            req = SearchRequest(query=_phrase(rng, pdf), mode="phrase")
        elif kind == 3:
            req = SearchRequest(query=_head(rng, vocab, 1) + _tail(rng, vocab, 2),
                                mode="or", recency=rec)
        elif kind == 4:
            langs = sorted(rng.choice(LANGS, 1 + i % 2, replace=False).tolist())
            req = SearchRequest(query=_head(rng, vocab, 1) + _tail(rng, vocab, 1),
                                mode="or", facets=("lang", "ts_bucket"),
                                selections={"lang": langs})
        elif kind == 5:
            req = SearchRequest(query=_head(rng, vocab, 2), mode="or",
                                facets=("lang", "ts_bucket"), ts_range=ts_range(rng, pdf))
        elif kind == 6:
            req = SearchRequest(query=_head(rng, vocab, 1) + _tail(rng, vocab, 1),
                                mode="or", offset=10 * (1 + i % 3))
        else:
            req = SearchRequest(query=_head(rng, vocab, 1) + _tail(rng, vocab, 1),
                                mode="and", explain=True)
        out.append(req)
    return [out[j] for j in rng.permutation(len(out))]


def spark_mix(seed: int, pdf: pd.DataFrame, n: int = 9) -> list:
    """The Spark-path request mix, in a fixed kind order with seeded
    values: MatchAll searches selecting two languages and a two-day
    range, MatchAll searches selecting two languages, and multi-select
    browses (tuples ``("browse", selections)``)."""
    rng = np.random.default_rng([seed, 2])
    days = sorted(pdf["ts_bucket"].unique())
    months = sorted(pdf["warc_ts"].dt.strftime("%Y-%m").unique())
    others = [x for x in LANGS if x != "en"]
    out = []
    for i in range(n):
        kind = i % 3
        langs = sorted(["en", str(rng.choice(others))])
        if kind == 0:
            lo = int(rng.integers(max(1, len(days) - 1)))
            out.append(SearchRequest(query=None, selections={"lang": langs},
                                     ts_range=(days[lo], days[min(lo + 1, len(days) - 1)]),
                                     facets=("lang", "ts_bucket")))
        elif kind == 1:
            out.append(SearchRequest(query=None, selections={"lang": langs},
                                     facets=("lang", "ts_bucket"), offset=10))
        else:
            out.append(("browse", {"lang": langs,
                                   "month": [months[int(rng.integers(len(months)))]]}))
    return out


def with_planted_dups(pdf: pd.DataFrame, seed: int, n_exact: int, n_near: int):
    """Append exact copies and near copies of random rows. A near copy
    changes case and punctuation only, so its word shingles equal the
    source's (MinHash and SimHash must pair them) while its bytes, and
    so its content hash, differ. Returns (frame, exact_pairs, near_pairs)
    with pairs as (smaller id, larger id)."""
    rng = np.random.default_rng([seed, 3])
    src = rng.choice(len(pdf), n_exact + n_near, replace=False)
    next_id = int(pdf["doc_id"].max()) + 1
    extra, exact, near = [], [], []
    for j, s in enumerate(src):
        row = pdf.iloc[int(s)].copy()
        new_id = next_id + j
        if j >= n_exact:
            row["text"] = row["text"].title().replace(" ", ", ", 3) + "."
            near.append((int(row["doc_id"]), new_id))
        else:
            exact.append((int(row["doc_id"]), new_id))
        row["doc_id"] = new_id
        extra.append(row)
    out = pd.concat([pdf, pd.DataFrame(extra)], ignore_index=True)
    return out, exact, near


def embeddings(seed: int, n: int, dim: int, n_planted: int):
    """Clustered unit-scale vectors (in-cluster cosine well under the
    0.95 near-dup threshold) plus planted pairs: a scaled copy of a
    random vector, which has cosine 1 with its source. Returns
    (frame vec_id/embedding, planted pairs)."""
    rng = np.random.default_rng([seed, 4])
    centers = rng.normal(size=(max(1, n // 50), dim))
    x = centers[rng.integers(len(centers), size=n)] + rng.normal(size=(n, dim))
    src = rng.choice(n, n_planted, replace=False)
    x = np.concatenate([x, 2.0 * x[src]])
    ids = np.arange(len(x), dtype=np.int64)
    pairs = [(int(s), n + j) for j, s in enumerate(src)]
    frame = pd.DataFrame({"vec_id": ids, "embedding": list(x)})
    return frame, pairs
