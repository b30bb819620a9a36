"""Large-scale text-pipeline operators (dedup, language id, quality,
token counts, fingerprints).

Filters, counts and joins are built-in Spark SQL expressions over the
JVM ``tokens()`` stream. The MinHash and SimHash signatures are Arrow
batch kernels fed the raw text: they tokenize with the index
encoder's tokenizer (``tokenizer.flat_token_codes``, the same tokens
as ``tokens()``, in Arrow C++) and hash in numpy —
Catalyst evaluates higher-order lambdas interpreted, which made them
the dominant cost (guide §4.2). Hash-dependent operators derive ALL
hashes from md5 (hashlib ≡ Spark ``md5`` ≡ DuckDB ``md5``
bit-for-bit), so every operator here keeps an exact cross-engine
oracle.

Scale notes (10^12-doc corpus):
* exact dedup — one hash shuffle on md5(text); skew-free (hashes
  uniform).
* MinHash-LSH — signatures via a per-partition Arrow kernel that
  tokenizes its own text (no explode, no shuffle; the output moves k
  longs per doc); one
  (band, bucket) exchange feeds the shared bucket-pair kernel
  (``_banded_pairs``), which scores and threshold-filters pairs
  BEFORE the distinct so the dedup exchange carries survivors, not
  payloads; ``max_bucket_size`` caps degenerate buckets via min-id
  representative pairing.
* n-gram Jaccard — the exact variant (self-join on shingles) is the
  small-scale oracle; LSH is the scale path.
* SimHash — a per-partition Arrow kernel: one md5 per distinct token
  of the batch, numpy bit fold; 15-bit bands through the same
  bucket-pair kernel, exact 64-bit hamming (XOR popcount) score.
"""

from __future__ import annotations

import hashlib
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

TOKEN_PATTERN = "[a-z0-9]+"
MERSENNE31 = 2147483647


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive parallelism floor: round-robin repartition up to
    the session's core count when the source scan produced fewer
    splits (a single small parquet file otherwise runs the whole
    per-row stage on ONE task); never reduces existing parallelism,
    so large inputs (many splits) pass through shuffle-free. The
    splits are counted on the JVM's RDD of the planned query (no
    Python RDD)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df._jdf.queryExecution().toRdd().getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


STOPWORDS_EN = [
    "the", "of", "and", "a", "to", "in", "is", "it", "for", "on",
    "that", "with", "as", "by", "at", "from", "or", "an", "be", "this",
]
LANG_WORDS = {
    "en": STOPWORDS_EN,
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec", "un", "une", "de"],
    "es": ["el", "la", "los", "las", "es", "no", "con", "un", "una", "por"],
}


def tokens(text_col: str = "text") -> Column:
    return F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_PATTERN}', 0)")


# ------------------------------------------------------------------ counting


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace and regex (BPE-ish pretoken) token counts per doc."""
    return _spread(df).select(
        F.col(id_col),
        F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("long").alias("ws_tokens"),
        F.size(tokens(text_col)).cast("long").alias("re_tokens"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic quality heuristics: length, mean token length,
    stopword ratio, distinct-token ratio, and a combined score."""
    toks = tokens(text_col)
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    mean_tok_len = F.when(n_tok > 0, (F.aggregate(toks, F.lit(0).cast("double"),
                                                  lambda a, t: a + F.length(t))) / n_tok).otherwise(0.0)
    stop_ratio = F.when(n_distinct > 0, n_stop / n_distinct).otherwise(0.0)
    distinct_ratio = F.when(n_tok > 0, n_distinct / n_tok).otherwise(0.0)
    score = (
        F.least(n_tok / 100.0, F.lit(1.0)) * 0.4
        + distinct_ratio * 0.4
        + stop_ratio * 0.2
    )
    return _spread(df).select(
        F.col(id_col),
        F.round(mean_tok_len, 4).alias("mean_tok_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(distinct_ratio, 4).alias("distinct_ratio"),
        F.round(score, 4).alias("quality"),
    )


def langid(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Wordlist-overlap language id (n-gram-heuristic stand-in).

    predicted = language whose wordlist shares the most distinct
    tokens; ties and zero overlap -> 'und'. Deterministic pure
    function of the text."""
    toks = F.array_distinct(tokens(text_col))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_WORDS.items()
    }
    langs = list(LANG_WORDS)
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.lit("und")
    # first language (in fixed order) achieving the unique max
    tie = sum([F.when(scores[lang] == best, 1).otherwise(0) for lang in langs], F.lit(0))
    for lang in reversed(langs):
        pred = F.when((best > 0) & (tie == 1) & (scores[lang] == best), lang).otherwise(pred)
    out = _spread(df).select(F.col(id_col), pred.alias("pred_lang"),
                    *[scores[lang].cast("long").alias(f"score_{lang}") for lang in langs])
    return out


# --------------------------------------------------------------- fingerprints


def shingles(text_col: str = "text", n: int = 3) -> Column:
    """Word n-gram shingles as strings (empty-safe)."""
    toks = tokens(text_col)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 n: int = 5) -> DataFrame:
    """Document fingerprint = min md5 over word n-gram shingles
    (winnowing-style min-hash fingerprint)."""
    sh = shingles(text_col, n)
    return _spread(df).select(
        F.col(id_col),
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"),
    )


def _md5_60(strings) -> np.ndarray:
    """First 60 bits (15 hex digits) of the md5 of each string of an
    Arrow string array, as int64: hashlib ≡ Spark ``md5`` ≡ DuckDB
    ``('0x' || substr(md5(s),1,15))::BIGINT`` bit-for-bit."""
    import pyarrow as pa
    import pyarrow.compute as pc

    md5 = hashlib.md5
    dig = b"".join([md5(s).digest() for s in pc.cast(strings, pa.binary()).to_pylist()])
    return (np.frombuffer(dig, dtype=">u8")[0::2] >> 4).astype(np.int64)


def _minhash_params(k: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) for h_i(x) = (a_i x + b_i) mod p."""
    a, b = [], []
    x = 1
    for _ in range(k):
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        a.append(x % (MERSENNE31 - 1) + 1)
        x = (x * 6364136223846793005 + 1442695040888963407) % (2**63)
        b.append(x % MERSENNE31)
    return a, b


# ------------------------------------------------------ banded-LSH pairs

# Default within-bucket expansion cap of the banded-LSH pair operators
# (minhash_lsh_pairs, simhash_neardup_pairs and
# simsearch.cosine_neardup_pairs_lsh). A degenerate bucket (a giant
# duplicate cluster at crawl scale) would otherwise expand O(c^2); past
# the cap, members pair only with the bucket's min-id representative
# (connectivity preserved — see _expand_bucket). Pass
# max_bucket_size=None for the EXACT uncapped expansion (the
# oracle-equality variant).
DEFAULT_MAX_BUCKET_SIZE = 1000

# byte budget of one anchor tile's temporaries in _expand_bucket
_PAIR_TILE_BYTES = 1 << 22


class _PairScore(NamedTuple):
    """How one banded-LSH operator scores a bucket's candidate pairs."""

    value: str  # output column and its Spark type, e.g. "hamming int"
    rows: Callable  # sig column (pandas Series) -> per-row payload array
    score: Callable  # (anchor rows, member rows) -> anchors × members values
    keep: Callable  # values -> bool mask of the pairs to emit
    pair_bytes: int  # bytes per pair of score's and keep's temporaries


def _expand_bucket(ids: np.ndarray, rows: np.ndarray, ps: _PairScore,
                   max_bucket_size: int | None):
    """(id_a, id_b, value) of one bucket's pairs (id_a < id_b) that
    pass ``ps.keep``; ``ids`` ascend and ``rows[i]`` is the payload of
    ``ids[i]``.

    A bucket over ``max_bucket_size`` has one anchor, its min-id row,
    which pairs with every other member (O(c), and a duplicate cluster
    stays connected). Otherwise every row is an anchor, expanded a tile
    of anchors at a time against all later rows; a tile's temporaries,
    ``ps.pair_bytes`` (plus 2 for the masks) per pair, stay under
    ``_PAIR_TILE_BYTES``, so peak memory is O(c·payload) and never a
    c×c block. The values are the score's own arithmetic per pair,
    bit-for-bit whatever the tiling."""
    c = len(ids)
    n_anchor = 1 if max_bucket_size is not None and c > max_bucket_size else c - 1
    step = max(1, _PAIR_TILE_BYTES // ((ps.pair_bytes + 2) * (c - 1)))
    out_a, out_b, out_v = [], [], []
    for a0 in range(0, n_anchor, step):
        a1 = min(a0 + step, n_anchor)
        # anchors a0..a1-1 against rows a0+1..c-1: cell (r, q) is the
        # pair (a0+r, a0+1+q), a real pair iff q >= r
        val = ps.score(rows[a0:a1], rows[a0 + 1:])
        ok = ps.keep(val)
        ok &= np.arange(c - a0 - 1) >= np.arange(a1 - a0)[:, None]
        r, q = np.nonzero(ok)
        out_a.append(ids[a0 + r])
        out_b.append(ids[a0 + 1 + q])
        out_v.append(val[r, q])
    return np.concatenate(out_a), np.concatenate(out_b), np.concatenate(out_v)


def _banded_pairs(banded: DataFrame, ps: _PairScore,
                  max_bucket_size: int | None) -> DataFrame:
    """Scored candidate pairs (id_a, id_b, value) of a banded frame
    (id, sig, band, bucket): rows sharing a (band, bucket) are
    candidates, expanded and kept by ``_expand_bucket``. NOT
    de-duplicated: a pair sharing several bands appears once per band;
    callers filter and ``distinct()`` the narrow result.

    One exchange on (band, bucket) moves each (id, sig) once per band,
    and the kernel runs once per shuffle PARTITION (mapInPandas, not a
    per-group applyInPandas): singleton buckets, the vast majority, are
    skipped by a vectorized size mask instead of each paying a
    per-group Arrow dispatch (measured ~1 ms each at 20k multi-member
    buckets)."""
    import pandas as pd

    id_type = dict(banded.dtypes)["id"]
    value = ps.value.split()[0]

    def expand_partition(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
        if not len(pdf):
            return
        band = pdf["band"].to_numpy(np.int64)
        bucket = pd.factorize(pdf["bucket"])[0]
        ids = pdf["id"].to_numpy()
        order = np.lexsort((ids, bucket, band))
        band, bucket, ids = band[order], bucket[order], ids[order]
        bnd = np.flatnonzero((np.diff(band) != 0) | (np.diff(bucket) != 0)) + 1
        starts = np.concatenate(([0], bnd))
        ends = np.concatenate((bnd, [len(ids)]))
        multi = np.flatnonzero(ends - starts >= 2)
        if not len(multi):
            return
        rows = ps.rows(pdf["sig"])[order]
        parts = [_expand_bucket(ids[s:e], rows[s:e], ps, max_bucket_size)
                 for s, e in zip(starts[multi], ends[multi])]
        id_a, id_b, vals = (np.concatenate(x) for x in zip(*parts))
        if len(id_a):
            yield pd.DataFrame({"id_a": id_a, "id_b": id_b, value: vals})

    return banded.repartition("band", "bucket").mapInPandas(
        expand_partition, schema=f"id_a {id_type}, id_b {id_type}, {ps.value}")


def minhash_signatures(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3, k: int = 16) -> DataFrame:
    """MinHash signature per doc: sig_i = min over shingles of
    (a_i * (h(s) mod p) + b_i) mod p, p = 2^31-1, h(s) = first 15 hex
    chars of md5(s) as an integer (``_md5_60``). A shingle is n
    consecutive tokens joined by a space; a doc of fewer than n tokens
    has one shingle, all its tokens joined (empty for an empty or null
    text).

    One Arrow batch kernel per partition, fed the raw text: it
    tokenizes with the index encoder's tokenizer
    (``tokenizer.flat_token_codes``, Arrow C++),
    builds every shingle string in one Arrow join over the code
    windows, and takes the k permutation mins per doc with one
    ``reduceat`` per hash — exact int64 arithmetic, so the DuckDB
    oracle equality holds. No explode, no shuffle: the output moves k
    longs per doc."""
    a, b = _minhash_params(k)
    id_type = dict(df.dtypes)[id_col]
    src = _spread(df).select(F.col(id_col), F.col(text_col))

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from .tokenizer import flat_token_codes

        for batch in batches:
            codes, uniq, doclens = flat_token_codes(batch.column(1))
            nrows = len(doclens)
            # shingles per doc, each as n token codes padded with -1
            nsh = np.where(doclens >= n, doclens - n + 1, 1)
            sh_starts = np.cumsum(nsh) - nsh
            sh_doc = np.repeat(np.arange(nrows), nsh)
            first = (np.cumsum(doclens) - doclens)[sh_doc] \
                + np.arange(len(sh_doc)) - sh_starts[sh_doc]
            width = np.minimum(doclens, n)[sh_doc]
            pad = np.arange(n) >= width[:, None]
            win = np.where(pad, len(codes), first[:, None] + np.arange(n))
            win = np.append(codes, -1)[win]
            vocab = pa.array(uniq, type=pa.string())
            cols = [pc.take(vocab, pa.array(win[:, j], mask=win[:, j] < 0))
                    for j in range(n)]
            # padding is trailing: joined as "" and its separators trimmed
            shingle = pc.utf8_rtrim(pc.binary_join_element_wise(
                *cols, " ", null_handling="replace"), characters=" ")
            hs = _md5_60(shingle) % MERSENNE31
            sigs = np.empty((nrows, k), dtype=np.int64)
            for i in range(k):
                sigs[:, i] = np.minimum.reduceat((hs * a[i] + b[i]) % MERSENNE31,
                                                 sh_starts)
            offs = pa.array((np.arange(nrows + 1) * k).astype(np.int32))
            lst = pa.ListArray.from_arrays(offs, pa.array(sigs.ravel()))
            yield pa.RecordBatch.from_arrays([batch.column(0), lst], [id_col, "minhash"])

    return src.mapInArrow(kernel, schema=f"{id_col} {id_type}, minhash array<bigint>")


def _minhash_score(k: int, margin: float) -> _PairScore:
    """Matching signature fraction (match count / k), kept at >= margin."""
    kf = float(k)
    return _PairScore(
        "est_jaccard double",
        lambda sig: np.stack(sig.to_numpy()).astype(np.int64, copy=False),
        lambda A, M: (A[:, None, :] == M[None, :, :]).sum(axis=2) / kf,
        lambda est: est >= margin,
        k + 8 + 8 + 1)  # bool compare per hash, int64 count, float64 est, keep


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, k: int = 16, bands: int = 4,
                      threshold: float = 0.5,
                      max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    Bands of r = k/bands rows; docs sharing any band bucket become
    candidates; est_jaccard = matching signature fraction; pairs kept
    at est_jaccard >= threshold. ``max_bucket_size`` caps
    within-bucket expansion via min-id representative pairing (see
    ``_expand_bucket``) — capped by DEFAULT (the scale-safe path);
    pass None for the exact uncapped oracle variant.

    Candidates are generated and scored inside the shared
    ``_banded_pairs`` kernel, not a bucket self-join: the signature
    kernel upstream is evaluated ONCE and the capped path needs no
    bucket-sizes join. The match count over the same int64 signatures
    reproduces the ``zip_with`` comparison exactly; the kernel
    pre-filters at threshold minus the round-off bound (6e-5 > the
    5e-5 a 4-decimal HALF_UP round can move a value) and the
    authoritative ``round(est,4) >= threshold`` filter stays a Spark
    expression (oracle-verified)."""
    r = k // bands
    sigs = minhash_signatures(df, id_col, text_col, n, k)
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.col("minhash").alias("sig"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band"),
                    F.md5(F.concat_ws(",", F.transform(
                        F.slice(F.col("minhash"), bi * r + 1, r), lambda x: x.cast("string")
                    ))).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")
    return (
        _banded_pairs(banded, _minhash_score(k, threshold - 6e-5), max_bucket_size)
        .select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, threshold: float = 0.5,
                        max_shingle_df: int | None = None) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via shingle self-join.

    The exact (oracle) variant — at corpus scale use minhash_lsh_pairs;
    ``max_shingle_df`` drops ubiquitous shingles to bound the join."""
    sh = _spread(df).select(F.col(id_col).alias("id"),
                   F.explode(F.array_distinct(shingles(text_col, n))).alias("s"))
    if max_shingle_df:
        keep = sh.groupBy("s").count().where(F.col("count") <= max_shingle_df).select("s")
        sh = sh.join(keep, "s")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "s")
        .where(F.col("x.id") < F.col("y.id"))
        .groupBy(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4)
            .alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """60-bit SimHash from md5-derived token bits.

    bit_i(doc) = 1 iff Σ over distinct tokens of (2*((h(t)>>i)&1)-1) > 0,
    h(t) = ``_md5_60(t)``.

    One Arrow batch kernel per partition, fed the raw text: it
    tokenizes with the index encoder's tokenizer
    (``tokenizer.flat_token_codes``), hashes each distinct token of
    the batch once (one md5 per vocabulary entry, gathered by code)
    and folds the 60 bit counters per doc in one vectorized numpy pass
    per bit. Pure integer arithmetic; a null text yields a null
    simhash, an empty one 0."""
    id_type = dict(df.dtypes)[id_col]
    src = _spread(df).select(F.col(id_col), F.col(text_col))

    def kernel(batches):
        import pyarrow as pa

        from .tokenizer import flat_token_codes

        for batch in batches:
            text = batch.column(1)
            codes, uniq, doclens = flat_token_codes(text)
            nrows = len(doclens)
            # each doc's distinct tokens, doc-major
            rows = np.repeat(np.arange(nrows, dtype=np.int64), doclens)
            nv = max(len(uniq), 1)
            rows, codes = np.divmod(np.unique(rows * nv + codes), nv)
            flat = _md5_60(pa.array(uniq, type=pa.string()))[codes]
            offs = np.searchsorted(rows, np.arange(nrows + 1))
            sim = np.zeros(nrows, dtype=np.int64)
            for i in range(60):
                contrib = (((flat >> i) & 1) * 2 - 1)
                cs = np.concatenate([[0], np.cumsum(contrib)])
                row = cs[offs[1:]] - cs[offs[:-1]]
                sim |= (row > 0).astype(np.int64) << i
            null_mask = np.asarray(text.is_null().to_numpy(zero_copy_only=False),
                                   dtype=bool)
            out = pa.array(sim, mask=null_mask) if null_mask.any() else pa.array(sim)
            yield pa.RecordBatch.from_arrays([batch.column(0), out], [id_col, "simhash"])

    return src.mapInArrow(kernel, schema=f"{id_col} {id_type}, simhash bigint")


def _simhash_score(max_hamming: int) -> _PairScore:
    """Hamming distance (XOR popcount), kept at <= max_hamming."""
    def hamming(A, M):
        x = np.bitwise_xor(A[:, None], M[None, :])
        bits = np.unpackbits(x.reshape(-1).view(np.uint8).reshape(-1, 8), axis=1)
        return bits.sum(axis=1, dtype=np.int32).reshape(x.shape)

    return _PairScore(
        "hamming int",
        lambda sig: sig.to_numpy().astype(np.int64, copy=False).view(np.uint64),
        hamming,
        lambda ham: ham <= max_hamming,
        8 + 64 + 4 + 1)  # uint64 xor, unpacked bits, int32 count, keep


def simhash_neardup_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                          max_hamming: int = 3,
                          max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidate generation via 4 15-bit bands (a pair within hamming 3
    must agree on ≥1 band), exact popcount filter after, in the shared
    ``_banded_pairs`` kernel. ``max_bucket_size`` caps within-bucket
    expansion (min-id representative fallback, see ``_expand_bucket``)
    — capped by DEFAULT; pass None for the exact uncapped oracle
    variant. popcount(xor) over the same int64 simhashes is exact
    integer arithmetic — identical to Spark's bit_count — and the
    authoritative hamming filter stays a Spark expression."""
    sig = simhash64(df, id_col, text_col)
    banded = sig.select(
        F.col(id_col).alias("id"), F.col("simhash").alias("sig"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright("simhash", 15 * i).bitwiseAND(F.lit(0x7FFF)).alias("bucket"))
            for i in range(4)
        ])).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")
    # null simhash (null text) never matches anything (the old join's
    # `null <= max_hamming` filter dropped such pairs); filtering
    # BEFORE the Python boundary also keeps the sig column non-null
    # int64 in pandas (a nullable bigint would arrive as float64 and
    # lose 60-bit precision)
    banded = banded.where(F.col("sig").isNotNull())
    return (
        _banded_pairs(banded, _simhash_score(max_hamming), max_bucket_size)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash: (text_hash, keeper_id,
    n_dups). One uniform hash shuffle — the canonical 100-TB dedup."""
    return (
        _spread(df).groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
    )
