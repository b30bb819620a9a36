"""Distributed inverted-index build job (the "BoboIndexer on Spark").

Pipeline (one snapshot; every stage is checkpointed in the catalog
manifest so a killed build resumes from the last completed stage —
the north rule's "resumable from Iceberg snapshot checkpoints"):

0. ``extract``  — html-only inputs: extract the text once, into a
   scratch doc table every later pass reads.
1. ``docs``     — facet dictionaries (lang, warc_ts day bucket) and
   the batch's doc/byte counts from one aggregation, then the forward
   table — per-segment doc rows (doclen, url, facet ordinals), the
   Bobo FacetDataCache analogue (facets/data/FacetDataCache.java:33-37)
   — written from the text in one task pass on an overlapped thread:
   doclen is the tokenizer's count, taken where the text already is
   (as Lucene takes a field's length while it inverts the document).
   Dictionaries are value-sorted on first build; later snapshots
   append new values after the parent max ordinal so existing
   forward/posting data stays valid.
2. ``terms``    — global term dictionary (df, cf) + dense ``term_id``
   by sorted rank (lexicographic on first build; an append keeps the
   parent's ids and numbers its new terms in sorted order after them
   → old postings never invalidated). Under the driver gate the sort
   and the append's merge run in pandas; past it, a distributed
   two-pass rank. Terms are counted straight off the tokenizer
   with map-side partials, facet sentinel terms "\\x00field:ord"
   included (the AdaptiveFacetFilter-style inverted access path for
   selections).
3. ``postings`` — while the dictionary fits
   ``broadcast_terms_threshold``: ONE wide shuffle of the raw text by
   doc range (driver-computed identity partition keys — no
   boundary-sampling pass when doc ids are dense), then tokenize +
   broadcast term-id map + packed-key sort + block encode inside each
   partition.
   Past it (web-scale dictionaries): a materialized ``pairs`` table
   (tokenize → (doc_id, term, packed, segment) rows incl. sentinel
   pairs) ⋈ terms → ``repartitionByRange(segment, term_id, doc_id)``
   (sampled boundaries split a Zipf head term by doc range) →
   ``sortWithinPartitions`` → block encoder. Both emit the same
   self-contained blocks (docID-delta varbyte + tf/doclen/facet
   streams + block-max metadata): scoring and facet counting need no
   query-time joins.
4. ``published`` — atomic manifest commit.

Block-max metadata stores ``(max_tf, min_dl)`` per block rather than a
float score bound: the query engine derives a *safe* upper bound from
current global stats (idf/avgdl drift across incremental snapshots can
only be handled this way — a stored float bound would go stale).

Reference parity: build path = index/BoboIndexer.java:40,73-86 +
facet load = facets/data/FacetDataCache.java:97-194, collapsed into
one batch job (SURVEY.md §3.3).
"""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .catalog import (IndexCatalog, Snapshot, StageClock, read_table_arrow,
                      read_table_pdf, write_table_pdf)
from .codecs import (binary_array, binary_parts, compact_binary,
                     empty_binary_array, vb_encode_segmented)
from .extract import extract_text
from .tokenizer import flat_token_codes, term_freq_frame

POSTINGS_SCHEMA = (
    "segment long, term_id long, first_doc long, last_doc long, n_docs int, "
    "doc_bytes binary, tf_bytes binary, dl_bytes binary, lang_bytes binary, "
    "ts_bytes binary, pos_bytes binary, max_tf int, min_dl int"
)
SECTIONS_SCHEMA = "doc_id long, n_secs int, sec_bytes binary, segment long"
# the build's scratch tables (the doc table holds the text extracted
# from html-only inputs)
DOCS_SCHEMA = "doc_id long, url string, text string, lang string, ts_bucket string"
PAIRS_SCHEMA = "doc_id long, term string, packed long, segment long, pos_bytes binary"
# dictionaries of at most this many rows (exact count) are sorted,
# merged and written on the driver; larger ones take the distributed rank
DRIVER_DICT_ROWS = 1_000_000
# Spark schema of each catalog table a reader opens: a spark.read
# given one skips the schema-inference job a bare read runs
TABLE_SCHEMAS = {
    "terms": "term string, df long, cf long, term_id long",
    "postings": POSTINGS_SCHEMA,
    "forward": ("segment long, doc_id long, doclen long, url string, "
                "lang_ord long, ts_ord long"),
    "sections": SECTIONS_SCHEMA,
}


def read_table(spark: SparkSession, table: str, paths: list[str]) -> DataFrame:
    """A catalog table's files read with its declared schema
    (``TABLE_SCHEMAS``): no schema-inference job."""
    return spark.read.schema(TABLE_SCHEMAS[table]).parquet(*paths)


def _small_table_pdf(paths, max_bytes: int = 64 << 20, columns=None):
    """pyarrow-direct read (zero Spark jobs) when the table's on-disk
    size is under ``max_bytes``; None otherwise so the caller keeps the
    distributed path — the gate is exact (file sizes), never a guess,
    so web-scale dictionaries are unaffected."""
    total = 0
    ps = list(paths) if isinstance(paths, (list, tuple)) else [paths]
    for pth in ps:
        if os.path.isdir(pth):
            total += sum(os.path.getsize(os.path.join(pth, f))
                         for f in os.listdir(pth) if f.endswith(".parquet"))
        elif os.path.exists(pth):
            total += os.path.getsize(pth)
        else:
            return None
    if total > max_bytes:
        return None
    return read_table_pdf(ps, columns=columns)


@dataclass
class BuildConfig:
    docs_per_segment: int = 25_000
    block_size: int = 128
    rows_per_posting_partition: int = 2_000_000  # (term,doc) pairs per shuffle partition
    # postings: a dictionary of at most this many terms is broadcast
    # and the text takes ONE doc-range shuffle, tokenized + encoded
    # inside each partition (~5× fewer shuffle bytes than exploded
    # pairs). A larger dictionary materializes the (doc, term) pair
    # table and range-shuffles it on (segment, term_id, doc_id). Both
    # paths clamp the postings' doclen at 65535 (``pack_meta``); the
    # forward table's doclen is the tokenizer's count, unclamped.
    broadcast_terms_threshold: int = 2_000_000
    ts_bucket: str = "day"
    # store per-posting token positions (delta varbyte; the positions
    # stream Lucene keeps for PhraseQuery). Off => pos_bytes empty and
    # phrase queries raise.
    store_positions: bool = True
    # section geometry for section search (requires store_positions):
    #   None               — no sections (section_search raises)
    #   ("window", W)      — section = token_pos // W; METADATA ONLY,
    #                        zero index bytes
    #   ("regex", pattern) — sections = text split on pattern; per-doc
    #                        boundary arrays land in a ``sections``
    #                        table (token starts, delta varbyte). The
    #                        per-DOC analogue of the reference's
    #                        per-occurrence section payloads
    #                        (search/section/TermNode.java:55-63).
    sections: tuple | None = None


def _segment_col(cfg: BuildConfig):
    return (F.col("doc_id") / F.lit(cfg.docs_per_segment)).cast("long").alias("segment")


def pack_meta(tf: np.ndarray, dl: np.ndarray, lang: np.ndarray, ts: np.ndarray) -> np.ndarray:
    """tf<<40 | dl<<24 | lang<<16 | ts (tf<2^23, dl<2^16, lang<2^8, ts<2^16).

    doclen is CLAMPED at 65535 — BM25 length normalization saturates
    there (Lucene's 1-byte norms are far lossier), so a >64k-token web
    page scores as a 64k-token one instead of corrupting the packed
    word. tf / lang / ts overflow RAISES: silent wraparound would
    corrupt adjacent fields and miscount facets.
    """
    if tf.size:
        if int(tf.max()) >= 1 << 23:
            raise ValueError(f"tf {int(tf.max())} overflows the 23-bit field")
        if int(lang.max()) > 0xFF:
            raise ValueError(
                f"lang ordinal {int(lang.max())} overflows the 8-bit field (>255 languages)")
        if int(ts.max()) > 0xFFFF:
            raise ValueError(
                f"ts ordinal {int(ts.max())} overflows the 16-bit field (>65535 time buckets)")
    dl = np.minimum(dl, 0xFFFF)
    return (tf << 40) | (dl << 24) | (lang << 16) | ts


def unpack_meta(packed: np.ndarray):
    tf = packed >> 40
    dl = (packed >> 24) & 0xFFFF
    lang = (packed >> 16) & 0xFF
    ts = packed & 0xFFFF
    return tf, dl, lang, ts


# ---------------------------------------------------------------- stage: docs


def _dict_aggs(docs: DataFrame, cols: list[str]):
    """Per-field (value, df, min_doc, max_doc) stats for ALL ``cols``
    in ONE job: a stack() generator unpivots the fields (values as
    strings), one tiny groupBy covers every dictionary. The same job
    counts the docs with every field set (the docs ``_with_ords``
    keeps) and sums their ``n_bytes``: returns (stats per field,
    docs, bytes)."""
    live = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    stacked = docs.selectExpr(
        "doc_id", f"IF({live}, 1, 0) AS live", f"IF({live}, n_bytes, NULL) AS nb",
        "stack({}, {}) AS (field, value)".format(
            len(cols), ", ".join(f"'{c}', string({c})" for c in cols)),
    )
    agg = (
        stacked.groupBy("field", "value")
        .agg(F.count("*").alias("df"), F.min("doc_id").alias("min_doc"),
             F.max("doc_id").alias("max_doc"), F.sum("live").alias("live"),
             F.sum("nb").alias("nb"))
        .toPandas()
    )
    batch = agg[agg["field"] == cols[0]]  # every doc once
    return ({
        c: agg[agg["field"] == c]
        .drop(columns=["field", "live", "nb"])
        .sort_values("value", ignore_index=True)
        for c in cols
    }, int(batch["live"].sum()), int(batch["nb"].fillna(0).astype(np.int64).sum()))


def _build_dict(agg: pd.DataFrame, parent_dict: pd.DataFrame | None) -> pd.DataFrame:
    """Facet dictionary (ordinal, value, df, min_doc, max_doc) from the
    per-field stats frame.

    Value-sorted on first build (Bobo's sorted TermValueList,
    facets/data/TermValueList.java:114); incremental snapshots append
    new values after the parent max ordinal for forward-index
    stability.
    """
    if parent_dict is None or parent_dict.empty:
        agg.insert(0, "ordinal", np.arange(1, len(agg) + 1))  # ordinal 0 = missing (Bobo convention)
        return agg
    merged = parent_dict[["ordinal", "value"]].merge(agg, on="value", how="outer")
    new_mask = merged["ordinal"].isna()
    base = int(parent_dict["ordinal"].max()) if len(parent_dict) else 0
    merged.loc[new_mask, "ordinal"] = base + np.arange(1, new_mask.sum() + 1)
    merged["ordinal"] = merged["ordinal"].astype(np.int64)
    # merge df/min/max with parent stats
    p = parent_dict.set_index("value")
    merged = merged.set_index("value")
    for c, fn in (("df", "add"), ("min_doc", "min"), ("max_doc", "max")):
        if c in p.columns:
            a = merged[c].fillna(0 if c == "df" else np.nan)
            b = p[c].reindex(merged.index)
            if fn == "add":
                merged[c] = a.add(b, fill_value=0)
            elif fn == "min":
                merged[c] = pd.concat([a, b], axis=1).min(axis=1)
            else:
                merged[c] = pd.concat([a, b], axis=1).max(axis=1)
    out = merged.reset_index()[["ordinal", "value", "df", "min_doc", "max_doc"]]
    out["df"] = out["df"].astype(np.int64)
    return out.sort_values("ordinal").reset_index(drop=True)


# --------------------------------------------------------------- stage: terms


def assign_sorted_ids(terms: DataFrame, spark: SparkSession, id_base: int = 0, n_parts: int | None = None,
                      driver_threshold: int = DRIVER_DICT_ROWS,
                      as_pandas: bool = False,
                      max_rows_hint: int | None = None):
    """Dense ids by global sort order — distributed two-pass rank.

    Pass 1 counts rows per range partition; pass 2 assigns
    ``offset[partition] + local_index`` inside ``mapInPandas``. The
    result is partitioning-invariant (ids = global lexicographic rank)
    and never funnels through a single-partition window.

    r6: the input is persisted first — ``repartitionByRange``'s range
    sampling otherwise re-evaluates the entire upstream (for the build
    that was a SECOND tokenize pass over the corpus) — and
    dictionaries at or under ``driver_threshold`` rows (exact count,
    not a guess) take a driver-side sort instead: one count + one
    collect replaces sample + shuffle + counts + assign. Ranks are
    identical — pandas sorts by code point and Spark's UTF8String by
    UTF-8 bytes, and UTF-8 byte order IS code-point order.

    ``max_rows_hint``: a caller-known UPPER BOUND on the row count
    (e.g. the merge's parent dictionary size) lets the driver path
    skip the persist+count job and pull directly. ``as_pandas``: on
    the driver path return the pandas frame itself so small callers
    can write it with zero further Spark jobs (the distributed path
    always returns a DataFrame — check the type).
    """
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(terms.schema.fields) + [T.StructField("term_id", T.LongType(), False)]
    )
    pdf = None
    if max_rows_hint is not None and max_rows_hint <= driver_threshold:
        pdf = terms.toPandas()
        n_rows = len(pdf)
        if n_rows > driver_threshold:  # hint lied: bound driver memory
            pdf = None
    if pdf is None:
        terms = terms.persist()
        n_rows = terms.count()
    if n_rows <= driver_threshold:
        if pdf is None:
            pdf = terms.toPandas()
            terms.unpersist()
        pdf = pdf.sort_values("term", ignore_index=True)
        pdf = pdf[[f.name for f in out_schema.fields[:-1]]]
        pdf["term_id"] = id_base + np.arange(n_rows, dtype=np.int64)
        if as_pandas:
            return pdf
        return spark.createDataFrame(pdf, schema=out_schema)
    if n_parts is None:
        n_parts = max(8, spark.sparkContext.defaultParallelism)
    ranged = terms.repartitionByRange(n_parts, "term").sortWithinPartitions("term")
    ranged = ranged.persist()
    # Pass 1: per-range-partition row count + first term. Offsets are
    # keyed by the partition's first term (ranges are disjoint and
    # terms unique), NOT by TaskContext.partitionId() — task indexes
    # are stage-local and shift under plan composition (e.g. union).
    counts = (
        ranged.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count("*").alias("n"), F.min("term").alias("first_term"))
        .orderBy("first_term")
        .collect()
    )
    terms.unpersist()  # ranged is materialized now; input cache done
    import bisect

    keys, offsets = [], []
    acc = id_base
    for r in counts:
        keys.append(r["first_term"])
        offsets.append(acc)
        acc += r["n"]
    from pyspark.sql import types as T

    # copy — StructType.add would mutate the DataFrame's cached schema
    schema = T.StructType(
        list(ranged.schema.fields) + [T.StructField("term_id", T.LongType(), False)]
    )
    b_keys = spark.sparkContext.broadcast((keys, offsets))

    def assign(batches):
        base = None
        seen = 0
        for pdf in batches:
            if not len(pdf):
                continue
            if base is None:
                ks, offs = b_keys.value
                i = bisect.bisect_right(ks, pdf["term"].iloc[0]) - 1
                base = offs[i]
            pdf = pdf.copy()
            pdf["term_id"] = base + seen + np.arange(len(pdf), dtype=np.int64)
            seen += len(pdf)
            yield pdf

    out = ranged.mapInPandas(assign, schema=schema)
    return out


def _append_terms(spark: SparkSession, delta: DataFrame, parent_paths: list[str],
                  n_parent: int, terms_path: str,
                  driver_threshold: int = DRIVER_DICT_ROWS) -> None:
    """Write an append's term dictionary: the parent's (ids dense,
    0..n_parent-1, on every path) merged with the batch's (term, df, cf)
    ``delta`` (tokenized once, persisted). Known terms keep their ids and
    add counts; new terms are numbered from ``n_parent`` in term order.
    In pandas when parent plus delta rows fit ``driver_threshold``, else
    by a distributed full join."""
    delta = delta.persist()
    try:
        if n_parent + delta.count() <= driver_threshold:
            new = delta.toPandas()
            old = read_table_pdf(parent_paths)
            pos = pd.Index(old["term"]).get_indexer(new["term"])
            hit = pos >= 0
            old.loc[pos[hit], ["df", "cf"]] += new.loc[hit, ["df", "cf"]].to_numpy()
            new = new[~hit].sort_values("term", ignore_index=True)
            new["term_id"] = n_parent + np.arange(len(new), dtype=np.int64)
            write_table_pdf(pd.concat([old, new], ignore_index=True)
                            [["term", "df", "cf", "term_id"]], terms_path)
            return
        old = read_table(spark, "terms", parent_paths).withColumnsRenamed(
            {"df": "df0", "cf": "cf0"})
        merged = delta.join(old, "term", "full").select(
            "term", *[(F.coalesce(c, F.lit(0)) + F.coalesce(c + "0", F.lit(0))).alias(c)
                      for c in ("df", "cf")], "term_id")
        known = merged.where(F.col("term_id").isNotNull())
        novel = merged.where(F.col("term_id").isNull()).drop("term_id")
        (known.unionByName(assign_sorted_ids(novel, spark, id_base=n_parent))
         .write.mode("overwrite").parquet(terms_path))
    finally:
        delta.unpersist()


# ------------------------------------------------------------- stage: postings


def _encode_partition(batches, block_size: int):
    """Encode one sorted shuffle partition into posting block rows.

    Input rows are sorted by (segment, term_id, doc_id); runs are
    found vectorized via boundary diff. Each (segment, term) run is
    cut into blocks of ``block_size`` postings with five varbyte
    streams (doc deltas, tf, doclen, lang ordinal, ts ordinal) and
    (max_tf, min_dl) block-max metadata.
    """
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True) if len(pdfs) > 1 else pdfs[0]
    seg = pdf["segment"].to_numpy(np.int64)
    tid = pdf["term_id"].to_numpy(np.int64)
    doc = pdf["doc_id"].to_numpy(np.int64)
    tf, dl, lo, to = unpack_meta(pdf["packed"].to_numpy(np.int64))
    n = len(pdf)
    # (segment, term) run boundaries, then block tiling — all vectorized
    boundary = np.flatnonzero((np.diff(seg) != 0) | (np.diff(tid) != 0))
    run_starts = np.concatenate(([0], boundary + 1))
    run_ends = np.concatenate((boundary + 1, [n]))
    run_lens = run_ends - run_starts
    nblk = -(-run_lens // block_size)  # ceil
    total_blocks = int(nblk.sum())
    rrep = np.repeat(np.arange(len(run_starts)), nblk)
    within = np.arange(total_blocks) - np.repeat(np.cumsum(nblk) - nblk, nblk)
    bstarts = run_starts[rrep] + within * block_size
    bends = np.minimum(bstarts + block_size, run_ends[rrep])
    nd = bends - bstarts
    # blocks tile [0, n) contiguously -> reduceat segments == blocks
    max_tf = np.maximum.reduceat(tf, bstarts)
    min_dl = np.minimum.reduceat(dl, bstarts)
    # positions stream: per-pair buffers are already delta-varbyte —
    # a block's stream is the byte-concatenation of its rows' buffers
    # (zero-copy when the column is Arrow-backed)
    pos_all, pos_offs = binary_parts(pdf["pos_bytes"])
    # docID deltas: diff within block, first-of-block dropped (stored raw)
    prev = np.empty_like(doc)
    prev[0] = 0
    prev[1:] = doc[:-1]
    delta = doc - prev
    is_start = np.zeros(n, dtype=bool)
    is_start[bstarts] = True
    doc_vals = delta[~is_start].astype(np.uint64)
    dstarts = np.cumsum(nd - 1) - (nd - 1)
    doc_buf, doc_off = vb_encode_segmented(doc_vals, dstarts)
    tf_buf, tf_off = vb_encode_segmented(tf.astype(np.uint64), bstarts)
    dl_buf, dl_off = vb_encode_segmented(dl.astype(np.uint64), bstarts)
    lo_buf, lo_off = vb_encode_segmented(lo.astype(np.uint64), bstarts)
    to_buf, to_off = vb_encode_segmented(to.astype(np.uint64), bstarts)
    # blocks tile [0, n) contiguously, so every per-block stream is a
    # contiguous slice of ONE encode buffer — emit each stream column
    # as an Arrow binary array over (offsets, buffer) directly; the
    # object-dtype alternative allocates 7 small bytes objects per
    # block (hundreds of thousands per partition), which dominated the
    # encode stage and throttled multi-worker scaling
    pos_block_offs = pos_offs[np.append(bstarts, n)]
    # binary_array degrades >2 GiB buffers to 64-bit-offset
    # large_binary so library-level callers keep working, but THIS
    # frame crosses mapInPandas with POSTINGS_SCHEMA's 32-bit binary
    # columns — surface the actionable error here instead of an
    # obscure Arrow serializer failure
    for nm, off in (("doc", doc_off), ("tf", tf_off), ("dl", dl_off),
                    ("lang", lo_off), ("ts", to_off),
                    ("pos", pos_block_offs)):
        if int(off[-1]) - int(off[0]) >= (1 << 31):
            raise ValueError(
                f"{nm} stream buffer exceeds 2 GiB in one partition — "
                "Spark's Arrow bridge needs 32-bit binary offsets; "
                "lower rows_per_posting_partition (BuildConfig)")
    res = pd.DataFrame(
        {
            "segment": seg[bstarts],
            "term_id": tid[bstarts],
            "first_doc": doc[bstarts],
            "last_doc": doc[bends - 1],
            "n_docs": nd.astype(np.int32),
            "doc_bytes": pd.Series(binary_array(doc_buf, doc_off)),
            "tf_bytes": pd.Series(binary_array(tf_buf, tf_off)),
            "dl_bytes": pd.Series(binary_array(dl_buf, dl_off)),
            "lang_bytes": pd.Series(binary_array(lo_buf, lo_off)),
            "ts_bytes": pd.Series(binary_array(to_buf, to_off)),
            "pos_bytes": pd.Series(binary_array(pos_all, pos_block_offs)),
            "max_tf": max_tf.astype(np.int32),
            "min_dl": min_dl.astype(np.int32),
        }
    )
    yield res


# ------------------------------------- terms + broadcast-dictionary postings


def _sentinel_stats(pdf: pd.DataFrame) -> list[pd.DataFrame]:
    """Per-batch (term, df, cf) partials for the facet sentinel terms
    ('\\x00field:ord', one occurrence per doc)."""
    out = []
    for fld, col in (("lang", "lang_ord"), ("ts", "ts_ord")):
        vc = pdf[col].value_counts()
        out.append(pd.DataFrame({
            "term": ("\x00" + fld + ":") + vc.index.astype(str),
            "df": vc.to_numpy(np.int64),
            "cf": vc.to_numpy(np.int64),
        }))
    return out


def _distinct_pair_codes(rows: np.ndarray, codes: np.ndarray,
                         bc: int, bd: int) -> np.ndarray:
    """``codes`` of the distinct (row, code) pairs — packed-key unique
    when the combined ranges fit 63 bits, structured-dtype unique
    beyond (the same width guard as term_freq_frame; an unguarded
    ``rows << bc`` would silently wrap and corrupt df counts)."""
    if bc + bd <= 63:
        dk = np.unique((rows << bc) | codes)
        return (dk & ((1 << bc) - 1)).astype(np.int64)
    pair = np.empty(rows.size, dtype=[("r", np.int64), ("c", np.int64)])
    pair["r"], pair["c"] = rows, codes
    return np.unique(pair)["c"].astype(np.int64)


def _with_ords(batches, ords_bc):
    """Doc batches with ``lang_ord``/``ts_ord`` resolved from their
    ``lang``/``ts_bucket`` columns (which are dropped) against the
    broadcast (value → ordinal) dictionaries — the forward table's and
    the text source's one ordinal rule. A doc with a null value is
    dropped."""
    lang, ts = ords_bc.value
    for pdf in batches:
        pdf = pdf[pdf["lang"].notna() & pdf["ts_bucket"].notna()]
        yield pdf.drop(columns=["lang", "ts_bucket"]).assign(
            lang_ord=pdf["lang"].map(lang).astype(np.int64),
            ts_ord=pdf["ts_bucket"].map(ts).astype(np.int64))


def _forward_rows(batches):
    """Forward-table rows of doc batches (``_with_ords`` output with
    ``url`` and ``text``): doclen is the tokenizer's token count, the
    length the postings encoder sees before it clamps to 16 bits."""
    for pdf in batches:
        yield pd.DataFrame({
            "segment": pdf["segment"].to_numpy(np.int64),
            "doc_id": pdf["doc_id"].to_numpy(np.int64),
            "doclen": flat_token_codes(pdf["text"])[2],
            "url": pdf["url"].to_numpy(),
            "lang_ord": pdf["lang_ord"].to_numpy(np.int64),
            "ts_ord": pdf["ts_ord"].to_numpy(np.int64),
        })


def _term_stats_partial(batches):
    """The terms stage's per-batch (term, df, cf) partials (text
    terms + facet sentinels). Map-side pre-aggregation:
    the global dictionary then costs one tiny groupBy over ~vocab rows
    per partition instead of a full pair shuffle. Positions are NOT
    computed here — the dictionary only needs counts."""
    for pdf in batches:
        if not len(pdf):
            continue
        # straight off the code stream — no run table: cf = token
        # count per code; df = distinct (doc, code) pairs per code via
        # one packed-key unique (23% faster than building the tf frame)
        codes, uniq, doclens = flat_token_codes(pdf["text"])
        if len(uniq):
            cf_ = np.bincount(codes, minlength=len(uniq)).astype(np.int64)
            bc = max(len(uniq) - 1, 0).bit_length()
            bd = max(len(pdf) - 1, 0).bit_length()
            rows = np.repeat(np.arange(len(pdf), dtype=np.int64), doclens)
            df_ = np.bincount(_distinct_pair_codes(rows, codes, bc, bd),
                              minlength=len(uniq)).astype(np.int64)
        else:
            cf_ = df_ = np.zeros(0, dtype=np.int64)
        agg = pd.DataFrame({"term": uniq, "df": df_, "cf": cf_})
        yield pd.concat([agg] + _sentinel_stats(pdf), ignore_index=True)


def _encode_segment_local(batches, cfg: BuildConfig, tmap_bc):
    """Postings under the broadcast gate: consume one doc-range
    partition of RAW DOCS, tokenize (with positions), resolve term ids
    against the broadcast dictionary, in-memory lexsort by (segment,
    term_id, doc_id), and emit posting blocks via the shared block
    encoder — the only cluster-wide data movement was the text
    repartition that delivered these docs."""
    tmap = tmap_bc.value  # pandas (term, term_id)
    parts = []
    for pdf in batches:
        if not len(pdf):
            continue
        tf, uniq = term_freq_frame(pdf["doc_id"].to_numpy(np.int64),
                                   pdf["text"],
                                   positions=cfg.store_positions,
                                   term_codes=True)
        # ONE vocab-sized dictionary lookup per batch instead of a
        # per-run string map (runs outnumber the vocab ~50x)
        uniq_tid = pd.Series(np.asarray(uniq, dtype=object)).map(tmap)
        if uniq_tid.isna().any():
            missing = np.asarray(uniq, dtype=object)[
                uniq_tid.isna().to_numpy()][0]
            raise ValueError(
                f"term {missing!r} missing from the "
                "broadcast dictionary — pass-1 stats and pass-2 "
                "tokenization diverged (non-deterministic input?)")
        run_tids = uniq_tid.to_numpy(np.int64)[tf["tcode"].to_numpy(np.int64)]
        side = pdf[["doc_id", "lang_ord", "ts_ord", "segment"]].set_index("doc_id")
        tf = tf.join(side, on="doc_id")
        packed = pack_meta(tf["tf"].to_numpy(np.int64),
                           tf["doclen"].to_numpy(np.int64),
                           tf["lang_ord"].to_numpy(np.int64),
                           tf["ts_ord"].to_numpy(np.int64))
        text_rows = pd.DataFrame({
            "doc_id": tf["doc_id"].to_numpy(np.int64),
            "term_id": run_tids,
            "packed": packed,
            "segment": tf["segment"].to_numpy(np.int64),
            "pos_bytes": (tf["pos_bytes"].reset_index(drop=True)
                          if cfg.store_positions
                          else pd.Series(empty_binary_array(len(tf)))),
        })
        n = len(pdf)
        # facet sentinels (inverted access path for selections):
        # term ids resolved per UNIQUE ordinal, then gathered per row
        sent_packed = pack_meta(
            np.ones(n, dtype=np.int64), np.zeros(n, dtype=np.int64),
            pdf["lang_ord"].to_numpy(np.int64), pdf["ts_ord"].to_numpy(np.int64))
        sent_frames = []
        for fld, col in (("lang", "lang_ord"), ("ts", "ts_ord")):
            ords = pdf[col].to_numpy(np.int64)
            u_ords, inv = np.unique(ords, return_inverse=True)
            names = pd.Series([f"\x00{fld}:{o}" for o in u_ords])
            u_tids = names.map(tmap)
            if u_tids.isna().any():
                raise ValueError(
                    f"sentinel {names[u_tids.isna()].iloc[0]!r} missing "
                    "from the broadcast dictionary")
            sent_frames.append(pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(np.int64),
                "term_id": u_tids.to_numpy(np.int64)[inv],
                "packed": sent_packed,
                "segment": pdf["segment"].to_numpy(np.int64),
                "pos_bytes": pd.Series(empty_binary_array(n)),
            }))
        parts.append(pd.concat([text_rows] + sent_frames, ignore_index=True))
    if not parts:
        return
    allp = pd.concat(parts, ignore_index=True)
    seg = allp["segment"].to_numpy(np.int64)
    tid = allp["term_id"].to_numpy(np.int64)
    doc = allp["doc_id"].to_numpy(np.int64)
    # single-key packed sort when the per-partition ranges fit 63 bits
    # (they essentially always do: a partition spans few segments and
    # a bounded doc range) — one np.argsort over uint64 beats the
    # 3-key lexsort ~2-3× on the memory-bound sort that dominates the
    # encode stage; lexsort stays as the general fallback
    so, to, do_ = seg.min(), tid.min(), doc.min()
    bs = max(int(seg.max() - so), 0).bit_length()
    bt = max(int(tid.max() - to), 0).bit_length()
    bd = max(int(doc.max() - do_), 0).bit_length()
    if bs + bt + bd <= 63:
        key = (((seg - so) << (bt + bd)) | ((tid - to) << bd) | (doc - do_))
        order = np.argsort(key, kind="stable")
    else:
        order = np.lexsort((doc, tid, seg))
    allp = allp.iloc[order].reset_index(drop=True)
    yield from _encode_partition([allp], cfg.block_size)


def _murmur3_int(k: np.ndarray) -> np.ndarray:
    """Spark's ``hash()`` of int values, vectorized: Murmur3_x86_32
    ``hashInt`` with seed 42, as int32."""
    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    k1 = rotl(k.astype(np.int32).view(np.uint32) * np.uint32(0xCC9E2D51), 15)
    h = np.uint32(42) ^ (k1 * np.uint32(0x1B873593))
    h = rotl(h, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(4)  # fmix(h, length = 4 bytes)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32)


def _identity_partition_keys(n_parts: int) -> list[int]:
    """For each target partition i, the smallest int key k_i ≥ 0 with
    ``pmod(hash(k_i), n_parts) == i`` (``_murmur3_int``, no Spark job)
    — so ``repartition(n, key)`` places a DRIVER-computed partition
    index exactly: range partitioning with no sampling pass (which
    repartitionByRange would run over the whole child)."""
    n = 20 * n_parts
    while True:
        k = np.arange(n, dtype=np.int64)
        parts, first = np.unique(np.mod(_murmur3_int(k), n_parts),
                                 return_index=True)
        if len(parts) == n_parts:
            return k[first].tolist()
        n *= 2


def _doc_range_repartition(df: DataFrame, n_parts: int, stats: dict,
                           live: int, fallback: tuple[str, ...],
                           monotone: bool = True) -> DataFrame:
    """``df`` shuffled into ``n_parts`` contiguous doc_id ranges.

    Dense ids (``stats``' doc_min..doc_max span ≤ 2·``live`` docs) get
    arithmetic boundaries placed by identity keys — repartitionByRange
    would evaluate the whole child a second time just to sample
    boundaries. Sparse or unknown id spaces fall back to sampled ranges
    on the ``fallback`` columns, and so does a table whose segment is
    not ``monotone`` in doc_id (then a doc range would not keep the
    (segment, doc_id) range layout)."""
    dmin, dmax = stats.get("doc_min"), stats.get("doc_max")
    span = (dmax - dmin + 1) if dmin is not None else None
    if not (monotone and span and span <= 2 * max(1, live)):
        return df.repartitionByRange(n_parts, *fallback)
    keys = _identity_partition_keys(n_parts)
    part = F.floor((F.col("doc_id") - F.lit(dmin)) * F.lit(n_parts)
                   / F.lit(span)).cast("int")
    pk = F.element_at(F.array(*[F.lit(k) for k in keys]), part + 1)
    return df.withColumn("_pk", pk).repartition(n_parts, "_pk").drop("_pk")


# ------------------------------------------------------------------ the build


def build_snapshot(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
    resume: bool = True,
    extra_stats: dict | None = None,
) -> Snapshot:
    """Build (or resume building) one index snapshot from a docs frame.

    ``docs`` must have columns (doc_id long, url string, warc_ts
    timestamp, lang string) and either ``text`` or ``html``; doc_ids
    must be new (greater than any previous snapshot's).

    ``extra_stats`` (e.g. a stream batch id) is stamped on the snapshot
    stats in the SAME manifest write that publishes it, so dedup
    markers and the publish commit are atomic.

    DETERMINISM REQUIREMENT (text-bearing inputs): when ``docs``
    already carries a ``text`` column, the docs aggregation, the
    forward write and the terms and postings passes each re-evaluate
    the CALLER'S frame — the input plan must therefore be deterministic
    (no ``monotonically_increasing_id`` doc_ids, no un-seeded
    ``rand``/``sample``/``limit`` upstream), or the forward table and
    the postings can disagree on the doc_id→text mapping. Reading from
    storage (parquet/Iceberg) is deterministic; for anything
    synthetic, ``persist()`` or checkpoint the frame first. html-only
    inputs are immune (text is materialized once).
    """
    cfg = cfg or BuildConfig()
    cat = IndexCatalog(index_dir)
    parent = cat.latest()
    snap = cat.pending() if resume else None
    if snap is None:
        snap = cat.begin_snapshot()
    sid = snap.snapshot_id
    clock = StageClock(cat, snap)

    ts_col = F.date_format(
        F.date_trunc(cfg.ts_bucket, "warc_ts"), "yyyy-MM-dd").alias("ts_bucket")
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "url",
                      "text" if "text" in docs.columns
                      else extract_text("html").alias("text"),
                      "lang", ts_col)
    if "text" not in docs.columns:
        # html-only input: the text is extracted ONCE, into a scratch
        # doc table that every later pass reads, checkpointed on its
        # own so a resumed build never extracts again
        docs_path = cat.table_path("_docs", sid)
        if "extract" not in snap.stages:
            src.write.mode("overwrite").parquet(docs_path)
            clock.mark("extract")
        src = spark.read.schema(DOCS_SCHEMA).parquet(docs_path)
    forward_path = cat.table_path("forward", sid)

    # ---- stage: docs + dictionaries + forward ---------------------------
    fwd_pool = fwd_fut = None
    if "docs" not in snap.stages:
        parent_lang = parent_ts = None
        if parent is not None:
            parent_lang = read_table_pdf(cat.table_paths(parent, "dict_lang"))
            parent_ts = read_table_pdf(cat.table_paths(parent, "dict_ts_bucket"))
        # both dictionaries, the batch's segments and its doc and byte
        # counts from ONE stacked aggregation job
        aggs, new_docs, new_bytes = _dict_aggs(
            src.select("doc_id", "lang", "ts_bucket", _segment_col(cfg),
                       F.length("text").alias("n_bytes")),
            ["lang", "ts_bucket", "segment"])
        # doc-id range of THIS batch (pre-merge aggs cover every doc):
        # lets the forward and postings writes compute range-partition
        # boundaries driver-side instead of paying repartitionByRange's
        # sampling pass
        snap.stats["doc_min"] = int(aggs["lang"]["min_doc"].min())
        snap.stats["doc_max"] = int(aggs["lang"]["max_doc"].max())
        snap.stats["n_segments"] = len(aggs["segment"]) + (
            parent.stats.get("n_segments", 0) if parent else 0)
        snap.stats["new_docs"], snap.stats["new_bytes"] = new_docs, new_bytes
        lang_dict = _build_dict(aggs["lang"], parent_lang)
        ts_dict = _build_dict(aggs["ts_bucket"], parent_ts)
        for name, d in (("dict_lang", lang_dict), ("dict_ts_bucket", ts_dict)):
            write_table_pdf(
                d.astype({"ordinal": "int64", "df": "int64",
                          "min_doc": "int64", "max_doc": "int64"}),
                cat.table_path(name, sid))
    # broadcast (value → ordinal) maps of this snapshot's dictionaries,
    # for ``_with_ords``
    ords_bc = spark.sparkContext.broadcast(tuple(
        read_table_pdf(cat.table_path(t, sid), columns=["ordinal", "value"])
        .set_index("value")["ordinal"] for t in ("dict_lang", "dict_ts_bucket")))
    pair_src = src.select("doc_id", "text", "lang", "ts_bucket", _segment_col(cfg))

    if "docs" not in snap.stages:
        def _write_forward() -> None:
            rows = src.select("doc_id", "url", "text", "lang", "ts_bucket",
                              _segment_col(cfg)).mapInPandas(
                lambda it: _forward_rows(_with_ords(it, ords_bc)),
                schema=TABLE_SCHEMAS["forward"])
            (
                _doc_range_repartition(rows,
                                       max(8, spark.sparkContext.defaultParallelism),
                                       snap.stats, snap.stats["new_docs"],
                                       ("segment", "doc_id"))
                .sortWithinPartitions("segment", "doc_id")
                .write.mode("overwrite")
                .parquet(forward_path)
            )

        # guide §2.6 (overlap independent jobs): no later stage reads
        # the forward table, so its write runs concurrently with the
        # terms, stats and postings stages and is joined before the
        # publish. The dictionary aggregation is the docs stage's
        # serial lead.
        fwd_pool = ThreadPoolExecutor(max_workers=1)
        fwd_fut = clock.submit(fwd_pool, _write_forward, lead=clock.lap())

    # Everything between the overlapped forward submit and its join
    # below runs under a guard: a stage failure must JOIN the in-flight
    # write before propagating, or an immediate same-process retry
    # (resume) would race a second write of forward_path against the
    # leftover thread.
    try:
        # ---- stage: sections (regex mode only) --------------------------------
        # Per-doc section boundary arrays — written once per doc (tiny next
        # to postings); window-mode sections are pure position arithmetic
        # and need no table at all.
        sections_path = cat.table_path("sections", sid)
        if (cfg.sections and cfg.sections[0] == "regex"
                and "sections" not in snap.stages):
            if not cfg.store_positions:
                raise ValueError("sections require store_positions=True")
            pattern = cfg.sections[1]

            def to_sections(batches):
                from .tokenizer import section_starts_frame
                for pdf in batches:
                    if not len(pdf):
                        continue
                    out = section_starts_frame(
                        pdf["doc_id"].to_numpy(np.int64), pdf["text"], pattern)
                    out["segment"] = (pdf["doc_id"].to_numpy(np.int64)
                                      // cfg.docs_per_segment)
                    yield out

            src.select("doc_id", "text").mapInPandas(to_sections, schema=SECTIONS_SCHEMA) \
                .write.mode("overwrite").parquet(sections_path)
            clock.mark("sections")

        # ---- stage: pairs (built lazily; postings past the broadcast gate) --
        # (tf, doclen, lang_ord, ts_ord) are bit-packed into ONE long
        # (tf<<40 | dl<<24 | lang<<16 | ts) — halves the bytes moved
        # through the posting shuffle, the build's dominant memory/IO cost.
        pairs_path = cat.table_path("_pairs", sid)

        def build_pairs_table():
            def to_pairs(batches):
                for pdf in batches:
                    if not len(pdf):
                        continue
                    tf = term_freq_frame(pdf["doc_id"].to_numpy(np.int64), pdf["text"],
                                         positions=cfg.store_positions)
                    side = pdf[["doc_id", "lang_ord", "ts_ord", "segment"]].set_index("doc_id")
                    tf = tf.join(side, on="doc_id")
                    packed = pack_meta(tf["tf"].to_numpy(np.int64),
                                       tf["doclen"].to_numpy(np.int64),
                                       tf["lang_ord"].to_numpy(np.int64),
                                       tf["ts_ord"].to_numpy(np.int64))
                    out = pd.DataFrame({
                        "doc_id": tf["doc_id"],
                        "term": tf["term"],
                        "packed": packed,
                        "segment": tf["segment"],
                        "pos_bytes": (tf["pos_bytes"].reset_index(drop=True)
                                      if cfg.store_positions
                                      else pd.Series(empty_binary_array(len(tf)))),
                    })
                    # facet-value sentinel postings ("\x00field:ord", tf=1):
                    # give selective facet selections an inverted access
                    # path (≙ AdaptiveFacetFilter's OR-of-TermDocIdSet,
                    # facets/filter/AdaptiveFacetFilter.java:56-90).
                    # '\x00' cannot collide with [a-z0-9]+ text tokens.
                    n = len(pdf)
                    sent_packed = pack_meta(
                        np.ones(n, dtype=np.int64), np.zeros(n, dtype=np.int64),
                        pdf["lang_ord"].to_numpy(np.int64), pdf["ts_ord"].to_numpy(np.int64))
                    sent = pd.concat([
                        pd.DataFrame({
                            "doc_id": pdf["doc_id"],
                            "term": ("\x00" + fld + ":") + pdf[col].astype(str),
                            "packed": sent_packed,
                            "segment": pdf["segment"],
                            "pos_bytes": pd.Series(empty_binary_array(len(pdf))),
                        })
                        for fld, col in (("lang", "lang_ord"), ("ts", "ts_ord"))
                    ], ignore_index=True)
                    both = pd.concat([out, sent], ignore_index=True)
                    both["pos_bytes"] = compact_binary(both["pos_bytes"])
                    yield both

            pair_src.mapInPandas(lambda it: to_pairs(_with_ords(it, ords_bc)),
                                 schema=PAIRS_SCHEMA).write.mode("overwrite").parquet(pairs_path)

        # ---- stage: terms ----------------------------------------------------
        terms_path = cat.table_path("terms", sid)
        if "terms" not in snap.stages:
            # tokenize-and-count partials, one tiny shuffle of ~vocab
            # rows per partition (no pair materialization)
            delta_terms = (
                pair_src.mapInPandas(lambda it: _term_stats_partial(_with_ords(it, ords_bc)),
                                     schema="term string, df long, cf long")
                .groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            )
            if parent is not None:
                _append_terms(spark, delta_terms, cat.table_paths(parent, "terms"),
                              parent.stats["n_terms"], terms_path)
            else:
                full = assign_sorted_ids(delta_terms, spark, id_base=0,
                                         as_pandas=True)
                if isinstance(full, pd.DataFrame):
                    # driver-resident dictionary: local parquet write, no
                    # round-trip through a scheduled Spark job
                    write_table_pdf(full, terms_path)
                else:
                    full.write.mode("overwrite").parquet(terms_path)
            clock.mark("terms")

        # ---- stage: stats ----------------------------------------------------
        if "stats" not in snap.stages:
            # corpus token count = Σ cf over the (merged) term dictionary —
            # a scan of the small terms table, not of the pairs; term count
            # rides the same job (reused by postings + publish, no re-count).
            # Facet sentinel terms ('\x00...') are NOT text tokens: exclude.
            tstats = _small_table_pdf(terms_path)
            if tstats is not None:  # small dictionary: zero-job aggregate
                tok_sum = int(tstats.loc[~tstats["term"].str.startswith("\x00"),
                                         "cf"].sum())
                n_terms_stat = len(tstats)
            else:
                trow = read_table(spark, "terms", [terms_path]).agg(
                    F.sum(F.when(~F.col("term").startswith("\x00"), F.col("cf"))).alias("tok"),
                    F.count("*").alias("n_terms"),
                ).collect()[0]
                tok_sum = trow["tok"] or 0
                n_terms_stat = int(trow["n_terms"])
            n_docs = snap.stats["new_docs"] + (parent.stats["n_docs"] if parent else 0)
            snap.stats.update(
                {
                    "n_docs": int(n_docs),
                    "tok_sum": int(tok_sum),
                    "avgdl": float(tok_sum) / max(1, n_docs),
                    "n_terms": int(n_terms_stat),
                    # recorded so the query planner can reject phrase
                    # queries driver-side instead of failing in an executor
                    "store_positions": bool(cfg.store_positions),
                    # section geometry (JSON-serializable); the section
                    # search planner reads this to pick window arithmetic
                    # vs the per-doc boundary table
                    "sections": list(cfg.sections) if cfg.sections else None,
                    # segment = doc_id // docs_per_segment; None once an
                    # append used a different value (see merge's forward
                    # stage, which relies on one uniform value)
                    "docs_per_segment": (
                        cfg.docs_per_segment
                        if parent is None or parent.stats.get(
                            "docs_per_segment") == cfg.docs_per_segment
                        else None),
                }
            )
            clock.mark("stats")

        # ---- stage: postings -------------------------------------------------
        postings_path = cat.table_path("postings", sid)
        if "postings" not in snap.stages:
            # pair count ≈ distinct (doc,term) ≤ token count — stats are
            # already on the manifest, no extra count job
            n_pairs = snap.stats.get("tok_sum", 0) or 1
            n_parts = max(
                spark.sparkContext.defaultParallelism,
                math.ceil(n_pairs / cfg.rows_per_posting_partition),
            )
            if snap.stats["n_terms"] <= cfg.broadcast_terms_threshold:
                # ONE wide shuffle of the raw text by doc range; tokenize +
                # id-map + sort + encode all inside the partition. The
                # dictionary travels as a Spark broadcast.
                tmap = read_table_pdf(terms_path, columns=["term", "term_id"])
                tmap_bc = spark.sparkContext.broadcast(
                    tmap.set_index("term")["term_id"])
                (
                    _doc_range_repartition(pair_src, n_parts, snap.stats,
                                           snap.stats["new_docs"], ("doc_id",))
                    .mapInPandas(lambda it: _encode_segment_local(_with_ords(it, ords_bc),
                                                                  cfg, tmap_bc),
                                 schema=POSTINGS_SCHEMA)
                    .write.mode("overwrite")
                    .parquet(postings_path)
                )
            else:
                if "pairs" not in snap.stages:
                    build_pairs_table()
                    clock.mark("pairs")
                enriched = (
                    spark.read.schema(PAIRS_SCHEMA).parquet(pairs_path)
                    .join(read_table(spark, "terms", [terms_path]).select("term", "term_id"),
                          "term")
                    .select("segment", "term_id", "doc_id", "packed", "pos_bytes")
                )
                (
                    enriched.repartitionByRange(n_parts, "segment", "term_id", "doc_id")
                    .sortWithinPartitions("segment", "term_id", "doc_id")
                    .mapInPandas(lambda it: _encode_partition(it, cfg.block_size), schema=POSTINGS_SCHEMA)
                    .write.mode("overwrite")
                    .parquet(postings_path)
                )
            clock.mark("postings")

    except BaseException as exc:
        if fwd_fut is not None:
            try:
                fwd_fut.result()
            except Exception as fwd_exc:
                # the stage failure is what propagates; the overlapped
                # forward write's own error rides along on it
                exc.add_note(f"the overlapped forward write also failed: "
                             f"{fwd_exc!r}")
            fwd_pool.shutdown()
        raise

    if fwd_fut is not None:
        clock.join("docs", fwd_fut)  # re-raises a failed write loud
        fwd_pool.shutdown()

    # ---- publish ----------------------------------------------------------
    if "published" not in snap.stages:
        snap.stats.update(extra_stats or {})
        cumulative = {"terms": [terms_path], "dict_lang": [cat.table_path("dict_lang", sid)],
                      "dict_ts_bucket": [cat.table_path("dict_ts_bucket", sid)]}
        for t, p in (("postings", postings_path), ("forward", forward_path)):
            prev = cat.table_paths(parent, t) if parent else []
            cumulative[t] = prev + [p]
        if cfg.sections and cfg.sections[0] == "regex":
            prev = cat.table_paths(parent, "sections") if parent else []
            cumulative["sections"] = prev + [sections_path]
        # deletes are cumulative across snapshots (Lucene: an append
        # never resurrects tombstoned docs — only a merge purges them)
        if parent and "deletes" in parent.tables:
            cumulative["deletes"] = cat.table_paths(parent, "deletes")
            snap.stats["n_deleted"] = parent.stats.get("n_deleted", 0)
        snap.tables = cumulative
        cat.update_snapshot(snap)
        clock.mark("published")
    return cat.get(sid)


# ------------------------------------------------------------------- deletes


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> Snapshot:
    """Soft-delete documents: publish a new snapshot whose cumulative
    ``deletes`` table carries the tombstoned doc ids
    (≙ IndexWriter.deleteDocuments + reader reopen in the reference's
    testBrowseWithDeletes, BoboTestCase.java:2142-2195).

    Lucene semantics on purpose: deleted docs stop matching queries
    and facet counts immediately, but df/cf/avgdl statistics are
    UNCHANGED until a future segment merge — exactly how Lucene scores
    against an index with deletions. All index tables are shared with
    the parent snapshot; the commit is one atomic manifest write, so
    open readers keep their snapshot and a reopen sees the deletes
    (commit/reopen cycle).

    ``doc_ids``: iterable of ids or a single-column DataFrame.

    Tombstones are stored as ``(segment, doc_id)`` rows. Readers and
    the merge load them with ``load_tombstones`` as one sorted global
    doc_id array (doc ids are global, so no per-segment split is
    consulted). Ids absent from the index are dropped (deleting a
    nonexistent doc is a no-op, as in IndexWriter).
    """
    cat = IndexCatalog(index_dir)
    parent = cat.latest()
    if parent is None:
        raise ValueError(f"no published snapshot in {index_dir}")
    snap = cat.begin_snapshot()
    sid = snap.snapshot_id
    path = cat.table_path("deletes", sid)
    fwd_paths = cat.table_paths(parent, "forward")
    prev_paths = cat.table_paths(parent, "deletes")
    n_deleted = None
    if not isinstance(doc_ids, DataFrame):
        # Driver-direct fast path: the id list is ALREADY driver-
        # resident, so under the shared 64 MB small-table gate
        # (forward + cumulative deletes) the segment lookup is one
        # column-pruned pyarrow read and the publish is a local
        # parquet write — zero scheduled Spark jobs replacing ~4
        # fixed-latency ones. Web-scale forwards exceed the gate and
        # keep the distributed semi-join below; DataFrame inputs
        # always stay distributed (the ids may not fit the driver).
        ids = np.array(sorted({int(d) for d in doc_ids}), dtype=np.int64)
        fwd_pdf = _small_table_pdf(fwd_paths, columns=["segment", "doc_id"])
        prev_pdf = (_small_table_pdf(prev_paths, columns=["doc_id"])
                    if prev_paths else None)
        if fwd_pdf is not None and (not prev_paths or prev_pdf is not None):
            # same semantics as the semi-join: ids absent from the
            # index are dropped (delete-nonexistent is a no-op)
            mask = np.isin(fwd_pdf["doc_id"].to_numpy(np.int64), ids)
            new_pdf = (fwd_pdf.loc[mask, ["segment", "doc_id"]]
                       .astype({"segment": "int64", "doc_id": "int64"})
                       .sort_values(["segment", "doc_id"],
                                    ignore_index=True))
            write_table_pdf(new_pdf, path)
            alldel = new_pdf["doc_id"].to_numpy(np.int64)
            if prev_pdf is not None:
                alldel = np.concatenate(
                    [prev_pdf["doc_id"].to_numpy(np.int64), alldel])
            n_deleted = int(np.unique(alldel).size)
    if n_deleted is None:
        if isinstance(doc_ids, DataFrame):
            del_df = doc_ids.select(F.col(doc_ids.columns[0]).cast("long")
                                    .alias("doc_id")).distinct()
        else:
            # ``doc_ids`` may be a spent generator: use the ids taken above
            del_df = spark.createDataFrame(
                [(d,) for d in ids.tolist()], "doc_id long")
        # segment lookup: broadcast the (small) delete set against the
        # forward table — one pushed-down semi-join scan, no forward
        # shuffle
        fwd = read_table(spark, "forward", fwd_paths)
        del_df = (fwd.select("segment", "doc_id")
                  .join(F.broadcast(del_df), "doc_id")
                  .select("segment", "doc_id"))
        (del_df.repartition("segment").sortWithinPartitions("segment", "doc_id")
         .write.mode("overwrite").parquet(path))
        n_deleted = int(
            spark.read.parquet(*(prev_paths + [path]))
            .select("doc_id").distinct().count())
    snap.stats = dict(parent.stats)
    snap.tables = dict(parent.tables)
    snap.tables["deletes"] = prev_paths + [path]
    snap.stats["n_deleted"] = n_deleted
    cat.update_snapshot(snap)
    cat.mark_stage(snap, "published")
    return cat.get(sid)


def load_tombstones(cat: IndexCatalog, snap: Snapshot) -> np.ndarray:
    """The snapshot's cumulative tombstones as one sorted unique doc_id
    array (≙ Lucene liveDocs, api/BoboSegmentReader.java, but global:
    doc ids are global, so one array serves every segment). Reads only
    the doc_id column — legacy doc_id-only delete files and
    ``(segment, doc_id)`` files load alike — driver-direct, zero Spark
    jobs."""
    tbl = read_table_arrow(cat.table_paths(snap, "deletes"), columns=["doc_id"])
    if tbl is None:
        return np.zeros(0, dtype=np.int64)
    return np.unique(tbl.column("doc_id").to_numpy().astype(np.int64, copy=False))
