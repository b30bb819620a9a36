"""Segment merge / tombstone compaction (``forceMerge`` analogue).

``merge_snapshot`` publishes a new snapshot that is semantically a
FRESH BUILD of the surviving (non-tombstoned) documents:

* postings are rewritten with tombstoned docs dropped from every
  block (doc ids stay stable — no remap to invalidate);
* the term dictionary is recomputed over survivors — df/cf from the
  filtered postings, terms with df=0 dropped, dense term ids
  re-assigned by global lexicographic rank (first-build semantics);
* facet dictionaries are recomputed value-sorted over surviving
  values, and every ordinal-bearing stream (postings lang/ts bytes,
  forward columns, facet sentinel term names) is remapped;
* corpus stats (n_docs, tok_sum, avgdl) are recomputed, so BM25
  scores post-merge equal a fresh build's — this is exactly the
  point where Lucene's "deletes don't affect statistics until a
  merge" staleness (build.delete_docs) is reclaimed;
* the ``deletes`` table is dropped and all cumulative table file
  sets collapse to one path per table (compaction), published in one
  atomic manifest commit. Readers open on an older snapshot keep
  answering from their pinned file set throughout.

Reference parity: the reference's build path ends in
``writer.optimize()`` / forceMerge(1) (bobo-browse/src/main/java/com/
browseengine/bobo/index/BoboIndexer.java:73-86), and Lucene reclaims
deleted docs + their statistics on merge; BasicIndexingTest's
commit/reopen cycle (test/BasicIndexingTest.java:61-191) is the
semantic model for readers across the merge.

Scale shape: two passes over the postings table — a column-pruned
stats pass (docID + tf streams only) and a map-only rewrite (NO
shuffle: blocks are filtered/re-encoded in place, so the merge moves
each posting byte exactly once) — plus one narrow forward shuffle.
The tombstones (one sorted global doc_id array, ``build.load_tombstones``)
and the ordinal remaps ride per-executor broadcasts; the new term-id
map broadcasts below ``broadcast_idmap_threshold`` ids and falls back
to a distributed join above it (web-scale dictionaries).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

from concurrent.futures import ThreadPoolExecutor

from .build import (POSTINGS_SCHEMA, TABLE_SCHEMAS, _doc_range_repartition,
                    _encode_partition, _small_table_pdf, assign_sorted_ids,
                    load_tombstones, pack_meta, read_table)
from .catalog import IndexCatalog, Snapshot, StageClock, read_table_pdf, write_table_pdf
# the docID rebase and tombstone membership are the query engine's own
# (codecs): a codec change that reached query-side decode but not the
# merge (or vice versa) would silently corrupt merged indexes
from .codecs import (_rebase_docs, _sorted_member, binary_array, binary_parts,
                     vb_decode, vb_encode_segmented)

_SENTINEL_FIELDS = {"lang": "dict_lang", "ts": "dict_ts_bucket"}


# ------------------------------------------------------------- batch helpers


def _decode_block_docs(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(decoded docIDs, n_docs per block) for a batch of block rows."""
    nds = pdf["n_docs"].to_numpy(np.int64)
    deltas = vb_decode(b"".join(pdf["doc_bytes"])).astype(np.int64)
    return _rebase_docs(deltas, nds, pdf["first_doc"].to_numpy(np.int64)), nds


def _stats_partials(batches, dead_bc):
    """Column-pruned pass over the old postings: per-batch
    (term_id, df, cf) partials with tombstoned docs excluded.
    Per-doc forward runs (term_id = -1, written by builds before the
    forward table took doclen from the tokenizer) are not terms."""
    for pdf in batches:
        pdf = pdf[pdf["term_id"] >= 0]
        if not len(pdf):
            continue
        docs, nds = _decode_block_docs(pdf)
        keep = ~_sorted_member(dead_bc.value, docs)
        tf = vb_decode(binary_parts(pdf["tf_bytes"])[0]).astype(np.int64)
        tid_el = np.repeat(pdf["term_id"].to_numpy(np.int64), nds)
        g = pd.DataFrame({"term_id": tid_el[keep], "cf": tf[keep]})
        out = g.groupby("term_id", as_index=False).agg(
            df=("cf", "size"), cf=("cf", "sum"))
        yield out[["term_id", "df", "cf"]]


def _rewrite_blocks(batches, dead_bc, maps_bc, block_size: int):
    """Map-only rewrite of posting blocks: drop tombstoned docs,
    remap facet ordinals in the lang/ts streams, remap term ids
    (when the id map is broadcast), re-encode through the build's
    shared block encoder — so merged blocks are byte-compatible with
    fresh-build blocks. Blocks of a (segment, term) run that share a
    batch re-chunk to full ``block_size``; a run split across batch
    or file boundaries yields adjacent shorter blocks, which the
    decoder treats identically."""
    for pdf in batches:
        if not len(pdf):
            continue
        lang_rm, ts_rm, tid_rm = maps_bc.value
        docs, nds = _decode_block_docs(pdf)
        keep = ~_sorted_member(dead_bc.value, docs)
        if not keep.any():
            continue
        cat = lambda c: binary_parts(pdf[c])[0]  # noqa: E731
        tf = vb_decode(cat("tf_bytes")).astype(np.int64)
        dl = vb_decode(cat("dl_bytes")).astype(np.int64)
        lang = vb_decode(cat("lang_bytes")).astype(np.int64)
        ts = vb_decode(cat("ts_bytes")).astype(np.int64)
        tids = pdf["term_id"].to_numpy(np.int64)
        if tid_rm is not None:
            new_tids = np.where(tids >= 0, tid_rm[np.maximum(tids, 0)], -1)
        else:
            new_tids = tids  # join fallback remaps after the map
        tid_el = np.repeat(new_tids, nds)
        seg_el = np.repeat(pdf["segment"].to_numpy(np.int64), nds)
        if (tid_el[keep] < -1).any():
            raise AssertionError(
                "posting survived for a term whose merged df is 0 — "
                "stats pass and rewrite pass diverged")
        # positions: a block's pos stream is the concatenation of its
        # postings' (first-absolute, then gaps) buffers — exactly tf
        # values per posting when the block carries positions, zero
        # bytes otherwise (sentinel / forward runs). Dropping a doc
        # never changes another doc's buffer, so decode + re-encode
        # of the survivors is exact.
        pos_all, pos_offs = binary_parts(pdf["pos_bytes"]) \
            if "pos_bytes" in pdf.columns else (b"", np.zeros(len(pdf) + 1,
                                                              dtype=np.int64))
        blk_has_pos = np.diff(pos_offs) > 0
        has_el = np.repeat(blk_has_pos, nds)
        pos_counts = np.where(has_el, tf, 0)
        vals = vb_decode(pos_all).astype(np.uint64)
        if vals.size != int(pos_counts.sum()):
            raise ValueError("positions stream truncated — index is "
                             "corrupt or codec drifted")
        keep_vals = np.repeat(keep, pos_counts)
        counts_k = pos_counts[keep]
        starts_k = np.cumsum(counts_k) - counts_k
        pos_buf, pos_off_k = vb_encode_segmented(vals[keep_vals], starts_k)
        frame = pd.DataFrame({
            "doc_id": docs[keep],
            "term_id": tid_el[keep],
            "packed": pack_meta(tf, dl, lang_rm[lang], ts_rm[ts])[keep],
            "segment": seg_el[keep],
            "pos_bytes": pd.Series(binary_array(pos_buf, pos_off_k)),
        })
        yield from _encode_partition([frame], block_size)


# ---------------------------------------------------------------- the merge


def merge_snapshot(spark: SparkSession, index_dir: str,
                   block_size: int = 128,
                   broadcast_idmap_threshold: int = 20_000_000) -> Snapshot:
    """Merge the latest snapshot: purge tombstoned docs, recompute all
    statistics and dictionaries, compact cumulative tables, publish
    atomically. Post-merge, the index answers every query exactly as a
    fresh build of the surviving documents would (stats included).

    Stage-checkpointed like build_snapshot: a killed merge resumes
    from the last completed stage of the pending manifest entry.
    """
    cat = IndexCatalog(index_dir)
    parent = cat.latest()
    if parent is None:
        raise ValueError(f"no published snapshot in {index_dir}")
    pend = cat.pending()
    if pend is not None and pend.stats.get("merge_of") == parent.snapshot_id:
        snap = pend
    else:
        snap = cat.begin_snapshot()
        snap.stats["merge_of"] = parent.snapshot_id
        cat.update_snapshot(snap)
    sid = snap.snapshot_id
    clock = StageClock(cat, snap)
    dead = load_tombstones(cat, parent)
    dead_bc = spark.sparkContext.broadcast(dead)

    def _live(batches):
        """Rows of surviving docs, tombstones dropped in the task (no join)."""
        for pdf in batches:
            yield pdf[~_sorted_member(dead_bc.value, pdf["doc_id"].to_numpy(np.int64))]

    # ---- stage: dicts (facet dictionaries over survivors) ----------------
    fwd = read_table(spark, "forward", cat.table_paths(parent, "forward"))
    if "dicts" not in snap.stages:
        # r6: driver twin under the shared 64 MB file-size gate — the
        # forward table is a catalog table, so the same pyarrow read
        # the dictionaries use serves the (field, ord) counts with
        # zero Spark jobs; big forwards keep the distributed agg
        fpd = _small_table_pdf(cat.table_paths(parent, "forward"))
        if fpd is not None:
            fpd = fpd[~_sorted_member(dead, fpd["doc_id"].to_numpy(np.int64))]
            parts = []
            for fld, col in (("lang", "lang_ord"), ("ts", "ts_ord"),
                             ("seg", "segment")):
                g = (fpd.groupby(col)["doc_id"]
                     .agg(["count", "min", "max"]).reset_index())
                parts.append(pd.DataFrame({
                    "field": fld, "ord": g[col].astype(np.int64),
                    "df": g["count"].astype(np.int64),
                    "min_doc": g["min"].astype(np.int64),
                    "max_doc": g["max"].astype(np.int64)}))
            agg = pd.concat(parts, ignore_index=True)
        else:
            # one job for both fields and the segments: unpivot
            # (field, ord) then count
            agg = (fwd.mapInPandas(_live, schema=TABLE_SCHEMAS["forward"]).selectExpr(
                "doc_id",
                "stack(3, 'lang', lang_ord, 'ts', ts_ord, 'seg', segment) "
                "AS (field, ord)")
                .groupBy("field", "ord")
                .agg(F.count("*").alias("df"),
                     F.min("doc_id").alias("min_doc"),
                     F.max("doc_id").alias("max_doc"))
                .toPandas())
        lang_rows = agg[agg["field"] == "lang"]
        snap.stats["n_docs"] = int(lang_rows["df"].sum())
        if snap.stats["n_docs"] == 0:
            raise ValueError("every document is tombstoned — nothing "
                             "to merge (drop the index instead)")
        # segments holding a survivor — a fresh build's count
        snap.stats["n_segments"] = int((agg["field"] == "seg").sum())
        if len(lang_rows):
            snap.stats["doc_min"] = int(lang_rows["min_doc"].min())
            snap.stats["doc_max"] = int(lang_rows["max_doc"].max())
        for fld, tbl in _SENTINEL_FIELDS.items():
            old = read_table_pdf(cat.table_paths(parent, tbl))
            part = (agg[(agg["field"] == fld) & (agg["ord"] > 0)]
                    .drop(columns="field")
                    .merge(old[["ordinal", "value"]],
                           left_on="ord", right_on="ordinal"))
            # fresh-build dictionary: value-sorted, ordinals 1..n
            # (ordinal 0 = missing, Bobo convention)
            part = part.sort_values("value", ignore_index=True)
            new = pd.DataFrame({
                "ordinal": np.arange(1, len(part) + 1, dtype=np.int64),
                "value": part["value"],
                "df": part["df"].astype(np.int64),
                "min_doc": part["min_doc"].astype(np.int64),
                "max_doc": part["max_doc"].astype(np.int64),
            })
            write_table_pdf(new, cat.table_path(tbl, sid))
        cat.update_snapshot(snap)
        clock.mark("dicts")

    def _ord_remap(fld: str) -> np.ndarray:
        tbl = _SENTINEL_FIELDS[fld]
        old = read_table_pdf(cat.table_paths(parent, tbl))
        new = read_table_pdf(cat.table_path(tbl, sid))
        hi = int(old["ordinal"].max()) if len(old) else 0
        rm = np.zeros(hi + 1, dtype=np.int64)  # dropped values (and 0) -> 0
        m = old[["ordinal", "value"]].merge(
            new[["ordinal", "value"]], on="value", suffixes=("_o", "_n"))
        rm[m["ordinal_o"].to_numpy(np.int64)] = m["ordinal_n"].to_numpy(np.int64)
        return rm

    lang_rm, ts_rm = _ord_remap("lang"), _ord_remap("ts")

    # ---- stage: terms (df/cf over survivors, fresh sorted ids) -----------
    terms_path = cat.table_path("terms", sid)
    idmap_path = cat.table_path("_idmap", sid)
    old_terms = read_table(spark, "terms", cat.table_paths(parent, "terms"))
    if "terms" not in snap.stages:
        pruned = read_table(spark, "postings", cat.table_paths(parent, "postings")) \
            .select("segment", "term_id", "first_doc", "n_docs",
                    "doc_bytes", "tf_bytes")
        partials = pruned.mapInPandas(
            lambda it: _stats_partials(it, dead_bc),
            schema="term_id long, df long, cf long")
        stats = partials.groupBy("term_id").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        joined = (stats.join(old_terms.select("term", "term_id"), "term_id")
                  .where(F.col("df") > 0)
                  .withColumnRenamed("term_id", "old_id"))

        # facet sentinel terms encode ordinals in their NAME
        # ('\x00field:ord') — rewrite them to the merged ordinals so a
        # fresh build's sentinel vocabulary (and its lexicographic id
        # order) is reproduced exactly
        def rename_sentinels(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                pdf = pdf[["old_id", "df", "cf", "term"]].copy()
                for fld, rm in (("lang", lang_rm), ("ts", ts_rm)):
                    pfx = "\x00" + fld + ":"
                    m = pdf["term"].str.startswith(pfx)
                    if not m.any():
                        continue
                    old_ord = pdf.loc[m, "term"].str[len(pfx):].astype(np.int64)
                    new_ord = rm[old_ord.to_numpy()]
                    if (new_ord == 0).any():
                        raise AssertionError(
                            "surviving sentinel maps to a dropped "
                            "facet value — dict and postings diverged")
                    pdf.loc[m, "term"] = pfx + pd.Series(
                        new_ord.astype(str), index=old_ord.index)
                yield pdf

        renamed = joined.mapInPandas(
            rename_sentinels,
            schema="old_id long, df long, cf long, term string")
        # survivors are a subset of the parent dictionary, so its
        # n_terms is a true upper bound — lets assign_sorted_ids skip
        # the count job and, when small, return a driver-resident
        # frame both tables are written from with zero Spark jobs
        with_ids = assign_sorted_ids(
            renamed, spark, id_base=0, as_pandas=True,
            max_rows_hint=parent.stats.get("n_terms"))
        if isinstance(with_ids, pd.DataFrame):
            write_table_pdf(with_ids[["term", "df", "cf", "term_id"]],
                            terms_path)
            write_table_pdf(with_ids[["old_id", "term_id"]], idmap_path)
        else:
            with_ids.persist()
            (with_ids.select("term", "df", "cf", "term_id")
             .write.mode("overwrite").parquet(terms_path))
            (with_ids.select("old_id", "term_id")
             .write.mode("overwrite").parquet(idmap_path))
            with_ids.unpersist()
        clock.mark("terms")

    # ---- stage: stats ----------------------------------------------------
    if "stats" not in snap.stages:
        tpd = read_table_pdf(terms_path)
        tok_sum = int(tpd.loc[~tpd["term"].str.startswith("\x00"),
                              "cf"].sum())
        n_docs = snap.stats["n_docs"]
        snap.stats.update({
            "tok_sum": tok_sum,
            "avgdl": float(tok_sum) / max(1, n_docs),
            "n_terms": int(len(tpd)),
            "new_docs": 0,
            "new_bytes": 0,
            "n_deleted": 0,
            "store_positions": bool(parent.stats.get("store_positions",
                                                     False)),
            "sections": parent.stats.get("sections"),
            "docs_per_segment": parent.stats.get("docs_per_segment"),
        })
        cat.update_snapshot(snap)
        clock.mark("stats")

    # ---- stage: postings (map-only rewrite, no shuffle) ------------------
    postings_path = cat.table_path("postings", sid)

    def _run_postings() -> None:
        n_terms = snap.stats.get("n_terms", 0)
        use_bc = n_terms <= broadcast_idmap_threshold
        tid_rm = None
        if use_bc:
            idm = read_table_pdf(idmap_path)
            # term ids are dense on every path: 0..n_terms-1
            tid_rm = np.full(parent.stats["n_terms"], -2, dtype=np.int64)
            tid_rm[idm["old_id"].to_numpy(np.int64)] = \
                idm["term_id"].to_numpy(np.int64)
        maps_bc = spark.sparkContext.broadcast((lang_rm, ts_rm, tid_rm))
        rewritten = read_table(
            spark, "postings", cat.table_paths(parent, "postings")).mapInPandas(
            lambda it: _rewrite_blocks(it, dead_bc, maps_bc, block_size),
            schema=POSTINGS_SCHEMA)
        if not use_bc:
            # web-scale dictionary: remap ids with a distributed join
            # instead of a driver-sized array. A surviving block whose
            # term is missing from the id map is the same stats/rewrite
            # divergence the broadcast path raises on — fail the job in
            # the executor, never coerce real postings to term_id -1
            idmap = spark.read.schema("old_id long, term_id long").parquet(idmap_path)
            diverged = F.raise_error(F.concat(
                F.lit("merge id-remap: surviving postings for a term "
                      "absent from the merged dictionary (old_id="),
                F.col("old_id").cast("string"),
                F.lit(") — stats pass and rewrite diverged"))).cast("long")
            rewritten = (
                rewritten.withColumnRenamed("term_id", "old_id")
                .join(idmap, "old_id", "left")
                .withColumn(
                    "term_id",
                    F.when(F.col("old_id") < 0, F.lit(-1))
                    .when(F.col("term_id").isNotNull(), F.col("term_id"))
                    .otherwise(diverged))
                .drop("old_id")
                # the join shuffles block rows, losing the doc-ascending
                # order within (segment, term) runs that a LATER merge's
                # _rewrite_blocks re-chunking (and the conjunctive
                # block-skip's first_doc/last_doc metadata) relies on —
                # restore it before writing
                .sortWithinPartitions("segment", "term_id", "first_doc"))
        rewritten.write.mode("overwrite").parquet(postings_path)

    # ---- stages: postings ∥ forward ∥ sections ----------------------------
    # the forward and sections rewrites read only the PARENT tables,
    # the tombstones and the ordinal remaps — all ready before the
    # postings rewrite — so they run concurrently WITH it (guide §2.6:
    # back-fill executors from a driver thread pool)
    forward_path = cat.table_path("forward", sid)
    sections_path = cat.table_path("sections", sid)
    has_sections = bool(cat.table_paths(parent, "sections"))

    def _survivors(batches):
        """Surviving forward rows, facet ordinals remapped, in the task."""
        for pdf in _live(batches):
            yield pdf.assign(lang_ord=lang_rm[pdf["lang_ord"].to_numpy(np.int64)],
                             ts_ord=ts_rm[pdf["ts_ord"].to_numpy(np.int64)])

    def _run_forward() -> None:
        rows = fwd.mapInPandas(_survivors, schema=TABLE_SCHEMAS["forward"])
        # segment = doc_id // docs_per_segment is monotone in doc_id
        # while every batch used the same docs_per_segment (appends
        # only grow both); batches with different values record None,
        # and snapshots that predate the stat carry none
        (_doc_range_repartition(rows, max(8, spark.sparkContext.defaultParallelism),
                                snap.stats, snap.stats.get("n_docs", 0),
                                ("segment", "doc_id"),
                                monotone=parent.stats.get("docs_per_segment") is not None)
         .sortWithinPartitions("segment", "doc_id")
         .write.mode("overwrite").parquet(forward_path))

    def _run_sections() -> None:
        sec = read_table(spark, "sections", cat.table_paths(parent, "sections"))
        sec.mapInPandas(_live, schema=TABLE_SCHEMAS["sections"]) \
            .write.mode("overwrite").parquet(sections_path)

    pre = []
    if "forward" not in snap.stages:
        pre.append(("forward", _run_forward))
    if has_sections and "sections" not in snap.stages:
        pre.append(("sections", _run_sections))
    need_postings = "postings" not in snap.stages
    if pre or need_postings:
        # the executor context joins every thread even when the
        # postings rewrite raises, so a resume never races leftover
        # forward/sections writes
        with ThreadPoolExecutor(max_workers=len(pre) + 1) as ex:
            futs = [(name, clock.submit(ex, fn)) for name, fn in pre]
            if need_postings:
                _run_postings()  # on the calling thread
                clock.mark("postings")
            for name, fut in futs:
                clock.join(name, fut)

    # ---- publish ---------------------------------------------------------
    if "published" not in snap.stages:
        tables = {
            "terms": [terms_path],
            "postings": [postings_path],
            "forward": [forward_path],
            "dict_lang": [cat.table_path("dict_lang", sid)],
            "dict_ts_bucket": [cat.table_path("dict_ts_bucket", sid)],
        }
        if has_sections:
            tables["sections"] = [sections_path]
        snap.tables = tables  # NO deletes key: tombstones are reclaimed
        cat.update_snapshot(snap)
        clock.mark("published")
        # the old→new id map was resume scratch for the postings
        # stage; nothing references it once the snapshot is published
        import shutil
        shutil.rmtree(idmap_path, ignore_errors=True)
    return cat.get(sid)
