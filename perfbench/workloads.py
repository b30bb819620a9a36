"""The benchmark workloads. Each takes a started Context, runs set-up,
a timed closed loop (one client; the next request is sent when the
previous reply is back), then the output checks, and fills
``ctx.metrics`` (end-to-end) and ``ctx.details``.

End-to-end metrics, the same six on every workload:
  setup_s      session start + median input generation (+ index build +
               median reader open and cache warm on search_cached);
               the repeated phases run SETUP_ROUNDS times each
  p50_ms/p90_ms  latency of the workload's interactive requests
  ops_per_s    interactive requests completed per second of loop time
  bulk_per_s   the workload's bulk rate: search_many queries/s
               (search_cached), ingested docs/s over dedup + build +
               append + merge (index_write)
  driver_rss_mb  peak RSS of the driver Python process before the checks
"""

from __future__ import annotations

import gc
import os
import time

import numpy as np
import pandas as pd

import checks
import inputs
from harness import median, percentile

SETUP_ROUNDS = 3
EMBED_DIM = 64


def _sizes(ctx, full: dict, toy: dict) -> dict:
    return toy if ctx.toy else full


def _timed(ctx, name: str, fn, *args, tag_jobs: bool = True, **kwargs):
    """One counted operation inside a span; returns (result, seconds)."""
    with ctx.tr.span(name, tag_jobs=tag_jobs):
        t0 = time.perf_counter()
        out = ctx.op(fn, *args, **kwargs)
        return out, time.perf_counter() - t0


def _rounds(ctx, name: str, fn, rounds: int = SETUP_ROUNDS):
    """Run a set-up phase ``rounds`` times; return (last result, median s)."""
    secs, out = [], None
    for _ in range(rounds):
        with ctx.tr.span(name):
            t0 = time.perf_counter()
            out = fn()
            secs.append(time.perf_counter() - t0)
    return out, median(secs)


def _latency_metrics(ctx, lat: list[float], loop_s: float) -> None:
    ctx.metrics["p50_ms"] = 1000 * median(lat)
    ctx.metrics["p90_ms"] = 1000 * percentile(lat, 0.9)
    ctx.metrics["ops_per_s"] = len(lat) / loop_s
    ctx.details["samples"] = len(lat)


def _corpus(ctx, vocab, rows, name="corpus.parquet"):
    path = ctx.path(name)

    def make():
        pdf = inputs.corpus(vocab, rows)
        inputs.write_parquet(pdf, path)
        return pdf

    pdf, secs = _rounds(ctx, "webgen.corpus", make)
    return pdf, path, secs


def _build(ctx, src: str, index_dir, n_docs, name="build.build_snapshot"):
    """Build (or append) a snapshot from the parquet input ``src``; the
    input read is part of the build span."""
    from bobo_spark.build import BuildConfig, build_snapshot

    cfg = BuildConfig(docs_per_segment=max(500, n_docs // 8))

    def build():
        return build_snapshot(ctx.spark, ctx.spark.read.parquet(src), index_dir, cfg)

    return _timed(ctx, name, build)


def _open_reader(ctx, index_dir, warm_reqs):
    """Open a reader and warm its caches (the in-driver block cache and
    the shared decode cache) with one pass over ``warm_reqs``, single
    and batched."""
    from bobo_spark.query import IndexReader

    def make():
        with ctx.tr.span("query.reader_open"):
            r = IndexReader(ctx.spark, index_dir)
        with ctx.tr.span("query.cache_warm"):
            for req in warm_reqs:
                r.search(req)
            r.search_many(warm_reqs)
        return r

    return _rounds(ctx, "query.reader_ready", make)


def _stage_secs(ctx, prefix: str, snap) -> None:
    if snap is None:
        return
    for k, v in (snap.stats.get("stage_secs") or {}).items():
        ctx.details[f"{prefix}.{k}_s"] = float(v)


# ---------------------------------------------------------- search_cached


def search_cached(ctx) -> None:
    """~3k-doc index: tok_sum far under the in-driver block-cache gate,
    so every search and search_many runs from the driver cache with
    zero Spark jobs."""
    sz = _sizes(ctx, {"docs": 3000}, {"docs": 1500})
    with ctx.tr.span("webgen.vocab"):
        vocab = inputs.Vocab()
    pdf, src, corpus_s = _corpus(ctx, vocab, inputs.row_window(ctx.seed, sz["docs"]))
    with ctx.tr.span("webgen.queries"):
        mix = inputs.keyword_mix(ctx.seed, vocab, pdf)
    idx = ctx.path("index")
    snap, build_s = _build(ctx, src, idx, len(pdf))
    _stage_secs(ctx, "build", snap)
    reader, ready_s = _open_reader(ctx, idx, mix)
    ctx.metrics["setup_s"] = ctx.details["session_start_s"] + corpus_s + build_s + ready_s

    # passes over the mix alternate with one search_many batch of the
    # same mix, so both sample the whole window (a slow stretch of the
    # host then shifts both alike instead of one of them)
    first: list = []
    lat: list[float] = []
    batch_qps, batch = [], None
    loop_s = 0.0
    gc.collect()
    loop_end = time.perf_counter() + ctx.seconds
    while not first or time.perf_counter() < loop_end:
        t0 = time.perf_counter()
        for req in mix:
            res, dt = _timed(ctx, "query.search", reader.search, req, tag_jobs=False)
            lat.append(dt)
            if len(first) < len(mix):
                first.append(res)
        loop_s += time.perf_counter() - t0
        batch, dt = _timed(ctx, "query.search_many", reader.search_many, mix)
        batch_qps.append(len(mix) / dt)
    _latency_metrics(ctx, lat, loop_s)
    ctx.metrics["bulk_per_s"] = median(batch_qps)
    ctx.details["batch_qps"] = batch_qps
    ctx.mark_rss()

    with ctx.tr.span("check.outputs"):
        ref = checks.Reference(pdf)
        for j, req in enumerate(mix):
            if first[j] is not None:
                ctx.check(checks.check_search(ref, req, first[j]))
                if batch is not None:
                    ctx.check(checks.check_same_results(f"request {j}", first[j], batch[j]))


# ------------------------------------------------------- Spark-path reads


def _browser(ctx, srcs: list[str]):
    from pyspark.sql import functions as F

    from bobo_spark.facets import BoboBrowser
    from bobo_spark.facets.handlers import SimpleFacetHandler

    df = ctx.spark.read.parquet(*srcs).select(
        "doc_id", "lang",
        F.regexp_extract("url", "//([^/]+)/", 1).alias("host"),
        F.date_format("warc_ts", "yyyy-MM").alias("month"))
    return BoboBrowser(df, [SimpleFacetHandler(f) for f in ("lang", "host", "month")],
                       doc_col="doc_id")


BROWSE_FIELDS = ("lang", "host", "month")


def _browse_request(sel: dict):
    from bobo_spark.facets import BrowseRequest, BrowseSelection, FacetSpec

    req = BrowseRequest(count=10)
    for f, vals in sel.items():
        req.add_selection(BrowseSelection(f, values=list(vals)))
    for f in BROWSE_FIELDS:
        req.set_facet_spec(f, FacetSpec(order_by="hits", max_count=10,
                                        expand_selection=True))
    return req


# ------------------------------------------------------------ index_write


def _dedup(ctx, docs_path, emb_path):
    """Ingest-time dedup: MinHash-LSH, SimHash and exact dedup over the
    incoming pages, cosine LSH near-dups over their embeddings."""
    from bobo_spark import simsearch, textops

    with ctx.tr.span("webgen.load"):
        docs = ctx.spark.read.parquet(docs_path).select("doc_id", "text")
        emb = ctx.spark.read.parquet(emb_path)
    found, secs = {}, {}

    def pairs(df):
        return {(min(a, b), max(a, b)) for a, b in zip(df["id_a"].astype(int),
                                                       df["id_b"].astype(int))}

    for name, fn in (
        ("textops.minhash", lambda: pairs(textops.minhash_lsh_pairs(docs).toPandas())),
        ("textops.simhash", lambda: pairs(textops.simhash_neardup_pairs(docs).toPandas())),
        ("textops.exact", lambda: textops.exact_dedup(docs).toPandas()),
        ("simsearch.neardup", lambda: pairs(
            simsearch.cosine_neardup_pairs_lsh(emb, dim=EMBED_DIM).toPandas())),
    ):
        found[name], secs[name] = _timed(ctx, name, fn)
    return found, secs


def _catalog(ctx, index_dir: str, input_bytes: int) -> None:
    from bobo_spark.catalog import TABLES, IndexCatalog

    cat = IndexCatalog(index_dir)
    snap = cat.latest()
    total = files = 0
    for t in TABLES + ("deletes",):
        size = 0
        for p in cat.table_paths(snap, t):
            local = p[len("file:"):] if p.startswith("file:") else p
            walk = [(local, [], [""])] if os.path.isfile(local) else os.walk(local)
            for d, _, names in walk:
                for n in names:
                    f = os.path.join(d, n) if n else d
                    if not os.path.basename(f).startswith((".", "_")):
                        size += os.path.getsize(f)
                        files += 1
        ctx.details[f"catalog.{t}_bytes"] = size
        total += size
    ctx.details["catalog.index_bytes"] = total
    ctx.details["catalog.files"] = files
    ctx.details["catalog.bytes_per_input_byte"] = total / max(1, input_bytes)


def _spark_path_reads(ctx, reader, base, app) -> list:
    """One pass of requests that run as Spark jobs at any index size:
    MatchAll-with-selection searches on the merged index and
    multi-select browses over the ingested pages. Their latencies are
    reported per layer (query.search_spark_ms, facets.browse_*) and in
    the details line, not in p50/p90."""
    with ctx.tr.span("facets.browser_open"):
        browser = _browser(ctx, [ctx.path("base.parquet"), ctx.path("append.parquet")])
    out, by_kind = [], {"matchall": [], "browse": []}
    for item in inputs.spark_mix(ctx.seed, pd.concat([base, app], ignore_index=True)):
        if isinstance(item, tuple):
            res, dt = _timed(ctx, "facets.browse", browser.browse, _browse_request(item[1]),
                             tag_jobs=False)
            by_kind["browse"].append(dt)
        else:
            res, dt = _timed(ctx, "query.search", reader.search, item, tag_jobs=False)
            by_kind["matchall"].append(dt)
        out.append((item, res))
    for k, v in by_kind.items():
        ctx.details[f"{k}_p50_ms"] = 1000 * median(v)
        ctx.details[f"{k}_samples"] = len(v)
    return out


def index_write(ctx) -> None:
    """Ingest and maintain an index: dedup the incoming pages, build a
    base snapshot, append a second batch, delete docs in batches with
    short read loops between them (reads under tombstones across many
    snapshots), merge, read after the merge, then one pass of Spark-path
    reads (MatchAll selections and multi-select browses)."""
    from bobo_spark.build import delete_docs
    from bobo_spark.merge import merge_snapshot
    from bobo_spark.query import IndexReader

    sz = _sizes(ctx, {"base": 2000, "append": 500, "dups": 20, "vecs": 2000, "del": 20},
                {"base": 1200, "append": 300, "dups": 10, "vecs": 1000, "del": 12})
    with ctx.tr.span("webgen.vocab"):
        vocab = inputs.Vocab()
    rows = inputs.row_window(ctx.seed, sz["base"] + 2 * sz["dups"] + sz["append"])

    def make_inputs():
        base = inputs.corpus(vocab, rows[:sz["base"]])
        base, exact, near = inputs.with_planted_dups(base, ctx.seed, sz["dups"], sz["dups"])
        app = inputs.corpus(vocab, rows[sz["base"] + 2 * sz["dups"]:])
        emb, vpairs = inputs.embeddings(ctx.seed, sz["vecs"], EMBED_DIM, sz["dups"])
        inputs.write_parquet(base, ctx.path("base.parquet"))
        inputs.write_parquet(app, ctx.path("append.parquet"))
        emb.to_parquet(ctx.path("emb.parquet"), index=False)
        return base, app, exact, near, vpairs

    (base, app, exact, near, vpairs), corpus_s = _rounds(ctx, "webgen.corpus", make_inputs)
    # no warm-up build: an ingest job pays the session's first-job cost
    # in its first write (the dedup pass), and bulk_per_s includes it
    ctx.metrics["setup_s"] = ctx.details["session_start_s"] + corpus_s

    with ctx.tr.span("webgen.queries"):
        reads = [r for r in inputs.keyword_mix(ctx.seed, vocab, base, n=48)
                 if r.mode in ("and", "or") and not r.recency and not r.explain]
    idx = ctx.path("index")
    lat: list[float] = []
    loop_s = 0.0
    write_s = 0.0
    deleted: set[int] = set()
    samples: list[tuple[str, object, object, frozenset]] = []

    def read_loop(reader, phase: str, seconds: float):
        nonlocal loop_s
        end = time.perf_counter() + seconds
        t0 = time.perf_counter()
        i = 0
        while time.perf_counter() < end or i < len(reads):
            res, dt = _timed(ctx, "query.search", reader.search, reads[i % len(reads)],
                             tag_jobs=False)
            lat.append(dt)
            if i < len(reads):
                samples.append((phase, reads[i], res, frozenset(deleted)))
            i += 1
        loop_s += time.perf_counter() - t0

    gc.collect()
    found, dedup_secs = _dedup(ctx, ctx.path("base.parquet"), ctx.path("emb.parquet"))
    write_s += sum(dedup_secs.values())
    snap, s = _build(ctx, ctx.path("base.parquet"), idx, len(base))
    _stage_secs(ctx, "build", snap)
    ctx.details["build.wall_s"] = s
    write_s += s
    phase_s = ctx.seconds / 5
    read_loop(_timed(ctx, "query.reader_open", IndexReader, ctx.spark, idx)[0], "base", phase_s)
    _, s = _build(ctx, ctx.path("append.parquet"), idx, len(app),
                  name="build.append")
    ctx.details["build.append_s"] = s
    write_s += s

    rng = np.random.default_rng([ctx.seed, 5])
    all_ids = np.concatenate([base["doc_id"].to_numpy(), app["doc_id"].to_numpy()])
    batches = [[b for _, b in exact]] + [
        sorted(int(x) for x in rng.choice(all_ids, sz["del"], replace=False)) for _ in range(3)]
    delete_ms = []
    for batch in batches:
        _, dt = _timed(ctx, "build.delete_docs", delete_docs, ctx.spark, idx, batch)
        lat.append(dt)
        loop_s += dt
        delete_ms.append(1000 * dt)
        deleted.update(batch)
        reader, dt = _timed(ctx, "query.reader_open", IndexReader, ctx.spark, idx)
        read_loop(reader, "deletes", phase_s / len(batches))
    ctx.details["build.delete_p50_ms"] = median(delete_ms)

    msnap, s = _timed(ctx, "merge.merge_snapshot", merge_snapshot, ctx.spark, idx)
    _stage_secs(ctx, "merge", msnap)
    ctx.details["merge.wall_s"] = s
    write_s += s
    merged = _timed(ctx, "query.reader_open", IndexReader, ctx.spark, idx)[0]
    read_loop(merged, "merged", phase_s)
    _latency_metrics(ctx, lat, loop_s)
    spark_reads = _spark_path_reads(ctx, merged, base, app)
    n_ingested = len(base) + len(app)
    ctx.metrics["bulk_per_s"] = n_ingested / write_s
    ctx.details["write_s"] = write_s
    ctx.details["build.docs_per_s"] = n_ingested / (ctx.details["build.wall_s"]
                                                    + ctx.details["build.append_s"])
    ctx.details["textops.docs_per_s"] = len(base) / sum(
        dedup_secs[k] for k in ("textops.minhash", "textops.simhash", "textops.exact"))
    ctx.details["simsearch.vecs_per_s"] = (sz["vecs"] + sz["dups"]) / dedup_secs["simsearch.neardup"]
    for k, v in dedup_secs.items():
        ctx.details[f"{k}_s"] = v
    ctx.mark_rss()

    with ctx.tr.span("check.outputs"):
        everything = pd.concat([base, app], ignore_index=True)
        survivors = everything[~everything["doc_id"].isin(list(deleted))]
        _catalog(ctx, idx, int(survivors["text"].str.len().sum()))
        planted = exact + near
        for name in ("textops.minhash", "textops.simhash"):
            if found[name] is not None:
                ctx.check(checks.check_pairs(name, found[name], planted))
                ctx.details[f"{name}.pairs_per_planted"] = len(found[name]) / len(planted)
        groups = found["textops.exact"]
        if groups is not None:
            keepers = set(groups["keeper_id"].astype(int))
            ctx.check(checks.check_pairs("textops.exact", {(a, b) for a, b in exact if a in keepers},
                                         exact))
        if found["simsearch.neardup"] is not None:
            ctx.check(checks.check_pairs("simsearch.neardup", found["simsearch.neardup"], vpairs))
            ctx.details["simsearch.pairs_per_planted"] = len(found["simsearch.neardup"]) / len(vpairs)
        refs = {"base": checks.Reference(base), "deletes": checks.Reference(everything),
                "merged": checks.Reference(survivors)}
        for phase, req, res, dead in samples:
            if res is not None:
                gone = dead if phase == "deletes" else frozenset()
                ctx.check(checks.check_search(refs[phase], req, res, deleted=gone))
        bpdf = everything.assign(
            host=everything["url"].str.extract(r"//([^/]+)/", expand=False),
            month=everything["warc_ts"].dt.strftime("%Y-%m"))
        for item, res in spark_reads:
            if res is None:
                continue
            if isinstance(item, tuple):
                ctx.check(checks.check_browse(bpdf, item[1], res, BROWSE_FIELDS))
            else:
                ctx.check(checks.check_matchall(refs["merged"], item, res))
