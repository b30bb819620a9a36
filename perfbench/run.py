"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload search_cached --seed 1 --seconds 6 --trace 0

Run from the root of a checkout: the benchmark imports ``bobo_spark``
from there and keeps every file it writes under ``.perfbench/`` there,
removing its own run directory at the end. With ``--trace 0`` the last
stdout line carries the end-to-end metrics, with ``--trace 1`` the
per-layer metrics (spans, driver hot-path counters, Spark event-log
accounting). Earlier stdout lines carry provenance and details; output
check failures go to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()


def parse_args(argv=None):
    import spec

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def layer_metrics(ctx, totals: dict, att: dict, overhead_s: float) -> dict:
    """Per-layer metrics from the spans of a traced run."""
    import numpy as np

    spans = ctx.tr.spans
    out: dict[str, float] = {}

    def named(name, top_only=True):
        return [s for s in spans if s["name"] == name
                and (s["parent"] is None or not top_only)]

    def wall(s):
        return s["end"] - s["start"]

    def med(xs):
        return float(np.median(xs)) if xs else 0.0

    def mean(xs):
        return float(np.mean(xs)) if xs else 0.0

    for key, name in (("session.start_s", "session.start"),
                      ("webgen.corpus_s", "webgen.corpus"),
                      ("query.reader_open_s", "query.reader_open"),
                      ("query.cache_warm_s", "query.cache_warm")):
        out[key] = med([wall(s) for s in named(name, top_only=False)])

    srch = named("query.search")
    n = len(srch)
    out["query.searches"] = n
    if n:
        c = lambda k: sum(s["counters"].get(k, 0.0) for s in srch) / n  # noqa: E731
        out["query.plan_ms"] = 1000 * c("query.plan.s")
        out["query.search_driver_ms"] = 1000 * mean([s["spark"]["driver_s"] for s in srch])
        out["query.search_spark_ms"] = 1000 * mean([s["spark"]["spark_s"] for s in srch])
        out["query.spark_jobs_per_search"] = mean([s["spark"]["jobs"] for s in srch])
        out["query.zero_job_frac"] = mean([s["spark"]["jobs"] == 0 for s in srch])
        out["codecs.decode_calls_per_search"] = c("codecs.decode.calls")
        out["codecs.decode_bytes_per_search"] = c("codecs.decode.bytes")
        out["codecs.decode_ms_per_search"] = 1000 * c("codecs.decode.s")
        out["bm25.contrib_calls_per_search"] = c("bm25.contrib.calls")
        out["bm25.contrib_ms_per_search"] = 1000 * c("bm25.contrib.s")

    batch = named("query.search_many")
    if batch:
        out["query.batch_spark_ms"] = 1000 * mean([s["spark"]["spark_s"] for s in batch])
        out["query.batch_driver_ms"] = 1000 * mean([s["spark"]["driver_s"] for s in batch])
        out["query.batch_shuffle_bytes"] = mean([s["spark"]["shuffle_bytes"] for s in batch])
        out["query.batch_executor_run_ms"] = mean(
            [s["spark"]["executor_run_ms"] for s in batch])

    browse = named("facets.browse")
    if browse:
        out["facets.browse_p50_ms"] = 1000 * med([wall(s) for s in browse])
        out["facets.browse_spark_jobs"] = mean([s["spark"]["jobs"] for s in browse])
        out["facets.browse_spark_ms"] = 1000 * mean([s["spark"]["spark_s"] for s in browse])
        out["facets.browse_driver_ms"] = 1000 * mean([s["spark"]["driver_s"] for s in browse])

    builds = named("build.build_snapshot") + named("build.append")
    if builds:
        out["build.wall_s"] = med([wall(s) for s in named("build.build_snapshot")])
        out["build.shuffle_bytes"] = sum(s["spark"]["shuffle_bytes"] for s in builds)
        out["build.executor_run_s"] = sum(s["spark"]["executor_run_ms"] for s in builds) / 1000
        out["build.append_s"] = med([wall(s) for s in named("build.append")])
    out["build.delete_ms"] = 1000 * med([wall(s) for s in named("build.delete_docs")])
    merges = named("merge.merge_snapshot")
    if merges:
        out["merge.wall_s"] = med([wall(s) for s in merges])
        out["merge.shuffle_bytes"] = sum(s["spark"]["shuffle_bytes"] for s in merges)
        out["merge.executor_run_s"] = sum(s["spark"]["executor_run_ms"] for s in merges) / 1000
    for key, name in (("textops.minhash_s", "textops.minhash"),
                      ("textops.simhash_s", "textops.simhash"),
                      ("textops.exact_s", "textops.exact"),
                      ("simsearch.neardup_s", "simsearch.neardup")):
        out[key] = med([wall(s) for s in named(name)])
    for key in ("build.terms_s", "build.docs_s", "build.stats_s", "build.postings_s",
                "build.forward_s", "build.docs_per_s", "merge.dicts_s", "merge.terms_s",
                "merge.stats_s", "merge.postings_s", "catalog.index_bytes",
                "catalog.terms_bytes", "catalog.postings_bytes", "catalog.forward_bytes",
                "catalog.deletes_bytes", "catalog.files", "catalog.bytes_per_input_byte",
                "textops.docs_per_s", "simsearch.vecs_per_s", "simsearch.pairs_per_planted"):
        if key in ctx.details:
            out[key] = ctx.details[key]
    out["textops.pairs_per_planted"] = ctx.details.get("textops.minhash.pairs_per_planted", 0.0)

    tops = ctx.tr.top_level()
    for key, k in (("spark.tasks", "tasks"), ("spark.failed_tasks", "failed_tasks"),
                   ("spark.executor_cpu_ms", "executor_cpu_ms"), ("spark.gc_ms", "gc_ms"),
                   ("spark.scheduler_wait_ms", "scheduler_wait_ms")):
        out[key] = sum(s["spark"][k] for s in tops)
    out["spark.jobs"] = totals["jobs"]
    out["spark.jobs_by_window"] = totals["by_window"]
    out["trace.wall_s"] = att["wall_s"]
    out["trace.unattributed_s"] = att["lines_s"]["unattributed"]
    out["trace.unattributed_frac"] = att["unattributed_frac"]
    import spec

    out["trace.attribution_ok"] = float(abs(att["unattributed_frac"])
                                        <= spec.ATTRIBUTION_TOLERANCE)
    out["trace.overhead_s"] = overhead_s
    return out


def span_report(ctx) -> dict:
    """Per top-level span name: count, wall, Spark time (critical path),
    overlapped job time, driver time and Spark counters."""
    rep: dict[str, dict] = {}
    for s in ctx.tr.top_level():
        r = rep.setdefault(s["name"], {"count": 0, "wall_s": 0.0})
        r["count"] += 1
        r["wall_s"] += s["end"] - s["start"]
        for k, v in s.get("spark", {}).items():
            r[k] = r.get(k, 0) + v
    return rep


def overhead_estimate(ctx) -> float:
    """Tracing cost in this run: wrapped hot-path calls times the
    measured cost of one wrapper, plus top-level spans times the
    measured cost of tagging a job group."""
    from spans import Tracer

    calls = sum(v for s in ctx.tr.spans for k, v in s["counters"].items()
                if k.endswith(".calls"))
    probe = Tracer(True)

    class Box:
        @staticmethod
        def f(x):
            return x

    probe._wrap(Box, "f", "probe")
    n = 20000
    with probe.span("probe"):
        t0 = time.perf_counter()
        for i in range(n):
            Box.f(i)
        per_call = (time.perf_counter() - t0) / n
    sc = ctx.spark.sparkContext
    t0 = time.perf_counter()
    for i in range(50):
        sc.setJobGroup("probe", "probe")
        sc.setLocalProperty("spark.jobGroup.id", None)
    per_span = (time.perf_counter() - t0) / 50
    return calls * per_call + sum(s["tagged"] for s in ctx.tr.spans) * per_span


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bobo_spark", "__init__.py")):
        print("perfbench: run from the root of a bobo_spark checkout "
              f"(no bobo_spark package under {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    from spans import Tracer, attribution, read_event_log, spark_accounting

    tr = Tracer(bool(args.trace))
    with tr.span("harness.import"):
        import harness
        import spec
        import workloads

        import bobo_spark.build  # noqa: F401
        import bobo_spark.merge  # noqa: F401
    ctx = harness.Context(ROOT, args.workload, args.seed, args.seconds, tr, False, T_START)
    try:
        ctx.start_session()
        tr.patch_driver_hot_paths()
        getattr(workloads, args.workload)(ctx)
        tr.unpatch()
        ctx.metrics["driver_rss_mb"] = ctx.rss_mb
        with tr.span("trace.report"):
            ctx.details["provenance"] = ctx.provenance()
            ctx.details["end_to_end"] = dict(ctx.metrics)
            overhead_s = overhead_estimate(ctx) if tr.enabled else 0.0
        ctx.stop_session()
        t_end = time.time()
        if tr.enabled:
            totals = spark_accounting(tr, read_event_log(ctx.path("eventlog")))
            att = attribution(tr, T_START, t_end)
            ctx.layers = layer_metrics(ctx, totals, att, overhead_s)
            ctx.details["attribution"] = att
            ctx.details["spans"] = span_report(ctx)
            ctx.details["job_assignment"] = totals
            if not ctx.layers["trace.attribution_ok"]:
                # a harness property, not a program output: reported
                # (trace.attribution_ok = 0), not counted as a failure
                print(f"perfbench: unattributed {att['unattributed_frac']:.1%} of wall "
                      f"exceeds {spec.ATTRIBUTION_TOLERANCE:.0%}; see largest_gaps_s",
                      file=sys.stderr)
        missing = [m for m, *_ in spec.END_TO_END if not ctx.metrics.get(m)]
        if missing:
            print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
            return 1
        harness.emit(ctx, spec.as_json())
        return 0
    finally:
        try:
            ctx.stop_session()
        finally:
            ctx.cleanup()


if __name__ == "__main__":
    sys.exit(main())
