"""Workload and metric names with units; BENCHMARK.json mirrors these
(the self-test checks that it does)."""

WORKLOADS = {
    "search_cached": "~3k-doc index under the driver-cache gate: keyword searches and "
                     "search_many run from the in-driver block cache with 0 Spark jobs",
    "index_write": "ingest: dedup kernels, base build, append, deletes with reads under "
                   "tombstones, merge, reads after it, then Spark-path MatchAll and browse",
}

END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("p50_ms", "ms", "lower", 0.25),
    ("p90_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("bulk_per_s", "1/s", "higher", 0.25),
    ("driver_rss_mb", "MB", "lower", 0.1),
]

# (name, unit); a layer not exercised by a workload reports 0
PER_LAYER = [
    ("session.start_s", "s"),
    ("webgen.corpus_s", "s"),
    ("query.reader_open_s", "s"),
    ("query.cache_warm_s", "s"),
    ("query.searches", "count"),
    ("query.plan_ms", "ms"),
    ("query.search_driver_ms", "ms"),
    ("query.search_spark_ms", "ms"),
    ("query.spark_jobs_per_search", "count"),
    ("query.zero_job_frac", "ratio"),
    ("codecs.decode_calls_per_search", "count"),
    ("codecs.decode_bytes_per_search", "bytes"),
    ("codecs.decode_ms_per_search", "ms"),
    ("bm25.contrib_calls_per_search", "count"),
    ("bm25.contrib_ms_per_search", "ms"),
    ("query.batch_spark_ms", "ms"),
    ("query.batch_driver_ms", "ms"),
    ("query.batch_shuffle_bytes", "bytes"),
    ("query.batch_executor_run_ms", "ms"),
    ("facets.browse_p50_ms", "ms"),
    ("facets.browse_spark_jobs", "count"),
    ("facets.browse_spark_ms", "ms"),
    ("facets.browse_driver_ms", "ms"),
    ("build.wall_s", "s"),
    ("build.terms_s", "s"),
    ("build.docs_s", "s"),
    ("build.stats_s", "s"),
    ("build.postings_s", "s"),
    ("build.forward_s", "s"),
    ("build.append_s", "s"),
    ("build.shuffle_bytes", "bytes"),
    ("build.executor_run_s", "s"),
    ("build.docs_per_s", "1/s"),
    ("build.delete_ms", "ms"),
    ("merge.wall_s", "s"),
    ("merge.dicts_s", "s"),
    ("merge.terms_s", "s"),
    ("merge.stats_s", "s"),
    ("merge.postings_s", "s"),
    ("merge.shuffle_bytes", "bytes"),
    ("merge.executor_run_s", "s"),
    ("catalog.index_bytes", "bytes"),
    ("catalog.terms_bytes", "bytes"),
    ("catalog.postings_bytes", "bytes"),
    ("catalog.forward_bytes", "bytes"),
    ("catalog.deletes_bytes", "bytes"),
    ("catalog.files", "count"),
    ("catalog.bytes_per_input_byte", "ratio"),
    ("textops.minhash_s", "s"),
    ("textops.simhash_s", "s"),
    ("textops.exact_s", "s"),
    ("textops.pairs_per_planted", "ratio"),
    ("textops.docs_per_s", "1/s"),
    ("simsearch.neardup_s", "s"),
    ("simsearch.pairs_per_planted", "ratio"),
    ("simsearch.vecs_per_s", "1/s"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
    ("spark.scheduler_wait_ms", "ms"),
    ("spark.jobs_by_window", "count"),
    ("trace.wall_s", "s"),
    ("trace.unattributed_s", "s"),
    ("trace.unattributed_frac", "ratio"),
    ("trace.attribution_ok", "bool"),
    ("trace.overhead_s", "s"),
]

HIGHER_IS_BETTER = ("_per_s", "zero_job_frac", "attribution_ok", "query.searches",
                    "pairs_per_planted")
ATTRIBUTION_TOLERANCE = 0.05  # |unattributed| / wall


def as_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 6,
        "workloads": [{"name": k, "why": v} for k, v in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": x}
                       for n, u, b, x in END_TO_END],
        "per_layer": [{"name": n, "unit": u,
                       "better": "higher" if n.endswith(HIGHER_IS_BETTER) else "lower"}
                      for n, u in PER_LAYER],
    }
