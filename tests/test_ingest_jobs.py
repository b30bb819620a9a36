"""Spark jobs an ingest launches: a small base build, an append and a
merge each run a fixed number of jobs, and an append runs no more
than the base build (under the same driver gate, its dictionary merge
runs in pandas like the base build's sort). The build's worker
threads (the build's overlapped forward write, the merge's forward
and sections rewrites) carry no job group, so each count is the ungrouped
job ids Spark's status tracker gained across the call."""

from __future__ import annotations

from pyspark.sql import functions as F

from bobo_spark.build import BuildConfig, build_snapshot, delete_docs
from bobo_spark.merge import merge_snapshot
from bobo_spark.webgen import webpages

EXPECTED = {"build": 11, "append": 11, "merge": 6}


def _jobs(spark, fn) -> int:
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    fn()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def test_ingest_job_counts(spark, tmp_path):
    src = str(tmp_path / "docs.parquet")
    webpages(spark, 600, 4).write.parquet(src)
    docs = spark.read.parquet(src)
    d = str(tmp_path / "idx")
    cfg = BuildConfig(docs_per_segment=200)
    got = {
        "build": _jobs(spark, lambda: build_snapshot(
            spark, docs.where(F.col("doc_id") < 480), d, cfg)),
        "append": _jobs(spark, lambda: build_snapshot(
            spark, docs.where(F.col("doc_id") >= 480), d, cfg)),
    }
    delete_docs(spark, d, [3, 250, 500])
    got["merge"] = _jobs(spark, lambda: merge_snapshot(spark, d))
    assert got == EXPECTED
    assert got["append"] <= got["build"]
