"""Opening an IndexReader runs no Spark job: every catalog table the
reader reads through Spark has a declared schema
(``build.TABLE_SCHEMAS``), so no read infers one. Each declared schema
must equal what Spark infers from the table's files after a base
build, an append, deletes and a merge, on both postings paths: the
pair table (pinned by ``broadcast_terms_threshold=0``) and the
broadcast-dictionary text shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from bobo_spark.build import TABLE_SCHEMAS, BuildConfig, build_snapshot, delete_docs
from bobo_spark.catalog import IndexCatalog
from bobo_spark.merge import merge_snapshot
from bobo_spark.query import IndexReader
from bobo_spark.webgen import webpages


def _job_count(spark, fn) -> int:
    group = "reader_open_jobs"
    spark.sparkContext.setJobGroup(group, "reader open job count")
    try:
        fn()
    finally:
        spark.sparkContext.setJobGroup(None, None)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _check(spark, index_dir: str, stage: str) -> None:
    cat = IndexCatalog(index_dir)
    snap = cat.latest()
    for table, ddl in TABLE_SCHEMAS.items():
        inferred = spark.read.parquet(*cat.table_paths(snap, table)).schema
        assert inferred == StructType.fromDDL(ddl), (stage, table)
    assert _job_count(spark, lambda: IndexReader(spark, index_dir)) == 0, stage


@pytest.mark.parametrize("postings", ["pairs", "segment_local"])
def test_declared_schemas_match_inferred(spark, tmp_path, postings):
    d = str(tmp_path / postings)
    docs = webpages(spark, 300, 2)
    threshold = 0 if postings == "pairs" else BuildConfig.broadcast_terms_threshold
    cfg = BuildConfig(docs_per_segment=100, broadcast_terms_threshold=threshold,
                      sections=("regex", r"\s\s+"))
    build_snapshot(spark, docs.where("doc_id < 150"), d, cfg)
    _check(spark, d, "base")
    build_snapshot(spark, docs.where("doc_id >= 150"), d, cfg)
    _check(spark, d, "append")
    delete_docs(spark, d, [3, 160, 161])
    _check(spark, d, "deletes")
    merge_snapshot(spark, d)
    _check(spark, d, "merge")
