"""Streaming / near-real-time ingestion.

The reference is strictly batch (SURVEY.md §2.8): NRT ingestion lived
in the external Zoie project (trace: api/MultiBoboBrowser.java:86-88);
its own incremental story is interleaved commits + reader reopen
(test/BasicIndexingTest.java:61-191). The Spark-native equivalent is
Structured Streaming ``foreachBatch`` → one index snapshot per
micro-batch: each batch appends new segments + new terms atomically
(catalog publish), and readers open the latest published snapshot —
exactly the commit/reopen cycle, with exactly-once via the batch-id
ledger kept on the manifest.

The micro-batch must carry monotonically increasing ``doc_id``s (new
docs only — the reference appends too). Deletes are served by the
separate soft-delete path (``build.delete_docs`` publishes cumulative
tombstone snapshots; see tests/test_deletes.py) and
compose with streaming appends: the publish step carries the parent's
deletes table forward, so an appended batch never resurrects them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .build import BuildConfig, build_snapshot
from .catalog import IndexCatalog


def ingest_stream(
    stream_df: DataFrame,
    index_dir: str,
    cfg: BuildConfig | None = None,
    checkpoint_dir: str | None = None,
    trigger: dict | None = None,
):
    """Attach an index-building sink to a streaming DataFrame.

    Returns the started StreamingQuery. Each micro-batch becomes one
    snapshot; batches already recorded on the manifest are skipped
    (restart-safe: foreachBatch may re-deliver the last batch)."""
    cfg = cfg or BuildConfig()

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        cat = IndexCatalog(index_dir)
        done = {s.stats.get("stream_batch_id") for s in cat.snapshots()
                if "published" in s.stages}
        if batch_id in done:
            return  # exactly-once: re-delivered batch
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # batch id rides in extra_stats: it lands on the manifest in the
        # same write that publishes the snapshot, so a crash can never
        # leave a published-but-unstamped snapshot (which a restarted
        # stream would rebuild, duplicating the batch's doc_ids).
        build_snapshot(spark, batch_df, index_dir, cfg, resume=True,
                       extra_stats={"stream_batch_id": batch_id})

    writer = stream_df.writeStream.foreachBatch(handle).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()
