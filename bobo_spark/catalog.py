"""Index catalog: snapshot manifest + table layout on Parquet.

Plays the role Iceberg metadata plays in production (the Iceberg
runtime jars are not in this sandbox image, so the catalog emulates
the snapshot/lineage semantics the north rule requires on plain
Parquet: an append-only ``snapshots.json`` manifest where each
snapshot pins the exact file set of every index table, giving
atomic publish, time travel, and restart-from-checkpoint).

Layout::

    index_dir/
      snapshots.json                     # [{snapshot_id, parent, stats, tables, stages}]
      terms/snap=N/                      # term, term_id, df, cf
      postings/snap=N/                   # segment, term_id, blocks...
      forward/snap=N/                    # segment, doc_id, doclen, url, ords
      dict_lang/snap=N/  dict_ts_bucket/snap=N/

Reference parity: the snapshot open path mirrors
``BoboMultiReader.getInstance`` decorating segments and loading facet
data (bobo-browse/src/main/java/com/browseengine/bobo/api/
BoboMultiReader.java:38, BoboSegmentReader.java:75-89) — except the
"load" is a materialized table, not an in-memory side effect.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

TABLES = ("terms", "postings", "forward", "dict_lang", "dict_ts_bucket")


def read_table_arrow(paths, columns=None):
    """Read a catalog table straight into ONE pyarrow Table — zero
    Spark jobs (None when no files). The catalog is local-filesystem
    by design (see module docstring: the manifest is plain
    `open()`/`os.replace`), so driver-direct table IO is valid
    wherever the manifest itself is; schemas across files are
    promoted (missing columns -> null), matching Spark's
    mergeSchema=true. ``columns`` prunes the read to the named
    columns (they must exist in every file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files: list[str] = []
    for p in paths if isinstance(paths, (list, tuple)) else [paths]:
        if os.path.isdir(p):
            files += sorted(os.path.join(p, f) for f in os.listdir(p)
                            if f.endswith(".parquet"))
        else:
            files.append(p)
    if not files:
        return None
    read = lambda f: pq.read_table(f, columns=columns)  # noqa: E731
    if len(files) > 1:
        # pyarrow releases the GIL during parquet decode — parallel
        # per-file reads cut the wall time of multi-file tables
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(files))) as pool:
            tables = list(pool.map(read, files))
    else:
        tables = [read(files[0])]
    return pa.concat_tables(tables, promote_options="permissive")


def read_table_pdf(paths, columns=None):
    """Read a SMALL catalog table (dicts, terms, idmap) straight
    into pandas with pyarrow — zero Spark jobs (see
    ``read_table_arrow``). Large tables (postings, forward) keep going
    through Spark scans."""
    import pandas as pd

    tbl = read_table_arrow(paths, columns=columns)
    return pd.DataFrame() if tbl is None else tbl.to_pandas()


def write_table_pdf(pdf, path: str) -> None:
    """Overwrite-write a SMALL catalog table from pandas as one
    parquet file (zstd, like Spark's writes) — zero Spark jobs, same
    directory layout Spark's writer produces, readable by both
    spark.read.parquet and read_table_pdf."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                   os.path.join(path, "part-00000.parquet"),
                   compression="zstd")


@dataclass
class Snapshot:
    snapshot_id: int
    parent: int | None
    # n_docs, avgdl, n_terms, n_segments, ... — n_segments counts the
    # distinct segments of each batch's docs (the build's docs-stage
    # aggregation, summed over appends) or of a merge's survivors (its
    # dicts-stage forward read)
    stats: dict = field(default_factory=dict)
    tables: dict = field(default_factory=dict)  # table -> [paths] (cumulative file sets)
    stages: list = field(default_factory=list)  # completed build stages (resumability)
    created_at: float = 0.0

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent": self.parent,
            "stats": self.stats,
            "tables": self.tables,
            "stages": self.stages,
            "created_at": self.created_at,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent=d.get("parent"),
            stats=d.get("stats", {}),
            tables=d.get("tables", {}),
            stages=d.get("stages", []),
            created_at=d.get("created_at", 0.0),
        )


class IndexCatalog:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir
        os.makedirs(index_dir, exist_ok=True)

    @property
    def manifest_path(self) -> str:
        return os.path.join(self.index_dir, "snapshots.json")

    def snapshots(self) -> list[Snapshot]:
        if not os.path.exists(self.manifest_path):
            return []
        with open(self.manifest_path) as f:
            return [Snapshot.from_json(d) for d in json.load(f)]

    def latest(self) -> Snapshot | None:
        snaps = [s for s in self.snapshots() if "published" in s.stages]
        return snaps[-1] if snaps else None

    def pending(self) -> Snapshot | None:
        """Last snapshot that started but did not publish (resume target)."""
        snaps = self.snapshots()
        if snaps and "published" not in snaps[-1].stages:
            return snaps[-1]
        return None

    def get(self, snapshot_id: int) -> Snapshot:
        for s in self.snapshots():
            if s.snapshot_id == snapshot_id:
                return s
        raise KeyError(f"snapshot {snapshot_id} not found in {self.index_dir}")

    def table_path(self, table: str, snapshot_id: int) -> str:
        return os.path.join(self.index_dir, table, f"snap={snapshot_id}")

    def table_paths(self, snap: Snapshot, table: str) -> list[str]:
        """Cumulative file set for a table as of the given snapshot."""
        return snap.tables.get(table, [])

    def _write(self, snaps: list[Snapshot]) -> None:
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump([s.to_json() for s in snaps], f, indent=1)
        os.replace(tmp, self.manifest_path)  # atomic publish

    def begin_snapshot(self) -> Snapshot:
        snaps = self.snapshots()
        parent = snaps[-1].snapshot_id if snaps else None
        sid = (snaps[-1].snapshot_id + 1) if snaps else 0
        snap = Snapshot(snapshot_id=sid, parent=parent, created_at=time.time())
        snaps.append(snap)
        self._write(snaps)
        return snap

    def update_snapshot(self, snap: Snapshot) -> None:
        snaps = self.snapshots()
        for i, s in enumerate(snaps):
            if s.snapshot_id == snap.snapshot_id:
                snaps[i] = snap
                self._write(snaps)
                return
        raise KeyError(snap.snapshot_id)

    def mark_stage(self, snap: Snapshot, stage: str) -> None:
        if stage not in snap.stages:
            snap.stages.append(stage)
        self.update_snapshot(snap)


class StageClock:
    """Checkpoints the stages of one snapshot being built or merged,
    with each stage's wall seconds in ``snap.stats['stage_secs']``
    (published with the manifest — no separate profiler run).

    A serial stage records its lap: the time since the previous stage
    was recorded. A stage overlapped on a worker thread (``submit`` +
    ``join``) records its own thread's duration; recording it restarts
    the lap, so the wait for an overlapped stage is never charged to
    the next serial stage."""

    def __init__(self, cat: IndexCatalog, snap: Snapshot):
        self.cat, self.snap = cat, snap
        self._t = time.time()

    def lap(self) -> float:
        """Seconds since the last lap; starts the next one."""
        now = time.time()
        secs, self._t = now - self._t, now
        return secs

    def mark(self, stage: str, secs: float | None = None) -> None:
        """Checkpoint ``stage`` with ``secs``, or with its lap."""
        lap = self.lap()
        self.snap.stats.setdefault("stage_secs", {})[stage] = round(
            lap if secs is None else secs, 2)
        self.cat.mark_stage(self.snap, stage)

    def submit(self, pool, fn, lead: float = 0.0):
        """Run ``fn`` on ``pool`` as an overlapped stage. The future's
        result is the thread's duration plus ``lead``: the stage's own
        serial work done before the submit."""
        def run() -> float:
            t0 = time.time()
            fn()
            return lead + time.time() - t0
        return pool.submit(run)

    def join(self, stage: str, fut) -> None:
        """Wait for an overlapped stage and checkpoint it (re-raises
        the thread's failure)."""
        self.mark(stage, fut.result())
