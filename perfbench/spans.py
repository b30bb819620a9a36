"""In-memory span recorder and Spark event-log accounting.

Spans are opened by the benchmark around each call into a layer. With
tracing off a span costs one branch and records nothing. With tracing
on, each top-level span also tags the Spark jobs it launches with a job
group, and a few driver-side hot functions (``IndexReader.plan``,
``codecs.vb_decode`` as bound in ``query``, ``bm25.contrib``) are
wrapped to add call counts, bytes and time to the enclosing span. Calls
made inside Python workers cannot be seen from here.

After the run, ``spark_accounting`` reads Spark's own event log and
assigns every job to a top-level span: by job group where the job
carries one, else by the span whose window holds the job's submission
(jobs launched from the program's own worker threads carry no group).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None
        self._unpatch: list = []

    def bind(self, sc) -> None:
        """Tag jobs with a per-span job group from now on."""
        self._sc = sc

    @contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        """Record a span; a top-level span with ``tag_jobs`` also sets a
        job group (a py4j round trip, so per-request spans skip it and
        their jobs are attributed by time window)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name,
             "parent": parent["id"] if parent else None,
             "start": time.time(), "end": None, "counters": defaultdict(float)}
        self.spans.append(s)
        self._stack.append(s)
        top = tag_jobs and parent is None and self._sc is not None
        s["tagged"] = top
        if top:
            self._sc.setJobGroup(f"span-{s['id']}", name)
        try:
            yield s
        finally:
            if top:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            s["end"] = time.time()
            self._stack.pop()

    def count(self, key: str, value: float = 1.0) -> None:
        """Add to a counter of the innermost open span."""
        if self._stack:
            self._stack[-1]["counters"][key] += value

    def _wrap(self, owner, attr: str, prefix: str, nbytes=None) -> None:
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.count(prefix + ".calls")
                tracer.count(prefix + ".s", time.perf_counter() - t0)
                if nbytes is not None:
                    tracer.count(prefix + ".bytes", nbytes(args))

        setattr(owner, attr, wrapped)
        self._unpatch.append((owner, attr, orig))

    def patch_driver_hot_paths(self) -> None:
        """Count driver-side plan, decode and BM25 work (traced runs only)."""
        if not self.enabled:
            return
        from bobo_spark import bm25, query

        self._wrap(query.IndexReader, "plan", "query.plan")
        self._wrap(query, "vb_decode", "codecs.decode",
                   nbytes=lambda a: len(a[0]) if a else 0)
        self._wrap(bm25, "contrib", "bm25.contrib")

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._unpatch):
            setattr(owner, attr, orig)
        self._unpatch.clear()

    def top_level(self) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None]


# ----------------------------------------------------------- event log


def _log_files(log_dir: str) -> list[str]:
    """Event-log files in write order: a single file, or the numbered
    ``events_<n>_<app>`` parts of a rolling (v2) log directory."""
    found = []
    for d, _, names in os.walk(log_dir):
        for n in names:
            if n.startswith("appstatus"):
                continue
            m = re.match(r"events_(\d+)_", n)
            found.append((d, int(m.group(1)) if m else 0, n))
    return [os.path.join(d, n) for d, _, n in sorted(found)]


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and per-stage task totals from the Spark event log
    in ``log_dir`` (finished or in progress; a torn last line is
    skipped)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "failed": 0, "run_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0,
        "wait_ms": 0.0, "shuffle_write": 0, "shuffle_read": 0, "submit": None,
        "launches": []})
    for path in _log_files(log_dir):
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"] / 1000.0, "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []), "ok": True}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    j = jobs[ev["Job ID"]]
                    j["end"] = ev["Completion Time"] / 1000.0
                    j["ok"] = (ev.get("Job Result") or {}).get("Result") == "JobSucceeded"
                elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                    info = ev["Stage Info"]
                    if info.get("Submission Time") is not None:
                        stages[info["Stage ID"]]["submit"] = info["Submission Time"]
                elif kind == "SparkListenerTaskEnd":
                    st = stages[ev["Stage ID"]]
                    ti = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["failed"] += bool(ti.get("Failed"))
                    st["run_ms"] += tm.get("Executor Run Time", 0)
                    st["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += tm.get("JVM GC Time", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                           + sr.get("Local Bytes Read", 0))
                    if ti.get("Launch Time") is not None:
                        st["launches"].append(ti["Launch Time"])
    for st in stages.values():
        if st["submit"] is not None:
            st["wait_ms"] = float(sum(max(0, t - st["submit"]) for t in st["launches"]))
        st.pop("launches")
    return {"jobs": jobs, "stages": dict(stages)}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_accounting(tracer: Tracer, log: dict) -> dict:
    """Per top-level span: Spark jobs, tasks, failed tasks, executor
    run/CPU/GC time, scheduler wait, shuffle bytes; Spark time as the
    union of its job intervals (the critical path) apart from the plain
    sum (the difference is overlapped job time); driver time = wall
    minus Spark time. Mutates each top-level span's ``spark`` entry and
    returns run-level totals."""
    tops = tracer.top_level()
    by_group = {f"span-{s['id']}": s for s in tops}
    starts = sorted((s["start"], s["end"], s["id"]) for s in tops)
    span_of = {s["id"]: s for s in tops}
    for s in tops:
        s["spark"] = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "failed_jobs": 0,
                      "executor_run_ms": 0.0, "executor_cpu_ms": 0.0, "gc_ms": 0.0,
                      "scheduler_wait_ms": 0.0, "shuffle_bytes": 0,
                      "spark_s": 0.0, "job_sum_s": 0.0, "_iv": []}
    totals = {"jobs": 0, "by_group": 0, "by_window": 0, "unassigned": 0}
    stages = log["stages"]
    for jid, j in sorted(log["jobs"].items()):
        totals["jobs"] += 1
        span = by_group.get(j["group"])
        if span is not None:
            totals["by_group"] += 1
        else:
            for st, en, sid in starts:
                if st <= j["submit"] <= (en or st):
                    span = span_of[sid]
            if span is None:
                totals["unassigned"] += 1
                continue
            totals["by_window"] += 1
        acc = span["spark"]
        acc["jobs"] += 1
        acc["failed_jobs"] += not j["ok"]
        end = j["end"] if j["end"] is not None else span["end"]
        lo, hi = max(j["submit"], span["start"]), min(end, span["end"])
        if hi > lo:
            acc["_iv"].append((lo, hi))
            acc["job_sum_s"] += hi - lo
        for sid in j["stages"]:
            st = stages.get(sid)
            if st is None:
                continue
            acc["tasks"] += st["tasks"]
            acc["failed_tasks"] += st["failed"]
            acc["executor_run_ms"] += st["run_ms"]
            acc["executor_cpu_ms"] += st["cpu_ms"]
            acc["gc_ms"] += st["gc_ms"]
            acc["scheduler_wait_ms"] += st["wait_ms"]
            acc["shuffle_bytes"] += st["shuffle_write"]
    for s in tops:
        acc = s["spark"]
        acc["spark_s"] = _union(acc.pop("_iv"))
        acc["overlapped_s"] = acc["job_sum_s"] - acc["spark_s"]
        acc["driver_s"] = (s["end"] - s["start"]) - acc["spark_s"]
    return totals


def attribution(tracer: Tracer, t_start: float, t_end: float) -> dict:
    """Top-level spans plus an explicit ``unattributed`` line sum to the
    wall time from process start to the end of the last span."""
    by_name: dict[str, float] = defaultdict(float)
    for s in tracer.top_level():
        by_name[s["name"]] += s["end"] - s["start"]
    wall = t_end - t_start
    attributed = sum(by_name.values())
    lines = dict(sorted(by_name.items()))
    lines["unattributed"] = wall - attributed
    # the largest gaps between consecutive top-level spans, for reading
    # what the unattributed time is
    tops = sorted(tracer.top_level(), key=lambda s: s["start"])
    edges = [("start", t_start)] + [(s["name"], s["end"]) for s in tops]
    gaps = sorted(((nxt["start"] - end, f"{name} -> {nxt['name']}")
                   for (name, end), nxt in zip(edges, tops)), reverse=True)[:5]
    return {"wall_s": wall, "lines_s": lines,
            "unattributed_frac": (wall - attributed) / wall if wall > 0 else 0.0,
            "largest_gaps_s": [[round(g, 3), where] for g, where in gaps]}
