"""Toy-size self-test of the benchmark harness.

    python3 perfbench/selftest.py

Run from the root of a checkout. In one Spark session it runs every
workload end to end at toy size, untraced and traced, and fails when an
output check fails, an end-to-end metric is missing or zero, the traced
run's metrics do not match BENCHMARK.json, or spans plus
``unattributed`` do not add up to the wall time. It also checks that
BENCHMARK.json matches perfbench/spec.py, that the result line has the
agreed shape, and that the benchmark refuses to run, without a result,
in a directory holding only BENCHMARK.json and perfbench/. Takes a few
minutes, most of it Spark start-up and first-job warm-up.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import redirect_stdout

ROOT = os.getcwd()


def fail(msg: str) -> None:
    print(f"selftest: FAIL {msg}", file=sys.stderr)
    sys.exit(1)


def check_spec() -> dict:
    import spec

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        on_disk = json.load(f)
    if on_disk != spec.as_json():
        fail("BENCHMARK.json differs from perfbench/spec.py")
    return on_disk


def check_bare_dir() -> None:
    """A directory with only BENCHMARK.json and perfbench/ must make the
    benchmark exit non-zero without printing a result."""
    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "search_cached",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=bare, capture_output=True, text=True, timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or '"correct"' in p.stdout:
        fail("benchmark ran in a directory without the program")


def check_result_line(ctx, spec_json: dict, traced: bool) -> None:
    import harness

    buf = io.StringIO()
    with redirect_stdout(buf):
        harness.emit(ctx, spec_json)
    last = json.loads(buf.getvalue().strip().splitlines()[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"result keys {sorted(last)}")
    want = [m["name"] for m in spec_json["per_layer" if traced else "end_to_end"]]
    if sorted(last["metrics"]) != sorted(want):
        fail(f"{ctx.workload}: metric names differ from BENCHMARK.json")
    if not last["correct"] or last["failed"] or last["attempted"] < 1:
        fail(f"{ctx.workload} trace={int(traced)}: outputs incorrect: {ctx.errors[:3]}")


def main() -> int:
    sys.path.insert(1, ROOT)
    import harness
    import run
    import workloads
    from spans import Tracer, attribution, read_event_log, spark_accounting

    spec_json = check_spec()
    check_bare_dir()
    base = harness.Context(ROOT, "selftest", 1, 1.0, Tracer(True), True, time.time())
    try:
        spark = base.start_session()  # event log on, for the traced pass
        for traced in (False, True):
            for name in (w["name"] for w in spec_json["workloads"]):
                t0 = time.time()
                tr = Tracer(traced)
                ctx = harness.Context(ROOT, name, 1, 1.0, tr, True, t0)
                ctx.run_dir = base.path(f"{name}-{int(traced)}")
                os.makedirs(ctx.run_dir)
                ctx.spark = spark
                ctx.details["session_start_s"] = base.details["session_start_s"]
                if traced:
                    tr.bind(spark.sparkContext)
                tr.patch_driver_hot_paths()
                try:
                    getattr(workloads, name)(ctx)
                finally:
                    tr.unpatch()
                ctx.metrics["driver_rss_mb"] = ctx.rss_mb
                zero = [m["name"] for m in spec_json["end_to_end"]
                        if not ctx.metrics.get(m["name"])]
                if zero:
                    fail(f"{name}: end-to-end metrics missing or zero: {zero}")
                if traced:
                    t_end = time.time()
                    totals = spark_accounting(tr, read_event_log(base.path("eventlog")))
                    att = attribution(tr, t0, t_end)
                    ctx.layers = run.layer_metrics(ctx, totals, att, 0.0)
                    if not ctx.layers["trace.attribution_ok"]:
                        fail(f"{name}: unattributed {att['unattributed_frac']:.1%} of wall")
                check_result_line(ctx, spec_json, traced)
                ctx.spark = None
                print(f"selftest: {name} trace={int(traced)} ok "
                      f"({time.time() - t0:.1f} s, {ctx.attempted} operations)", flush=True)
    finally:
        base.stop_session()
        base.cleanup()
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
