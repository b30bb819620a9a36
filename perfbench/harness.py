"""Run context: session start and stop, run directory, timing helpers,
provenance and the result line."""

from __future__ import annotations

import json
import math
import os
import platform
import resource
import shutil
import statistics
import sys
import time
import traceback

DRIVER_MEM = "2g"  # fits a 4-core, 15 GB host with room for the Python workers


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    v = sorted(values)
    return v[max(0, math.ceil(q * len(v)) - 1)]


def median(values: list[float]) -> float:
    return float(statistics.median(values))


class Context:
    """Everything one workload run needs; owns the Spark session and
    the per-run directory, and counts attempted and failed operations."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 tracer, toy: bool, t_start: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.toy = toy
        self.t_start = t_start
        self.run_dir = os.path.join(root, ".perfbench", f"{workload}-{os.getpid()}")
        self.spark = None
        self._proc = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.metrics: dict[str, float] = {}   # end-to-end
        self.layers: dict[str, float] = {}    # per-layer (traced run)
        self.details: dict = {}
        self.rss_mb = None

    # ------------------------------------------------------------ session

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def start_session(self):
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in ("spark-local", "tmp", "eventlog", "warehouse"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_GRAFT_LOCAL_DIR"] = self.path("spark-local")
        os.environ["TMPDIR"] = self.path("tmp")
        # Spark's Python workers import bobo_spark from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [self.root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
        }
        if self.tr.enabled:
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + self.path("eventlog"),
                         "spark.eventLog.compress": "false"})
        from bobo_spark.session import get_spark

        with self.tr.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
            self.details["session_start_s"] = time.perf_counter() - t0
        self._proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.tr.bind(self.spark.sparkContext)
        return self.spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        spark, self.spark = self.spark, None
        if spark is None:
            return
        self.tr.bind(None)
        with self.tr.span("session.stop"):
            spark.stop()
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            proc = self._proc
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.run_dir))
        except OSError:
            pass

    # --------------------------------------------------------- operations

    def op(self, fn, *args, **kwargs):
        """Run one counted operation; an exception counts as failed and
        returns None."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # a failing operation is a result, not a crash
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__qualname__', fn)}: {e!r}\n"
                               + traceback.format_exc(limit=3))
            return None

    def check(self, errs: list[str]) -> None:
        """Output-check errors of one operation: one failed operation."""
        if errs:
            self.failed += 1
            self.errors.extend(errs)

    def mark_rss(self) -> None:
        """Peak RSS of the driver Python process so far (MB)."""
        self.rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    # --------------------------------------------------------- provenance

    def provenance(self) -> dict:
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        java = None
        if self.spark is not None:
            java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        import pyspark

        return {
            "workload": self.workload, "seed": self.seed, "seconds": self.seconds,
            "trace": int(self.tr.enabled), "toy": self.toy,
            "nproc": nproc(), "mem_total_gb": round(mem / 2 ** 30, 1),
            "driver_mem": DRIVER_MEM, "python": platform.python_version(),
            "pyspark": pyspark.__version__, "java": java,
            "commit": git_commit(self.root), "source_sha256": source_digest(self.root),
            "bobo_env": {k: v for k, v in os.environ.items() if k.startswith("BOBO_")},
        }


def git_commit(root: str) -> str | None:
    """HEAD commit when the checkout is a git work tree, else None."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head, encoding="utf-8") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:]), encoding="utf-8") as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def source_digest(root: str) -> str:
    """sha256 over the package sources, identifying the code measured
    when the checkout carries no git metadata."""
    import hashlib

    h = hashlib.sha256()
    pkg = os.path.join(root, "bobo_spark")
    for dirpath, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def emit(ctx: Context, spec: dict) -> None:
    """Print the detail lines, then the result as the last stdout line."""
    names = [m["name"] for m in spec["per_layer" if ctx.tr.enabled else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    source = ctx.layers if ctx.tr.enabled else ctx.metrics
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": units[n]} for n in names}
    for e in ctx.errors[:20]:
        print("perfbench: " + e, file=sys.stderr)
    print(json.dumps({"provenance": ctx.details.pop("provenance", None)}))
    print(json.dumps({"details": ctx.details}, default=float))
    print(json.dumps({"correct": ctx.failed == 0, "attempted": max(1, ctx.attempted),
                      "failed": ctx.failed, "metrics": metrics}))
