"""SparkSession helpers tuned for the engine.

Local-mode defaults match the sandbox (local[N], single JVM); on a real
cluster the same configs apply per-executor. All sessions pin UTC and
Arrow so results are byte-stable across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "bobo_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``cores`` controls local parallelism (``local[cores]``); defaults to
    ``$SPARK_GRAFT_CPUS`` or ``*``. Shuffle partitions default to the
    core count — at cluster scale the build job overrides this per
    stage based on input size (see build.BuildConfig).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        ncores = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(8, ncores)
    # pin per-worker library thread pools: with N python workers, an
    # unpinned Arrow/BLAS pool of ncpu threads each gives N*ncpu threads
    # and measurable contention at high parallelism
    worker_env = {"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                  "MKL_NUM_THREADS": "1", "ARROW_CPU_COUNT": "1"}
    local_dir = os.environ.get(
        "SPARK_GRAFT_LOCAL_DIR",
        "/dev/shm/spark" if os.path.isdir("/dev/shm") else None,
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # no DataFrame call-site capture: it imports IPython on the
        # first DataFrame call and walks the Python stack on every
        # later one; analysis errors keep their messages
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in worker_env.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
        os.environ.setdefault(k, v)
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
