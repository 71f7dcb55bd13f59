"""SparkSession builder tuned for the tiling engine.

Scale posture (SURVEY.md §7.3): AQE on (runtime re-plan + skew-join
splitting), Arrow transfer for pandas UDFs, shuffle partitions sized to
the core count (tiles are coarse units — a few per core is enough), and
generous Arrow batch limits because one assembled tile row is a multi-MB
binary blob.

Per-task cost at the Python boundary: PySpark's worker runs
``importlib.invalidate_caches()`` before every task, which on CPython
3.11/3.12 re-parses the central directory of every zip on the worker's
``sys.path`` (pyspark.zip, the spark-core jar, py4j) — 0.21–0.235 s of
CPU per task, about half the Python-worker CPU of a small hillshade
run.  The fix is not a setting here: ``demeton_spark/__init__.py``
keeps unchanged directories, because every worker that unpickles a
package UDF imports the package (also from ``--py-files``), whereas a
``spark.python.worker.module`` loads in the worker daemon before any
task has put ``--py-files`` on the path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """Half the host's physical RAM in whole GB, between 1g and 24g.

    In local mode the driver JVM is also the only executor, and its
    Python workers live outside the heap, so half the RAM leaves them
    room; a fixed 24g would let the heap outgrow a 15 GB host."""
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf here
        return "24g"
    return f"{max(1, min(24, ram // 2 ** 31))}g"


def build_session(
    app_name: str = "demeton-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Python workers inherit this process's env (local mode) — pin BLAS/OMP
    # to one thread per worker and stop glibc from returning every large
    # numpy temporary to the OS (mmap/munmap storms show up as 80%+ sys
    # time with 32 concurrent kernel-heavy workers).
    worker_env = {
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "MALLOC_ARENA_MAX": "2",
        "MALLOC_MMAP_THRESHOLD_": "536870912",
        "MALLOC_TRIM_THRESHOLD_": "536870912",
    }
    for k, v in worker_env.items():
        os.environ.setdefault(k, v)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # parse local[N] for partition sizing; cluster masters fall back to cpus
    if master.startswith("local[") and master[6:-1].isdigit():
        parallelism = int(master[6:-1])
    else:
        parallelism = cpus
    shuffle_partitions = shuffle_partitions or max(parallelism * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        # raster stages are CPU-bound per byte: coalescing shuffle
        # partitions by size would serialize the pandas-UDF stages
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one assembled tile is a large binary cell; keep Arrow batches small
        # 64 is sized for TILE-granular rows (an assembled 3600² tile is
        # ~26 MB; 64 rows ≈ 1.7 GB ceiling per Arrow batch).  Jobs whose
        # UDF inputs are BLOCK-granular (the fused hillshade path: ~KB
        # rows) should raise this to 512 in extra_conf — measured ~15%
        # end-to-end (batch overhead amortizes; jobs/hillshade_job.py's
        # SESSION_CONF does, and bench.py builds its session from it).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
    )
    for k, v in worker_env.items():  # cluster mode: ship to executors too
        builder = builder.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
