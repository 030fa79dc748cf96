"""SparkSession factory tuned for the engine.

The reference's ``cuvsResources_t`` (stream/memory handle,
``python/cuvs/cuvs/common/resources.pyx``) has no user-facing analog in
Spark — the session + executor configs play that role (SURVEY.md §1.3).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half the host's physical memory, capped at 48g. The driver JVM
    collects hard only when its heap nears ``-Xmx``, so a cap above
    physical memory lets a long-lived session (the test suite) grow
    until the kernel's OOM killer takes the JVM."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "48g"
    return f"{max(1, min(48, phys // 2**31))}g"


def get_spark(app_name: str = "cuvs_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Session with AQE, Arrow, and shuffle partitions sized to cores.

    At cluster scale the same settings apply; ``shuffle.partitions``
    should instead track ``2-3 × total executor cores`` and AQE coalesces
    the rest at runtime.
    """
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    # One BLAS thread per task by default (r14, guide §4): every core
    # already runs a Spark task, so NumPy kernels inside mapInPandas
    # fan-ning out OpenBLAS threads (MAX_THREADS=2 here) oversubscribe
    # the host ~2x. Exported before the JVM spawns so forked Python
    # workers inherit it; spark.executorEnv carries it to real
    # clusters. Override with CUVS_SPARK_BLAS_THREADS (e.g. executors
    # with more cores than concurrent tasks).
    blas_threads = os.environ.get("CUVS_SPARK_BLAS_THREADS", "1")
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, blas_threads)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        .config("spark.driver.memory",
                os.environ.get("CUVS_SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        # Aggressive generated-method splitting: long-lived sessions
        # occasionally produced a whole-stage span whose processNext()
        # exceeded janino's 64 KB method limit ("Code grows beyond
        # 64 KB" → silent interpreted fallback, several× slower on
        # wide per-dim distance folds). Splitting at 256 bytes of
        # estimated code keeps every method compilable; the extra
        # call overhead is negligible next to an interpreted fallback.
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", blas_threads)
        .config("spark.executorEnv.OMP_NUM_THREADS", blas_threads)
        .config("spark.executorEnv.MKL_NUM_THREADS", blas_threads)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
