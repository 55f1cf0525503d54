"""SparkSession factory tuned for this engine.

Local mode is the test bed; the configs are chosen so the same code paths
(AQE, broadcast thresholds, shuffle partitioning) behave like they would on a
real cluster — partition-count discipline is the design, local[N] is only the
harness.

Spark's Python daemon starts through ``sptag_spark.pyspark_daemon``
(``spark.python.daemon.module``), which lets workers import pyspark from its
installed directory instead of Spark's ``pyspark.zip``: with the zip on the
path, every task of a reused worker spends ~55 ms of CPU in
``importlib.invalidate_caches()`` re-reading the archive (SCALING.md "Python
worker per-task floor"). Executors must therefore be able to import
``sptag_spark``, which the engine's UDFs already require.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sptag_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    if shuffle_partitions is None:
        # ~cores in local mode; on a cluster this would scale with executors.
        shuffle_partitions = cpus
    if driver_memory is None:
        driver_memory = os.environ.get("SPTAG_SPARK_DRIVER_MEM", "8g")
    # AQE is the right default on a cluster (runtime coalescing, skew-join
    # splitting — the 100 TB design assumes it). Its per-stage replanning is
    # pure fixed cost when stages are tiny, so the bench harness turns it
    # off via SPTAG_SPARK_AQE=false; correctness tests keep it on so the
    # AQE code path stays exercised.
    aqe = os.environ.get("SPTAG_SPARK_AQE", "true")
    # One BLAS thread per task in the Python workers: every core already
    # runs a worker, so letting each NumPy kernel spawn n_cpus BLAS threads
    # oversubscribes cores quadratically (32 workers × 32 OpenBLAS threads)
    # and turns kernel timings into noise. Driver-side NumPy (sampled index
    # training) keeps the full BLAS thread pool — it runs alone.
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The generated-class cache defaults to 100 entries; a session that
        # serves the full query inventory (70+ plans × several codegen
        # stages each) evicts constantly and re-runs janino compilation on
        # EVERY execution of EVERY plan — measured as queries timing 0.5s
        # isolated but 3.5s inside the full-inventory session. The cache is
        # a JVM singleton sized at first use, so this must be set at session
        # build, and entries are compiled classes (small) — memory cost is
        # negligible next to the heap.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "sptag_spark.pyspark_daemon")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
