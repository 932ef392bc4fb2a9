"""SparkSession factory tuned for both local testing and cluster scale.

The reference is single-threaded CPython (SURVEY §4: no parallelism, no
optimizer). Here every concern the reference lacks is delegated to
Catalyst/Tungsten; this module only sets the knobs that matter:

- AQE on (runtime coalescing, skew-join splitting, plan re-opt),
- shuffle partitions sized for the local harness via env override
  (a 1000-executor cluster would set this to ~2-4x total cores or rely
  on AQE coalescing from a high initial value),
- Arrow enabled for the pandas-UDF parse kernels,
- UTC session timezone so results hash-compare cleanly against the
  DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "boatrace_database_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Local tests run ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    same code runs unchanged — the configs below are safe at both scales.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- optimizer / runtime ------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- python/arrow boundary ----------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # One BLAS thread per Python worker: each worker is one slot of
        # an already-parallel stage, so in-worker BLAS threading only
        # oversubscribes (26 ms vs 1.4 ms per small GEMM measured in
        # r13). Local mode inherits the driver env (set in __init__);
        # executorEnv carries the same contract to real clusters —
        # FORWARDING the driver env (which __init__ setdefault'ed to 1)
        # instead of a hard-coded "1", so a caller's exported thread
        # count governs executors too (ADVICE r13).
        .config(
            "spark.executorEnv.OPENBLAS_NUM_THREADS",
            os.environ.get("OPENBLAS_NUM_THREADS", "1"),
        )
        .config(
            "spark.executorEnv.OMP_NUM_THREADS",
            os.environ.get("OMP_NUM_THREADS", "1"),
        )
        .config(
            "spark.executorEnv.MKL_NUM_THREADS",
            os.environ.get("MKL_NUM_THREADS", "1"),
        )
        # -- determinism for oracle comparison ----------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- storage ------------------------------------------------------
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # File LISTING stays driver-side below this many paths. The
        # default (32) launches a whole Spark job of ~1 ms getFileStatus
        # tasks whenever a glob matches >32 files — the year corpus'
        # 732 archives paid a 732-task listing job per read (~0.3-0.5 s,
        # r13 profile). Driver-side listing of up to 10k local/HDFS
        # paths is microseconds each; truly huge tables (>10k files)
        # still fan out.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # Single-JVM local mode: driver heap IS the executor heap. 16g
        # keeps localCheckpoint blocks + 32 task threads out of GC-churn
        # territory (the host has 128 GiB); a real cluster sets executor
        # memory instead and this knob only covers the driver program.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    return builder.getOrCreate()
