"""SparkSession factory with the engine's recommended configuration.

Local testing runs ``local[N]``; on a real cluster only the master and
memory settings change — the SQL/AQE/Arrow configuration below is what
the operators are designed against and holds at any scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 48 * 1024

# Spark's codegen cache (an LRU of compiled classes, keyed by their
# Java source) defaults to 100 entries. One pass of the perfbench
# corpus_pipeline mix generates 173 distinct classes and one dsp_ragged
# pass 80 plus the warm-up's, so at 100 the LRU evicted every class
# before its next use: each warm corpus pass ran 165 Janino compiles.
# At 1024 both working sets fit with headroom and warm passes compile
# nothing once the plans settle. An entry costs about 20 KB (corpus
# mix, CodegenMetrics: 8.6 KB mean source key, 2.8 KB mean class
# bytecode; about 13 KB of metaspace per class loaded), so a full
# cache holds about 20 MB.
CODEGEN_CACHE_ENTRIES = 1024


def _default_driver_memory() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half of
    physical memory, capped at 48g."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(_DRIVER_MEM_CAP_MB, phys // 2**21)}m"


def get_spark(
    app_name: str = "xarray_scipy_spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: runtime partition coalescing + skew-join splitting, which is
      what keeps the grouped-series shuffles healthy when series lengths
      are skewed at the 100 TB tier.
    - Arrow on: every kernel crosses JVM->Python as Arrow batches.
    - UTC session timezone: required for DuckDB-oracle comparability.
    - shuffle partitions default to local core count; on a cluster pass
      ~2-3x total executor cores (AQE coalesces the excess).
    - driver heap: ``SPARK_GRAFT_DRIVER_MEM`` if set, else
      :func:`_default_driver_memory`.
    - codegen cache: holds :data:`CODEGEN_CACHE_ENTRIES` generated
      classes, so a warm call reuses the classes its cold call compiled
      instead of recompiling them with Janino. Static: it takes effect
      in the first session of a JVM.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        # G1 with 32m regions instead of the auto-sized default:
        # measured three-way GC A/B on this VM class. At a 48g heap G1
        # auto-picks 16m regions, so Spark's ~16 MB shuffle/Arrow
        # buffers allocate as HUMONGOUS objects — tpch_q7 at the 40x
        # tier (24M-row fact join) ran 8.5-154 s/run, erratic, with
        # vmstat showing 85-97% SYSTEM cpu (region commit/uncommit
        # churn turned into kernel page work inside the VM; fixed -Xms
        # did NOT fix it, median 10.8 s). ParallelGC fixed the shuffle
        # class (q7 median 2.1 s) but regressed the kernel/Arrow class
        # ~2x across a 99-query battery (full-GC cost grows with the
        # heap). G1 + 32m regions wins BOTH classes: q7 3.3 s, gapfill
        # 0.73 s (vs 3.19 ParallelGC / 1.56 default-G1), istft 0.38 s.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:G1HeapRegionSize=32m",
        )
        .config("spark.ui.enabled", "false")
    )
    # Pin BLAS/OpenMP pools inside python workers to one thread each: a
    # worker owns exactly one task core, and N workers x M-thread BLAS
    # oversubscribes the host N*M-fold (measured 10-20x wall-clock blowup
    # on 32-core hosts once every grouped-map task spun its own OpenBLAS
    # pool). Kernels batch across series instead — parallelism comes from
    # partitions, the design that holds on a real cluster where executors
    # share nodes. spark.executorEnv.* reaches python workers in both
    # local and cluster mode.
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
