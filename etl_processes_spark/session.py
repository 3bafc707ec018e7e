"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N]; the configs below are chosen so the same plans
hold on a multi-executor cluster at 100 TB: AQE re-plans shuffles at runtime
(coalescing + skew-join splitting), Arrow keeps the pandas-UDF path batched,
and broadcast thresholds let Catalyst pick broadcast-hash joins for dims.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding the etl_processes_spark package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_driver_mem() -> str:
    """Driver heap of at most 3/4 of physical memory, capped at 48g: the
    heap is the whole local[N] cluster's memory, and a heap larger than
    RAM swaps or gets the JVM killed instead of triggering GC."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{min(48 * 1024, kib * 3 // 4 // 1024)}m"


def get_spark(
    app_name: str = "etl_processes_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # Env overrides: SPARK_GRAFT_CPUS, SPARK_DRIVER_MEM,
    # SPARK_GRAFT_SHUFFLE_PARTITIONS. The defaults come from the host: the
    # CPUs in this process's affinity mask (a container or taskset may
    # grant fewer than the machine has) and its physical memory.
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    # Initial shuffle width = 8× the core count (the canonical AQE pattern:
    # start high, let coalescing merge small shuffles back down to the
    # 64 MB advisory size). At shuffle.partitions == cores, a corpus-sized
    # shuffle at sf100 put ~850 MB behind EACH aggregate task and the hash
    # aggregates fell back to sort-spill — remove_duplicate_spans alone
    # spilled 119.7 GB (measured round 8); at 8× the per-task footprint
    # drops under the spill threshold while AQE keeps small-sf queries at
    # their coalesced width, so the tiny-query regime pays only scheduling
    # noise. Env override: SPARK_GRAFT_SHUFFLE_PARTITIONS.
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "0")
    ) or int(cpus) * 8
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle coalescing, skew-join splitting, join re-plan.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Size shuffles for the local harness; on a real cluster this is set
        # per-job (AQE coalesces down from a high initial count).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas_udf / mapInPandas (the embedding + decode path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reference semantics rely on best-effort casts (null on failure); we
        # use try_cast explicitly, but keep ANSI off to match non-strict
        # arithmetic (e.g. overflow-free unix_timestamp math).
        .config("spark.sql.ansi.enabled", "false")
        # UTC everywhere: NTZ casts / renders must match the DuckDB oracle's
        # naive timestamps independent of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        # local[N] puts driver + all executor threads in ONE JVM: size the
        # heap for N concurrent tasks' shuffle/agg buffers, or GC thrash
        # silently multiplies query times (measured 5-10x on this harness).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        # the \r progress frames flood stderr and any captured log
        .config("spark.ui.showConsoleProgress", "false")
    )
    # testdata events.parquet is TIMESTAMP(NANOS); with this legacy flag Spark
    # reads it as long (nanos), without it as TIMESTAMP_NTZ — loaders handle
    # both. SPARK_GRAFT_NTZ_MODE=1 drops the flag to mimic the driver's
    # session (which reads NTZ) for local correctness runs.
    if os.environ.get("SPARK_GRAFT_NTZ_MODE") != "1":
        builder = builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Python workers (UDFs, mapInPandas) import this package whatever the
    # driver's working directory; Spark merges this with the worker's
    # inherited PYTHONPATH.
    builder = builder.config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    # N concurrent Python workers × multithreaded BLAS = N² runnable threads.
    # Per-batch matrices in the UDF paths are small (d ≤ a few hundred), where
    # single-threaded GEMM wins anyway; parallelism comes from Spark tasks.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
        os.environ.setdefault(var, "1")
    return builder.getOrCreate()
