"""SparkSession factory tuned for the extraction workload.

Local mode is the sandbox proxy for a multi-executor cluster; every knob
here is chosen to also make sense at cluster scale (AQE, skew join,
Arrow batching capped because rows carry media bytes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import ARROW_MAX_BYTES_PER_BATCH, ARROW_MAX_RECORDS_PER_BATCH

# JVM sizing shared by BOTH launch surfaces: the builder below (python
# launcher — effective because the builder starts the JVM) and the
# spark-submit command line (tools/submit_job.py docs — REQUIRED there
# because spark-submit starts the JVM before any builder runs, silently
# ignoring these keys set via .config()).
JAVA_OPTS_DEFAULT = "-XX:+UseParallelGC -XX:ParallelGCThreads=8"


def _mem_total_bytes() -> int:
    # physical RAM: /proc/meminfo MemTotal on Linux
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _fitted_driver_memory() -> str:
    """40% of physical RAM in whole GiB (at least 1g, at most 32g).
    ParallelGC grows the heap lazily toward -Xmx, so a heap sized past
    what the machine holds gets the long-lived local-mode JVM (which
    also hosts every executor) OOM-killed instead of collected; the rest
    of RAM is for the python workers."""
    return f"{min(32, max(1, int(_mem_total_bytes() * 0.4) >> 30))}g"


DRIVER_MEMORY_DEFAULT = _fitted_driver_memory()


def driver_memory() -> str:
    return os.environ.get("SPARK_DRIVER_MEMORY", DRIVER_MEMORY_DEFAULT)


def java_opts() -> str:
    return JAVA_OPTS_DEFAULT


def _tune_worker_env() -> None:
    """Environment for python workers (inherited from this process — must
    run before the JVM starts).

    - One BLAS/OMP thread per worker: each Spark task slot runs its own
      single-thread model inference (the cluster-correct layout);
      unpinned, every worker's BLAS would try to use all cores and 32
      tasks × 32 threads would thrash.
    - glibc malloc: keep freed arenas instead of returning pages to the
      kernel. Image kernels allocate multi-MB numpy temporaries per blob;
      with default thresholds every temp is a fresh mmap + page-fault +
      kernel page-zeroing cycle, which serializes 32 workers on the page
      allocator (measured: 2-3× aggregate throughput from this alone).
    """
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(1 << 30))


def get_spark(
    app_name: str = "ocr_service_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    _tune_worker_env()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    if master is None:
        master = f"local[{cpus}]"
    # local mode: ~cores, not the 200 default; local[N,F] gives N threads
    # and F task attempts
    n = master[master.find("[") + 1 : master.find("]")].split(",")[0] if "[" in master else cpus
    shuffle_partitions = os.cpu_count() if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batching: generous record cap for narrow text rows, byte
        # cap for blob rows — one knob per row shape instead of a tiny
        # record cap that fragments the text UDF's spans into ~ms batches
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(ARROW_MAX_RECORDS_PER_BATCH),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            str(ARROW_MAX_BYTES_PER_BATCH),
        )
        # throughput GC with CAPPED GC threads: in local pyspark the JVM's
        # task threads share cores with as many python workers, so a
        # default-sized (ncores) GC thread pool gets starved mid-pause and
        # multi-second young GCs result (measured 120 s summed GC in one
        # stage). 8 GC threads + headroom heap keeps pauses bounded.
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.extraJavaOptions", java_opts())
        .config("spark.ui.enabled", "false")
        # Q9 hard backstop: the per-image soft deadline lives inside
        # extract_media_span (KERNEL_TIMEOUT_S); the task reaper kills
        # tasks that a pathological blob hangs past interruption anyway
        # (reference bounds every engine call at 30 s, config/index.ts:24)
        .config("spark.task.reaper.enabled", "true")
        .config("spark.task.reaper.killTimeout", "120s")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # blob-heavy rows: decode cost per byte is high, so scan splits
        # should be small — 16 MiB keeps the first stage wide instead of
        # serializing on a handful of big file splits
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # Tungsten page size: Spark's default is execution memory ÷ cores
        # ÷ 16 rounded up to a power of two — 64 MB on a 4-core, 15 GB
        # host (3.4 GB ÷ 4 ÷ 16) — and every task that sorts (the
        # bucket-partitioned write, collect_list's sort fallback past 128
        # keys) touches at least one page. Measured with perfbench on a
        # 4-core VM (seed 23, medians): with the reassembly spread over
        # every slot instead of one task, 64 MB pages put peak RSS at
        # 2.93 GB (photo) and 2.27 GB (text) against 2.68 and 1.90 GB for
        # the single-task layout; at 4m it reads 2.52 and 1.59 GB.
        .config("spark.buffer.pageSize", "4m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
