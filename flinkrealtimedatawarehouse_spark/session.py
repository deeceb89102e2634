"""SparkSession factory.

The reference pins ``setParallelism(1)`` per app and runs 9 separate JVMs
(SURVEY.md §4); here one session serves every query and Catalyst/AQE size
the physical plan. Timezone is pinned to UTC so results compare bit-for-bit
with the DuckDB oracle (the reference hardcodes +08:00 in
gmall-realtime .../utils/DateTimeUtil.java:32 — see SURVEY.md §7.4; for
oracle parity we standardize on UTC and treat the zone as a config knob).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

# Share of MemAvailable the pre-touched driver heap may take when
# SPARK_DRIVER_MEMORY is unset: the rest is headroom for the Python
# workers (Arrow buffers, pandas UDFs) and the JVM's off-heap memory.
# Measured on a 4-core / 15 GiB box: 0.4 gives a 6 GiB heap, on which
# the default test suite passes; 16g (the old fixed default) could not
# start the JVM there at all.
HEAP_SHARE = 0.4
MAX_HEAP_MB = 16 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap when SPARK_DRIVER_MEMORY is unset: ``HEAP_SHARE`` of
    MemAvailable, at least 1 GiB and at most 16 GiB."""
    with open(meminfo) as f:
        avail_kb = next(int(line.split()[1]) for line in f
                        if line.startswith("MemAvailable:"))
    mb = int(avail_kb / 1024 * HEAP_SHARE)
    return f"{min(max(mb, 1024), MAX_HEAP_MB)}m"


def get_spark(
    app_name: str = "flinkrealtimedatawarehouse_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Tuned for local[N] testing but every knob is the one you'd set on a
    1000-executor cluster too: AQE on (runtime coalescing + skew-join
    handling), broadcast threshold generous for star-schema dims, Arrow on
    for the pandas-UDF slow path.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    # Fixed, fully pre-touched heap (round 14, guide §1 "measure first"):
    # on this sandbox's kernel the JVM's default grow-and-shrink heap
    # turns every allocation-heavy stage into a kernel-time storm — the
    # heap commits/uncommits pages continuously and the fault path is
    # ~50x slower than the memory itself (measured: u2@sf1 spent 2,147 s
    # of SYSTEM time against 113 s of user time in one cold run; kernel
    # stacks all in folio_zero_user/huge_pmd fault handling; memset
    # bandwidth on committed pages is a healthy 10 GB/s single-thread).
    # -Xms == -Xmx + AlwaysPreTouch commits and zeroes the whole heap
    # ONCE at startup (~19 s for 16 g here, reported separately from
    # every timed window), after which TLAB allocation never re-enters
    # the kernel: the same cold run drops 214 s -> 4 s and steady-state
    # sys time drops to ~2 s. Same discipline as production executors
    # (fixed-size pre-touched heaps are the standard large-heap setup);
    # SPARK_DRIVER_MEMORY stays the size knob — -Xms tracks it — and
    # without it the heap is sized from the machine's free memory.
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    jvm_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch " + os.environ.get(
        "SPARK_GRAFT_JVM_OPTS", ""
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", jvm_opts.strip())
        # the partitioned stores hand the reader an explicit list of run
        # directories from their manifest; above this threshold (default
        # 32 paths) Spark lists them with a distributed job, pure overhead
        # for already-enumerated leaves (measured on the 48-batch serving
        # indexes: +0.3-1.2 s per read at 40-160 paths)
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
    )
    if not SparkSession.getActiveSession():
        builder = builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
