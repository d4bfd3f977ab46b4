"""The benchmark's Spark session: one ``local[4]`` driver sized for a
15 GB machine, every scratch path inside the run's own work directory.

The confs follow ``bench.py`` (AQE, Arrow, the code-cache and codegen-cache
sizing, no UI) except the driver heap, which is 4 GB instead of 16 GB, and
``-XX:-UsePerfData``, which keeps the JVM from writing under ``/tmp``. With
``trace=True`` the session also writes an uncompressed, non-rolling event
log (the rolling default is zstd-compressed, and ``zstandard`` is not a
dependency of this repository).
"""

from __future__ import annotations

import os
import time

CORES = 4
DRIVER_MEMORY = "4g"
#: A fixed young generation: G1's adaptive young sizing otherwise moves the
#: driver's peak RSS by hundreds of MiB between identical runs.
YOUNG_GEN = "768m"


def start(work_dir: str, trace: bool):
    """Start the session; returns ``(spark, start_seconds)``."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    # SPARK_LOCAL_DIRS wins over spark.local.dir when the caller's
    # environment sets it
    os.environ["SPARK_LOCAL_DIRS"] = local
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("river-perfbench")
         .config("spark.sql.shuffle.partitions", str(CORES))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.legacy.parquet.nanosAsLong", "true")
         .config("spark.sql.codegen.hugeMethodLimit", "8000")
         .config("spark.sql.codegen.cache.maxEntries", "1000")
         .config("spark.driver.extraJavaOptions",
                 f"-XX:ReservedCodeCacheSize=512m -Xmn{YOUNG_GEN} "
                 f"-XX:-UsePerfData -Djava.io.tmpdir={local}")
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_ms(spark) -> int:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(0, int(b.getCollectionTime()))
               for b in mf.getGarbageCollectorMXBeans())


def stop(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
