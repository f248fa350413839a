"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession


def driver_memory() -> tuple[str, str]:
    """The driver heap and where it came from: ``SPARK_DRIVER_MEM`` when
    set, else half of the host's MemTotal — in local mode the executors
    live inside the driver JVM, and the other half stays with the Python
    workers and the OS — capped at 48g."""
    heap = os.environ.get("SPARK_DRIVER_MEM")
    if heap:
        return heap, "SPARK_DRIVER_MEM"
    try:
        with open("/proc/meminfo") as f:
            total_mb = next(int(line.split()[1]) for line in f
                            if line.startswith("MemTotal:")) // 1024
    except OSError:  # no procfs: the same figure from sysconf
        total_mb = (os.sysconf("SC_PAGE_SIZE")
                    * os.sysconf("SC_PHYS_PAGES")) // 2 ** 20
    return (f"{max(1024, min(48 * 1024, total_mb // 2))}m",
            "half of MemTotal")


def get_spark(app_name: str = "crawler_seo_spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a session.

    Local-mode defaults match the sandbox (one JVM, N threads). On a real
    cluster the same engine code runs under ``spark-submit --py-files`` with
    the master/executor topology supplied externally — nothing here assumes
    local mode except the defaults.
    """
    from pyspark import SparkContext

    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or cores
    heap, heap_source = driver_memory()
    builder = (
        SparkSession.builder
        .master(os.environ.get("SPARK_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    starting = SparkContext._active_spark_context is None
    spark = builder.getOrCreate()
    if starting:  # once per context start, not on every reuse
        logging.getLogger(__name__).info("driver heap %s (%s)", heap,
                                         heap_source)
    spark.sparkContext.setLogLevel("WARN")
    # Silence ONLY WindowExec's single-partition warning: the engine GATES
    # every global window on seq_window_threshold (small rounds/driver
    # queries use the one-task window BY DESIGN; big inputs take the
    # distributed prefix-sum), so these warnings are expected noise that
    # buries real regressions in bench output. Global log level stays WARN.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # non-log4j2 deployments keep default logging
    return spark
