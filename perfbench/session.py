"""Spark session lifecycle for the benchmark: sized to the machine, every
scratch path inside the benchmark's work directory, and a clean shutdown
that waits for the JVM to exit."""
from __future__ import annotations

import os
import time

CPUS = len(os.sched_getaffinity(0))


def heap_mb() -> int:
    """Driver heap: an eighth of physical memory, between 1 and 1.5 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return max(1024, min(1536, total_kb // 8 // 1024))


def start(work: str, eventlog_dir: str | None = None):
    """(Re)start the SparkSession. The first call launches the JVM; later
    calls after ``stop`` reuse it and only build a new SparkContext, which
    is how the traced pass's event log is closed before it is read."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb()}m")
        # the heap is committed up front
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap_mb()}m")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if eventlog_dir else "false")
    )
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + eventlog_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart(spark, work: str, eventlog_dir: str | None = None):
    spark.stop()
    return start(work, eventlog_dir)


def shutdown(spark) -> None:
    """Stop Spark, close the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    if spark is None:
        return
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the launcher JVM exits when its stdin closes
        deadline = time.time() + 30
        while proc.poll() is None and time.time() < deadline:
            time.sleep(0.1)
        if proc.poll() is None:
            proc.kill()
            proc.wait()
