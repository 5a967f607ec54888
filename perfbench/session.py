"""Spark session for the benchmark: sized from this machine, with every
file it writes kept under the benchmark's work directory, and the
``orc_spark`` package shipped to the Python workers."""

from __future__ import annotations

import os
import subprocess
import time

from tracing import descendants


def machine() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    return {"nproc": cpus, "mem_total_mb": mem_kb // 1024}


def driver_memory_mb(mem_total_mb: int) -> int:
    """An eighth of RAM, between 1 and 4 GiB: the Python workers and
    other tenants of the machine need the rest."""
    return max(1024, min(4096, mem_total_mb // 8))


def start(root: str, work: str, cpus: int, mem_total_mb: int,
          eventlog_dir: str | None):
    # Python workers are forked by the JVM and inherit its environment:
    # putting the checkout root on PYTHONPATH before the JVM starts is
    # what lets mapInArrow kernels import orc_spark
    env_path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + env_path
                                       if env_path else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # no /tmp/hsperfdata_* files from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    # keep worker heaps grown and reused (bench.py / orc_spark._alloc)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "1073741824")
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{cpus}]")
         .appName("orc_spark-perfbench")
         .config("spark.driver.memory",
                 f"{driver_memory_mb(mem_total_mb)}m")
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp}")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
         # the token tables are tens of MB: the 128m default would pack
         # them into too few splits (bench.py)
         .config("spark.sql.files.maxPartitionBytes", "8m")
         .config("spark.sql.files.openCostInBytes", "1m")
         .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                 "64k")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", eventlog_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, shut the JVM down, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
