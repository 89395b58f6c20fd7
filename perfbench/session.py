"""Spark session sized from the host, with every directory it writes
kept under the benchmark's work directory, plus its teardown and the
peak memory of the JVM and the driver."""

from __future__ import annotations

import os
import resource
import subprocess
import tempfile

HEAP_SHARE = 0.3  # of MemAvailable
HEAP_MIN_MB = 1024
HEAP_MAX_MB = 2048  # both workloads fit; a capped heap keeps peak RSS steady


def host_cores() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    n = len(os.sched_getaffinity(0))
    if n < 1:
        raise RuntimeError(f"no usable cores reported ({n})")
    return n


def mem_available_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                fields = line.split()
                if len(fields) < 2 or not fields[1].isdigit():
                    raise RuntimeError(f"unparseable MemAvailable line: {line!r}")
                return int(fields[1]) // 1024
    raise RuntimeError(f"MemAvailable missing from {meminfo}")


def heap_mb(available_mb: int) -> int:
    """A share of available memory, clamped, in 512 MB steps so small
    swings in MemAvailable do not change the heap between runs."""
    mb = int(available_mb * HEAP_SHARE) // 512 * 512
    return max(HEAP_MIN_MB, min(HEAP_MAX_MB, mb))


def build_session(work_dir: str, cores: int, heap: int, event_log_dir: str | None = None):
    """Start a local[cores] session whose warehouse, local, temp and
    event-log directories all live under ``work_dir``."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # Python workers and tempfile users in the driver inherit this
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap}m")
        # initial heap = max heap: the heap does not grow by GC-timing
        # heuristics, so peak RSS depends on the work, not on the run;
        # no hsperfdata file, which the JVM would write to /tmp
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log_dir)
            .config("spark.eventLog.compress", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    """The py4j gateway process is the driver JVM itself in local mode
    (``spark-submit`` execs ``java``)."""
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """JVM high-water RSS (``VmHWM``; the live JVM is not yet reaped, so
    ``RUSAGE_CHILDREN`` cannot see it) plus the driver's own max RSS."""
    jvm_kb = None
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    if jvm_kb is None:
        raise RuntimeError(f"VmHWM missing for pid {pid}")
    driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + driver_kb) / 1024.0


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon it forked) to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout_s)
