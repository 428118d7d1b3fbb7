"""Machine sizing, the Spark session, and the readings taken around a run:
resident memory from ``/proc``, bytes on disk, latency percentiles and the
two box-load canaries of ``bench.py``."""

from __future__ import annotations

import math
import os
import statistics
import sys
import time

# Latency percentiles considered for the tail metric, lowest first.
TAIL_LADDER = (75.0, 90.0, 95.0, 99.0, 99.9)


def machine() -> dict:
    """Core count and memory of this machine, and the driver heap sized
    from them (a sixth of installed RAM, between 1 and 8 GiB)."""
    cpus = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    driver_mb = max(1024, min(8192, mem_kb // 1024 // 6)) // 256 * 256
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "driver_memory_mb": driver_mb}


def start_session(work_dir: str, sizing: dict):
    """Local Spark session on every core, with every scratch file (Spark's
    local dirs, the JVM and Python temp dirs, the warehouse dir) inside
    ``work_dir``. Python workers import ``dbimport_spark`` from the
    checkout root, which is the current directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    root = os.getcwd()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    if root not in sys.path:
        sys.path.insert(0, root)

    from pyspark.sql import SparkSession

    from dbimport_spark import recommended_confs

    cpus = sizing["cpus"]
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.driver.memory", f"{sizing['driver_memory_mb']}m")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "spark-warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
    )
    for k, v in recommended_confs(shuffle_partitions=cpus).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's gateway and wait until the JVM
    (and with it the Python workers it started) has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway process exits at end of input
        proc.wait(timeout=60)


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


class PeakRss:
    """Peak resident memory of a set of processes over an interval, from
    the kernel's high-water mark (``VmHWM``), which ``reset`` clears."""

    def __init__(self, pids) -> None:
        self.pids = list(pids)

    def reset(self, spark) -> None:
        """Collect garbage on both sides first, so every interval starts
        from the same heap state."""
        import gc

        gc.collect()
        spark._jvm.System.gc()
        for pid in self.pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")

    def peak_mb(self) -> float:
        total_kb = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        return total_kb / 1024.0


def cpu_jiffies() -> tuple[int, int]:
    """Cumulative (steal, total) CPU time of this machine from
    ``/proc/stat``. Over an interval, the steal share is the CPU the
    hypervisor gave to other guests: a window with a high share was
    contended, whatever the code under test did."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user and system, including reaped children) of a
    process and all its live descendants, from ``/proc``."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited meanwhile
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += stats.get(p, (0, 0))[1]
        todo += [c for c, (ppid, _) in stats.items() if ppid == p]
    return total / tick


def dir_bytes(path: str, suffix: str | None = None) -> int:
    """Bytes of the regular files under ``path`` (optionally only those
    whose name ends with ``suffix``)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if suffix is None or f.endswith(suffix):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def tail(values) -> dict:
    """The highest ladder percentile (nearest rank) with at least ten
    samples above it, or the maximum when there are too few samples for
    any; with the sample count and the number of samples above it."""
    xs = sorted(values)
    n = len(xs)
    pick = (100.0, n - 1)
    for p in TAIL_LADDER:
        i = max(0, math.ceil(n * p / 100.0) - 1)
        if n - 1 - i >= 10:
            pick = (p, i)
    p, i = pick
    return {"value": xs[i], "percentile": p, "samples": n, "beyond": n - 1 - i}


def median(values) -> float:
    return statistics.median(values)


class Canaries:
    """``bench.py``'s box-load canaries: one JVM-only shuffle over constant
    synthetic input, and one round trip of a fixed batch through a
    ``pandas_udf`` on every core. Their cost does not depend on the code
    under test, so a reading far above its partner identifies a window
    in which the machine was contended. The JVM canary's row count is
    ``bench.py``'s 20M scaled to this machine's cores out of 32."""

    def __init__(self, spark, cpus: int) -> None:
        from pyspark.sql import functions as F

        def _identity(s):
            return s

        self.spark = spark
        self.cpus = cpus
        self.jvm_rows = 20_000_000 * cpus // 32
        self.py_rows = 64_000 * cpus
        self._F = F
        self._udf = F.pandas_udf(_identity, "long")

    def jvm(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(0, self.jvm_rows, 1, self.cpus).selectExpr(
            "id % 997 AS k", "id AS v"
        ).groupBy("k").agg(self._F.sum("v").alias("s")).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0

    def py(self) -> float:
        t0 = time.perf_counter()
        self.spark.range(0, self.py_rows, 1, self.cpus).select(
            self._udf("id")
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def reading(self, first: bool = False) -> dict:
        """One reading of each canary; ``first`` adds the JVM canary's
        first run, which also compiles its plan, as its own entry."""
        out = {"jvm_first_s": round(self.jvm(), 4)} if first else {}
        return dict(out, jvm_s=round(self.jvm(), 4), py_s=round(self.py(), 4))


def warm_python_workers(spark, cpus: int) -> None:
    """Start the Python worker of every core (pandas and Arrow imported),
    which the first ``pandas_udf`` or ``mapInPandas`` would pay for."""
    from pyspark.sql import functions as F

    def _identity(s):
        return s

    spark.range(0, cpus, 1, cpus).select(F.pandas_udf(_identity, "long")("id")).write.format(
        "noop"
    ).mode("overwrite").save()
