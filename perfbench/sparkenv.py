"""Session sizing, the run's scratch root, set-up repetitions and
teardown.

Everything a run writes - inputs, Spark local dirs, warehouse, derby
home, checkpoints, the landing directory, Python temp files - lives
under one scratch root inside the checkout (``.bench_tmp/``), removed at
the end, so a run leaves the checkout as it found it apart from its
report under ``.bench_out/``.
"""

from __future__ import annotations

import os
import shutil
import time

#: Driver JVM heap. ``session.get_spark`` defaults local masters to 16g,
#: more than a 15 GiB box has; the benchmark passes an explicit size,
#: starts the heap at that size (``-Xms``) and touches all of it at start
#: (``AlwaysPreTouch``), so the peak RSS depends neither on when G1
#: decided to grow the heap nor on how many of its regions a run happened
#: to cycle through (both moved it by 10-60% between runs). The heap's
#: own use is reported from the JVM's memory pools instead.
DRIVER_HEAP = "2g"


def cores() -> int:
    """Cores this process may run on (``local[nproc]``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def scratch_root(checkout: str, tag: str) -> str:
    """Create the run's scratch root and point every temp-file user at
    it. Must run before the JVM starts."""
    root = os.path.join(checkout, ".bench_tmp", f"{tag}-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return root


def session_conf(root: str) -> dict[str, str]:
    java_opts = " ".join(
        [
            # JVM unified logging writes to stdout, where the result line goes.
            "-Xlog:disable",
            f"-Xms{DRIVER_HEAP}",
            "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={root}/tmp",
            f"-Dderby.system.home={root}/derby",
        ]
    )
    return {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": f"{root}/local",
        "spark.sql.warehouse.dir": f"{root}/warehouse",
        "spark.driver.host": "localhost",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # The traced run reads every job and stage of the run back from
        # the status API; keep them all (both modes, so the untraced run
        # pays the same bookkeeping).
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def start_session(root: str):
    """Start (or restart) the engine's session through the package's
    public factory, sized for the host."""
    from reactive_data_pipeline_spark import get_spark

    n = cores()
    spark = get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf=session_conf(root),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """Fixed, input-independent warm-up: one scan/join/aggregate/window
    job, so JVM start-up JIT and the first job's scheduling are paid
    before anything is timed. Each query's own code path warms in the
    workload's untimed first pass."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    a = spark.range(200_000).withColumn("k", F.col("id") % 97)
    b = spark.range(97).withColumnRenamed("id", "k2")
    (
        a.join(b, a.k == b.k2)
        .groupBy("k")
        .agg(F.sum(F.col("id").cast("decimal(18,6)")).alias("s"))
        .withColumn("r", F.row_number().over(Window.orderBy(F.desc("s"))))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )


def set_up(root: str, reps: int, spans=None):
    """Start the session and warm it ``reps`` times (stopping it in
    between); the first repetition also launches the JVM. Returns the
    live session and per-repetition ``(start_s, warm_s)``."""
    times = []
    spark = None
    for rep in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(root)
        t1 = time.perf_counter()
        warm_up(spark)
        t2 = time.perf_counter()
        times.append((t1 - t0, t2 - t1))
        if spans is not None:
            spans.add("session.start", t0, t1, op=f"setup{rep}")
            spans.add("session.warm", t1, t2, op=f"setup{rep}")
    return spark, times


class HostClock:
    """CPU accounting of a measured phase: share of the host's CPU time
    stolen by the hypervisor (``/proc/stat``) and JIT compile time in the
    driver JVM. Reported next to the timings so a contended or still
    warming run is visible; neither adjusts any metric."""

    def __init__(self, spark) -> None:
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._jit = mx.getCompilationMXBean()
        self._stat0 = _proc_stat()
        self._jit0 = self._jit.getTotalCompilationTime()

    def read(self) -> tuple[float, float]:
        """(steal share, JIT seconds) since construction."""
        d = [b - a for a, b in zip(self._stat0, _proc_stat())]
        steal = d[7] / sum(d) if sum(d) else 0.0
        return steal, (self._jit.getTotalCompilationTime() - self._jit0) / 1000.0


def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set (``VmHWM``) in MiB, read
    from /proc."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0


def heap_peaks_mb(spark) -> dict[str, float]:
    """Peak used size of each heap pool of the driver JVM (G1 eden,
    survivor and old generation), in MiB, from its MemoryPoolMXBeans.
    With the heap fixed at ``DRIVER_HEAP`` the old generation's peak is
    the heap figure that moves with what the program keeps alive; eden's
    peak is G1's young-generation sizing."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {
        str(pool.getName()): pool.getPeakUsage().getUsed() / (1024.0 * 1024.0)
        for pool in mx.getMemoryPoolMXBeans()
        if str(pool.getType().name()) == "HEAP"
    }


def shut_down(spark, timeout: float = 60.0) -> None:
    """Stop the session, then the py4j gateway and the JVM it launched,
    and wait until the JVM process has exited."""
    import subprocess

    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_root(root: str) -> None:
    shutil.rmtree(root, ignore_errors=True)
    parent = os.path.dirname(root)
    try:
        os.rmdir(parent)  # only when no other run is using it
    except OSError:
        pass
