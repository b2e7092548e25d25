"""Run plumbing shared by the workloads: host sizing, the Spark session,
the temp root, the host-contention sentinel, memory and statistics."""

from __future__ import annotations

import math
import os
import resource
import shutil
import statistics
import tempfile
import time

# Fixture builds per run (the first in a cold JVM, the second warm);
# setup_s adds their median to the session start. Each build of the
# catalog fixture costs 5-13 s, and a third did not fit the run budget.
SETUP_REPS = 2


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 8 GiB. The
    session's own default, 48g, can exceed the host's memory."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(8, total // 4 >> 30))}g"


class Host:
    """One run's session factory and its single temp root, which holds
    every staging, storage, catalog, lake and Spark scratch directory and
    is removed by ``close``."""

    def __init__(self, checkout: str, name: str):
        self.cpus = host_cpus()
        self.memory = driver_memory()
        self.tmp = os.path.join(checkout, ".perfbench_tmp", f"{name}-{os.getpid()}")
        os.makedirs(self.tmp)
        spark_local = os.path.join(self.tmp, "spark-local")
        os.makedirs(spark_local)
        # set before the JVM and the Python workers start, so both inherit
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = spark_local
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        tempfile.tempdir = None  # re-read TMPDIR
        self.spark = None
        self._n = 0
        self.get_spark_s = 0.0

    def path(self, name: str) -> str:
        self._n += 1
        p = os.path.join(self.tmp, f"{name}-{self._n}")
        os.makedirs(p)
        return p

    def start_session(self):
        """Start the tuned session (and the JVM behind it)."""
        from geospatial_data_lake_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cpus,
            driver_memory=self.memory,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": (
                    f"-Duser.timezone=UTC -Djava.io.tmpdir={self.tmp}"
                ),
                # keep every job of a traced run visible to the status tracker
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        return self.spark

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this driver process plus the JVM."""
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        pid = self.jvm_pid()
        if pid is not None:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm = int(line.split()[1]) / 1024.0
        return py + jvm

    def retained_mb(self) -> float:
        """Memory the run holds on to: this process's resident set plus
        the JVM heap still in use after a full collection."""
        with open("/proc/self/status") as fh:
            py = next(int(l.split()[1]) for l in fh if l.startswith("VmRSS:")) / 1024.0
        jvm = self.spark.sparkContext._jvm
        runtime = jvm.java.lang.Runtime.getRuntime()
        for _ in range(2):
            jvm.java.lang.System.gc()
        return py + (runtime.totalMemory() - runtime.freeMemory()) / 2**20

    def close(self) -> None:
        """Stop Spark, wait for the JVM (and the Python workers it owns)
        to exit, then remove the temp root."""
        from pyspark import SparkContext

        try:
            if self.spark is not None:
                self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except Exception:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)


def calibrate(spark, rounds: int = 5) -> float:
    """Host-contention probe: a small fixed-cost Spark job (a top-10 over
    a generated range) whose steady time is session and scheduling cost.
    A large drift between the start and the end of a run means the host
    changed, not the code. Returns the median of ``rounds`` timings."""
    df = spark.range(0, 200_000, numPartitions=4).orderBy("id", ascending=False).limit(10)
    df.collect()  # warm-up
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        df.collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


# -- statistics ----------------------------------------------------------------


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], p: int) -> float:
    """The p-th percentile (1..99), interpolated between samples; with
    fewer than two samples, the sample itself."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0
