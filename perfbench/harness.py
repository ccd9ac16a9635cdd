"""Session, process and memory plumbing shared by the workloads.

One driver process runs Spark at ``local[4]`` (four cores, one JVM, Python
workers forked by that JVM). Every file the benchmark or Spark writes lands
under the run's work directory inside the checkout.
"""

from __future__ import annotations

import gc
import os
import statistics
import threading
from pathlib import Path

import pandas as pd  # module level: pandas_udf resolves type hints in globals

CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "4g"
SPAN_PROPERTY = "perfbench.span"
# C1-only JIT. Measured on this 4-core host: with the default tiered JIT the
# first crawl of a fresh JVM took 49 s and the next 17.5 s, because C2
# compiles Spark's generated code on the same four cores; with C1 only, both
# took 28.5 s. A run has room for one crawl, so it needs the steady one.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1"


def median(values) -> float:
    return float(statistics.median(values))


def start_session(work: Path, *, event_log: Path | None = None, aqe: bool = False):
    """Start (or, after ``spark.stop()``, restart) the benchmark's session.

    The JVM-level settings (driver memory, temp dir) apply when the first
    session launches the JVM; later sessions of the same process reuse it."""
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", str(aqe).lower())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} {JVM_OPTIONS}")
        .config("spark.eventLog.enabled", str(event_log is not None).lower())
    )
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        b = b.config("spark.eventLog.dir", event_log.resolve().as_uri()).config(
            "spark.eventLog.compress", "false"
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def warm_python_workers(spark) -> None:
    """Start the Python worker pool and pay the heavy worker-side imports
    before anything is timed."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        import numpy  # noqa: F401
        import pyarrow.dataset  # noqa: F401

        import crawlspark.filters  # noqa: F401
        from crawlspark.functions import canon, robots  # noqa: F401
        from crawlspark.sources import synthweb  # noqa: F401

        return x

    (
        spark.range(0, CORES * 4, 1, CORES)
        .select(_warm("id"))
        .write.mode("overwrite")
        .format("noop")
        .save()
    )


def collect_garbage(spark) -> None:
    """Full GC in the JVM and the driver, so every timed repetition starts
    from the same heap state (a second opsuite pass otherwise cost up to 45%
    more CPU than the first, in G1 collections)."""
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def tree_size(path: Path) -> int:
    """Bytes of the files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(dirpath, n))
        for dirpath, _dirs, names in os.walk(path)
        for n in names
    )


class ProcessTree:
    """Resident memory and CPU time of this process and all its descendants
    (the JVM and the Python workers it forks), read from ``/proc``. With
    ``watch_peak`` a background thread samples the resident memory to keep
    its peak; it costs CPU time, so untraced runs leave it off."""

    def __init__(self, watch_peak: bool, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True) if watch_peak else None
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        if self._thread is not None:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def reset_peak(self) -> None:
        self.peak_bytes = self.sample()[0]

    def cpu_seconds(self) -> float:
        return self.sample()[1]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_bytes = max(self.peak_bytes, self.sample()[0])

    def sample(self) -> tuple[int, float]:
        """(resident bytes, CPU seconds including reaped children)."""
        parent: dict[int, int] = {}
        rss: dict[int, int] = {}
        cpu: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{entry}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            pid = int(entry)
            # the command name may hold spaces; fields resume after ")"
            fields = stat.rsplit(")", 1)[1].split()
            parent[pid] = int(fields[1])
            cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            rss[pid] = pages * self._page
        tree = {os.getpid()}
        grew = True
        while grew:
            grew = False
            for pid, ppid in parent.items():
                if ppid in tree and pid not in tree:
                    tree.add(pid)
                    grew = True
        return (
            sum(rss.get(p, 0) for p in tree),
            sum(cpu.get(p, 0) for p in tree) / self._tick,
        )
