"""Spark session lifecycle, Python-worker memory sampling and the host
record for one benchmark run.

Everything a run writes (Spark local dirs, event logs, temp files)
stays under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time


def local_cores() -> int:
    """``local[n]`` with n <= nproc, capped at 4 so runs on bigger hosts
    load the program the same way."""
    return max(1, min(4, os.cpu_count() or 1))


def prepare_env(root: str, work: str) -> None:
    """Process environment the JVM and its Python workers inherit: the
    checkout on PYTHONPATH (workers import the package from source),
    temp files and Spark's local dirs inside the work dir. Must run
    before the first session."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: temp files in the
    # work dir and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"])
    )


def start_session(work: str, cores: int, *, event_log: str | None = None):
    """A local SparkSession configured like the package's ``get_spark``
    (filter pushdown on, UTC, AQE), sized for a shared small host.
    Returns ``(spark, session_s)``; ``register`` is the caller's."""
    from pyspark.sql import SparkSession

    t0 = time.perf_counter()
    b = (
        SparkSession.builder.appName("perfbench")
        .master(f"local[{cores}]")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (
            b.config("spark.eventLog.dir", "file://" + event_log)
            .config("spark.eventLog.rolling.enabled", "false")
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Python worker memory (psutil is not available: read /proc directly)
# ---------------------------------------------------------------------------


def _children() -> dict[int, int]:
    """pid -> ppid for every process visible in /proc."""
    out: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows ") <state> "
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return (b"pyspark" in cmd and b"daemon" in cmd) or b"pyspark/worker" in cmd


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRSS:
    """Samples the peak RSS (VmHWM) of every Python worker descended from
    this process, every ``interval`` seconds, until ``stop()``. The
    metric is the largest single worker's peak, in MB."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "WorkerRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def sample(self) -> None:
        me = os.getpid()
        parents = _children()
        for pid in parents:
            p, seen = pid, 0
            while p not in (0, 1, me) and seen < 64:
                p, seen = parents.get(p, 0), seen + 1
            if p == me and _is_python_worker(pid):
                self.peak_kb = max(self.peak_kb, _peak_rss_kb(pid))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------


def drift_record(spark, reps: int = 2) -> dict:
    """bench.py's fresh-plan codegen calibration at this host's scale:
    a pure-JVM range sum, a fresh plan per repetition (re-collecting one
    DataFrame would time AQE stage reuse instead). A record of how fast
    the host ran, not a metric of the program."""
    def fresh():
        return spark.range(50_000_000).selectExpr("sum(id) AS s")

    fresh().collect()  # warm-up
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fresh().collect()
        ts.append(time.perf_counter() - t0)
    return {
        "workload": "spark.range(50M).sum codegen, fresh plan",
        "codegen_fresh_s": statistics.median(ts),
    }


def shutdown_jvm() -> None:
    """Stop any live SparkContext and the py4j gateway JVM, and wait for
    the JVM process to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
