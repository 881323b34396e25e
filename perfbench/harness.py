"""Shared parts of the benchmark: host record, Spark session, process
counters, summary statistics and in-memory spans.

Nothing here imports the package under test; workloads do that.
"""

from __future__ import annotations

import math
import os
import statistics
import subprocess
import sys
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# the reporting points the tail rule picks from, highest last
TAIL_POINTS = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


# ---------------------------------------------------------------- stats

def median(values):
    return statistics.median(values) if values else 0.0


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank of percentile ``pct`` among ``n`` samples
    (rounded first, so 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def tail_percentile(values, beyond: int = 10):
    """The highest reporting percentile with at least ``beyond`` samples
    above its rank, as ``(pct, value, n)``; ``None`` when the samples
    are too few for any (fewer than ``2 * beyond`` for p50)."""
    xs = sorted(values)
    best = None
    for pct in TAIL_POINTS:
        rank = _rank(pct, len(xs))
        if len(xs) - rank >= beyond:
            best = (pct, xs[rank - 1], len(xs))
    return best


# ----------------------------------------------------------------- host

def _meminfo_mb(key: str) -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith(key + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def spark_jvms_running() -> int:
    """Spark JVMs already running, matched on the java binary path so a
    shell whose command line merely mentions SparkSubmit is not one."""
    out = subprocess.run(["pgrep", "-fc", r"^\S*/java .*SparkSubmit"],
                         capture_output=True, text=True).stdout.strip()
    return int(out or 0)


def cpu_probe_s() -> float:
    """Median time of a fixed pure-Python loop: this host's single-core
    speed at the start of the run.  Shared hosts drift by 2x over
    minutes; the probe lets a reader tell host drift from a change."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i for i in range(1_000_000))
        times.append(time.perf_counter() - t0)
    return median(times)


def host_record() -> dict:
    return {
        "nproc": host_cpus(),
        "ram_mb": round(_meminfo_mb("MemTotal")),
        "load1_at_start": round(os.getloadavg()[0], 2),
        "preexisting_spark_jvms": spark_jvms_running(),
        "cpu_probe_s": cpu_probe_s(),
        "python": sys.version.split()[0],
    }


# -------------------------------------------------------------- session

def driver_memory_mb() -> int:
    """Driver heap: an eighth of physical RAM, at most 2 GiB.  The inputs
    are small; a heap far above their need only lets the collector's
    sizing decide the peak RSS.  The JVM's native memory, Python workers
    and the page cache of the shuffle files fit beside it."""
    return int(min(2048, _meminfo_mb("MemTotal") // 8))


def start_session(workdir: str, event_log: bool):
    """A ``local[nproc]`` session that keeps all its files (shuffle,
    warehouse, JVM temp, event log) under ``workdir``."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts (the launcher too) keeps its temp files
    # under ``workdir`` and writes no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+UseSerialGC")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable

    from pyspark.sql import SparkSession

    cpus = host_cpus()
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "wh"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log:
        logdir = os.path.join(workdir, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + logdir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM is gone."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def spark_versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version")}


# ------------------------------------------------------- process counters

class ProcCounters:
    """CPU seconds and peak RSS of the JVM plus the driver process, read
    from /proc."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._gc_beans = list(
            jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans())

    def cpu_s(self) -> float:
        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
        t = os.times()
        return jvm + t.user + t.system

    def peak_rss_mb(self) -> float:
        total = 0.0
        for pid in (self.jvm_pid, os.getpid()):
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) / 1024.0
        return total

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0


class Measured:
    """Wall and CPU seconds of one operation."""

    def __init__(self, counters: ProcCounters):
        self._c = counters
        self.wall_s = self.cpu_s = 0.0

    def __enter__(self):
        self._w0, self._c0 = time.perf_counter(), self._c.cpu_s()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.perf_counter() - self._w0
        self.cpu_s = self._c.cpu_s() - self._c0
        return False


# ---------------------------------------------------------------- spans

class Tracer:
    """Spans kept in memory and written out once at the end.  A span
    may name a layer; jobs Spark runs on this thread inside it carry the
    layer as their job group.  Layer spans do not nest."""

    def __init__(self, sc, run_id: str):
        self._sc = sc
        self.run_id = run_id
        self.spans: list = []
        self._open: list = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {"name": name, "layer": layer, "run_id": self.run_id,
               "parent": self._open[-1]["name"] if self._open else None,
               "start": time.time(), "end": None,
               "call_s": 0.0, "exec_s": 0.0, "rows_in": 0, "rows_out": 0}
        self._open.append(rec)
        if layer:
            self._sc.setJobGroup(layer, name)
        try:
            yield rec
        finally:
            if layer:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            rec["end"] = time.time()
            self._open.pop()
            self.spans.append(rec)

    def call(self, name: str, layer: str, fn, *args, rows_in: int = 0,
             **kwargs):
        """Run one layer entry point in its own span: ``call_s`` is the
        call itself (for a lazy DataFrame, plan building plus the layer's
        own driver actions), ``exec_s`` is forcing and caching its output
        so the next layer starts from a finished input."""
        from pyspark.sql import DataFrame

        with self.span(name, layer) as rec:
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            rec["call_s"] = time.perf_counter() - t0
            rec["rows_in"] = rows_in
            if isinstance(out, DataFrame):
                t0 = time.perf_counter()
                out = out.persist()
                rec["rows_out"] = out.count()
                rec["exec_s"] = time.perf_counter() - t0
        return out, rec
